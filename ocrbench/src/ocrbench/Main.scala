package ocrbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.extract.{DocResult, Pipeline}
import graft.ops.Checkpoint

/** One benchmark run: generate the seeded input, set up, warm up while
  * checking every output against `CorpusGen.expectedText`, then either time
  * the workload with its task threads on four CPUs and on one (`--trace 0`)
  * or take the traced per-layer run (`--trace 1`). Prints one JSON line: the
  * run record with its metrics. Started by `run.py`, which pins this JVM to
  * four CPUs and runs Spark as local[4]. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, results: Path, cpus: Seq[Int], launchNs: Long)

  /** Per workload: docs, docs per file, untimed warm-up passes after the
    * check pass, and the fewest 4-CPU/1-CPU pass pairs a run times. One
    * file is one task. `contract_batch` has five tasks per core, so a core
    * that the host slows takes fewer of them instead of holding up the pass.
    * Files hold a multiple of 100 docs, so every file has the same payload
    * mix. */
  final case class Spec(docs: Long, perFile: Int, warmPasses: Int, minPairs: Int)
  val Specs: Map[String, Spec] = Map(
    "contract_batch" -> Spec(4000, 200, warmPasses = 16, minPairs = 4),
    "checkpoint_resume" -> Spec(1200, 300, warmPasses = 1, minPairs = 3))
  val ReplayDocs = 2000
  val OverheadPairs = 6
  val Buckets = 16
  val QuarterBuckets: Seq[Int] = Seq(0, 4, 8, 12)
  val Statuses = Seq("ok", "empty", "error", "unsupported", "oversize")
  val Formats = Seq("html", "pdf", "empty", "png", "jpg", "gif", "unknown")

  def main(argv: Array[String]): Unit = {
    val c = parseArgs(argv)
    require(Specs.contains(c.workload), s"unknown workload ${c.workload}")
    val record = run(c)
    println(org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
  }

  private def parseArgs(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("results")).toAbsolutePath,
      m("cpus").split(',').map(_.toInt).toSeq, m("launch-epoch-ns").toLong)
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ocrbench")
      // one input file (at most ~0.8 MB) is one task
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Native ids of Spark's executor task threads (the OS name is the
    * 15-char prefix of "Executor task launch worker ..."). */
  def taskThreads(): Seq[String] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.toSeq.flatMap { t =>
      try {
        val comm = new String(Files.readAllBytes(t.resolve("comm"))).trim
        if (comm.startsWith("Executor task")) Some(t.getFileName.toString) else None
      } catch { case _: java.io.IOException => None } // thread exited
    } finally tasks.close()
  }

  /** Pins the executor task threads to `cpus`; returns how many. */
  def pinTasks(cpus: Seq[Int]): Int = {
    val tids = taskThreads()
    tids.foreach { tid =>
      val p = new ProcessBuilder("taskset", "-p", "-c", cpus.mkString(","), tid)
        .redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      p.waitFor() // non-zero only when the thread has exited meanwhile
    }
    tids.length
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024 }
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  /** (steal, total) jiffies over all CPUs, from /proc/stat. Steal is time
    * the hypervisor ran something else on this machine's CPUs. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum) // guest time is already inside user time
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally paths.close()
  }

  // ------------------------------------------------------------------ input

  final case class Input(dir: Path, start: Long, docs: Long, payloadBytes: Long,
      parquetBytes: Long, files: Int)

  /** Window start for a seed: seed × 10^6, seeds taken mod 1000. A multiple
    * of 100, so every seed gets the same per-100 payload mix. The wrap keeps
    * i below 10^9: `CorpusGen.tsOf(i)` leaves Spark's microsecond timestamp
    * range (long overflow) from i ≈ 2.4 × 10^11 on. */
  def windowStart(seed: Long): Long = Math.floorMod(seed, 1000L) * 1000000L

  /** Rows `CorpusGen.row(i)` for i in [windowStart(seed), + docs), `perFile`
    * per file. */
  def generate(spark: SparkSession, seed: Long, docs: Long, perFile: Int, dir: Path): Input = {
    import spark.implicits._
    val start = windowStart(seed)
    val payload = spark.sparkContext.longAccumulator("payload_bytes")
    spark.range(start, start + docs, 1, (docs / perFile).toInt)
      .map { i => val r = CorpusGen.row(i); payload.add(r.html.length); r }
      .write.parquet(dir.toString)
    val files = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    Input(dir, start, docs, payload.sum, files.map(Files.size).sum, files.length)
  }

  def docIndex(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  // ------------------------------------------------------- correctness check

  /** The by-construction contract: text equals `expectedText(i)` where that
    * is defined; rows without a contract must carry a known status. */
  def contractHolds(url: String, status: String, text: String): Boolean =
    CorpusGen.expectedText(docIndex(url)) match {
      case Some(expected) => expected == text
      case None => Set("ok", "empty", "error", "unsupported").contains(status)
    }

  /** One checked output row: url, status, format (null where the output
    * does not carry them) and whether the row honours the contract. */
  type Verdict = (String, String, String, Boolean)

  /** Counts of one check: attempted, failed, per status and format, and the
    * first failing urls. */
  final case class Check(counts: Map[String, Long], failures: Seq[String]) {
    def attempted: Long = counts.getOrElse("attempted", 0L)
    def failed: Long = counts.getOrElse("failed", 0L)
    def failAll(docs: Long, why: String): Check =
      Check(counts.updated("failed", docs), why +: failures)
  }

  def tally(rows: Array[Verdict]): Check = {
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    rows.foreach { case (_, status, format, ok) =>
      counts("attempted") += 1
      if (status != null) counts(s"status.$status") += 1
      if (format != null) counts(s"format.$format") += 1
      if (!ok) counts("failed") += 1
    }
    Check(counts.toMap, rows.collect { case (url, _, _, false) => url }.sorted.take(10).toSeq)
  }

  private def verdicts(rows: DataFrame, ok: (String, String, String) => Boolean): Array[Verdict] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("url"), col("status"), col("format"), col("fullText"))
      .as[(String, String, String, String)]
      .map { case (u, s, f, t) => (u, s, f, ok(u, s, t)) }
      .collect()
  }

  def checkContract(results: Dataset[DocResult]): Check =
    tally(verdicts(results.toDF(), contractHolds))

  /** Committed rows equal input rows by url, each once, and their text
    * honours the contract. */
  def checkCommitted(spark: SparkSession, outDir: Path, in: Input): Check = {
    val rows = verdicts(Checkpoint.output(spark, outDir.toString), contractHolds)
    val c = tally(rows)
    val urls = rows.map(r => docIndex(r._1)).toSet
    val expected = in.start until in.start + in.docs
    if (rows.length == in.docs && urls.size == in.docs && expected.forall(urls)) c
    else c.failAll(in.docs,
      s"committed ${rows.length} rows with ${urls.size} distinct urls for ${in.docs} input docs")
  }

  // -------------------------------------------------------------- workloads

  /** Checkpoint cycle: full commit, invalidate a fixed quarter of the
    * buckets and resume, then resume with nothing left to do. Phase walls
    * in seconds, and the three reports. */
  final case class Cycle(fullS: Double, resumeS: Double, noopS: Double,
      reports: Seq[Checkpoint.ResumeReport]) {
    def bucketsOk: Boolean = reports.map(r => (r.skippedBuckets, r.processedBuckets)) ==
      Seq((0, Buckets), (Buckets - QuarterBuckets.length, QuarterBuckets.length), (Buckets, 0))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def cycle(in: DataFrame, dir: Path, fullOnly: Boolean,
      around: (String, () => Checkpoint.ResumeReport) => Checkpoint.ResumeReport =
        (_, f) => f()): Cycle = {
    deleteTree(dir)
    def phase(name: String) = time(around(name, () =>
      Checkpoint.runResumable(in, dir.toString, Buckets, name)))
    val (full, fullS) = phase("full")
    if (fullOnly) return Cycle(fullS, 0, 0, Seq(full))
    QuarterBuckets.foreach(Checkpoint.invalidateBucket(dir.toString, _))
    val (resume, resumeS) = phase("resume")
    val (noopRun, noopS) = phase("noop")
    Cycle(fullS, resumeS, noopS, Seq(full, resume, noopRun))
  }

  /** A workload's timed operation. `pass` returns its phase walls in
    * seconds; "pass" is the phase the throughput metrics use. */
  trait Op {
    def pass(fullOnly: Boolean = false): Map[String, Double]
  }

  /** A query planned once: each pass re-runs its physical plan, so every
    * pass reads the input and computes every output column, while query
    * planning and code generation stay out of the timed region. */
  final class PlannedQuery(df: DataFrame, docs: Long) extends Op {
    private val rows = df.queryExecution.toRdd
    def pass(fullOnly: Boolean): Map[String, Double] = {
      val (n, s) = time(rows.count())
      require(n == docs, s"pass produced $n rows for $docs docs")
      Map("pass" -> s)
    }
  }

  final class CheckpointCycle(in: DataFrame, dir: Path) extends Op {
    def pass(fullOnly: Boolean): Map[String, Double] = {
      val cy = cycle(in, dir, fullOnly)
      require(fullOnly || cy.bucketsOk, s"checkpoint bucket counts ${cy.reports}")
      Map("pass" -> cy.fullS) ++
        (if (fullOnly) Map.empty else Map("resume" -> cy.resumeS, "noop" -> cy.noopS))
    }
  }

  def op(workload: String, in: DataFrame, docs: Long, work: Path): Op = workload match {
    case "contract_batch" =>
      new PlannedQuery(Pipeline.contractView(Pipeline.run(in, analysis = false)), docs)
    case "checkpoint_resume" => new CheckpointCycle(in, work.resolve("checkpoint"))
  }

  /** One untimed pass of the workload that also checks every output. */
  def checkPass(workload: String, spark: SparkSession, in: DataFrame, input: Input,
      work: Path): Check = workload match {
    case "contract_batch" => checkContract(Pipeline.run(in, analysis = false))
    case "checkpoint_resume" =>
      val cy = cycle(in, work.resolve("checkpoint"), fullOnly = false)
      val c = checkCommitted(spark, work.resolve("checkpoint"), input)
      if (cy.bucketsOk) c else c.failAll(input.docs, s"bucket counts ${cy.reports}")
  }

  /** One pass, with the JVM's GC and JIT-compile seconds and the host's steal
    * share during it. */
  def measured(body: => Map[String, Double]): Map[String, Double] = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val gc0 = SparkStats.gcMs()
    val jit0 = jit.getTotalCompilationTime
    val (steal0, ticks0) = cpuTicks()
    val phases = body
    val (steal1, ticks1) = cpuTicks()
    phases + ("gc" -> (SparkStats.gcMs() - gc0) / 1e3) +
      ("jit" -> (jit.getTotalCompilationTime - jit0) / 1e3) +
      ("steal" -> (steal1 - steal0).toDouble / (ticks1 - ticks0).max(1))
  }

  /** Alternating passes with the executor task threads on four CPUs and
    * on one, until `budgetS` has elapsed and at least `minPairs` ran, so
    * both legs see the same JIT and host state. Only the task threads are
    * pinned: query planning, JIT and GC threads keep all four CPUs, as an
    * executor core count does not bound them either. */
  def pairedPasses(budgetS: Double, minPairs: Int, cpus: Seq[Int], op: Op)
      : Seq[(Map[String, Double], Map[String, Double])] = {
    val out = mutable.ArrayBuffer.empty[(Map[String, Double], Map[String, Double])]
    val t0 = System.nanoTime()
    try {
      while (out.length < minPairs || (System.nanoTime() - t0) / 1e9 < budgetS) {
        pinTasks(cpus)
        val four = measured(op.pass())
        val pinned = pinTasks(cpus.take(1))
        val one = measured(op.pass(fullOnly = true))
        // a task thread started during the 1-CPU pass escaped the pin: drop the pair
        if (taskThreads().length == pinned) out += ((four, one))
      }
    } finally pinTasks(cpus)
    out.toSeq
  }

  private def phaseMedians(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.head.keys.map(k => k -> Stats.median(passes.map(_(k)))).toMap

  // -------------------------------------------------------------------- run

  def run(c: Conf): mutable.LinkedHashMap[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "seconds" -> c.seconds, "cpus" -> c.cpus,
      "java" -> System.getProperty("java.version"))
    deleteTree(c.work)
    Files.createDirectories(c.work)

    val tSession = epochNs()
    val spark = session(c.work)
    val tGen = epochNs()
    val spec = Specs(c.workload)
    val input = generate(spark, c.seed, spec.docs, spec.perFile, c.work.resolve("input"))
    rec("input") = mutable.LinkedHashMap("window_start" -> input.start, "docs" -> input.docs,
      "payload_bytes" -> input.payloadBytes, "parquet_bytes" -> input.parquetBytes,
      "files" -> input.files)
    val tWarm = epochNs()
    val in = spark.read.parquet(input.dir.toString)
    val check = checkPass(c.workload, spark, in, input, c.work)
    val work = op(c.workload, in, input.docs, c.work)
    val warm = (1 to spec.warmPasses).map(_ => work.pass())
    val tFirst = epochNs()
    rec("setup_phases_s") = mutable.LinkedHashMap(
      "jvm_start" -> (tSession - c.launchNs) / 1e9, "session" -> (tGen - tSession) / 1e9,
      "generate" -> (tWarm - tGen) / 1e9, "warm_up" -> (tFirst - tWarm) / 1e9)
    rec("warm_passes") = warm
    rec("check") = mutable.LinkedHashMap("counts" -> check.counts.toSeq.sorted.toMap,
      "failures" -> check.failures)
    val setupS = (tFirst - c.launchNs) / 1e9
    val analysis = c.workload != "contract_batch"

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    if (!c.trace) {
      val pairs = pairedPasses(c.seconds, spec.minPairs, c.cpus, work)
      val (p4, p1) = (pairs.map(_._1), pairs.map(_._2))
      val host = mutable.LinkedHashMap(
        "alu_scaling_1_to_4" -> Probes.aluScaling(),
        "mem_bw_scaling_1_to_4" -> Probes.memBandwidthScaling())
      spark.stop()
      val m4 = phaseMedians(p4)
      rec("passes_4cpu_s") = p4
      rec("passes_1cpu_s") = p1
      rec("host") = host
      metrics("setup_s") = (setupS, "s")
      metrics("docs_per_s") = (input.docs / m4("pass"), "docs/s")
      metrics("mb_per_s") = (input.payloadBytes / 1e6 / m4("pass"), "MB/s")
      metrics("scaling_eff_1_to_4") =
        (Stats.median(pairs.map { case (f, o) => o("pass") / (4 * f("pass")) }), "ratio")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      if (c.workload == "checkpoint_resume") {
        rec("resume_s") = m4("resume")
        rec("resume_noop_s") = m4("noop")
      }
    } else {
      val stats = new SparkStats
      // tracing overhead: pairs of passes (the full commit for
      // checkpoint_resume) without and with the listener registered; every
      // other pair runs the listened pass first, so the JIT's warm-up
      // trend favours neither. Both start on a drained listener bus.
      def plain() = {
        BenchBus.drain(spark.sparkContext)
        work.pass(fullOnly = true)("pass")
      }
      def listened() = {
        spark.sparkContext.addSparkListener(stats)
        val (phases, _) = stats.measure(spark, 4)(work.pass(fullOnly = true))
        spark.sparkContext.removeSparkListener(stats)
        phases("pass")
      }
      val overheadPairs = (0 until OverheadPairs).map { i =>
        if (i % 2 == 0) { val p = plain(); (p, listened()) }
        else { val l = listened(); (plain(), l) }
      }
      spark.sparkContext.addSparkListener(stats)
      val snaps = mutable.LinkedHashMap.empty[String, SparkStats.Snapshot]
      val traced = if (c.workload == "checkpoint_resume") {
        val cy = cycle(in, c.work.resolve("checkpoint"), fullOnly = false, around = (name, f) => {
          val (r, snap) = stats.measure(spark, 4)(f())
          snaps(name) = snap
          r
        })
        require(cy.bucketsOk, s"checkpoint bucket counts ${cy.reports}")
        val resumed = cy.reports(1)
        val recomputed = resumed.lineage.map(_.docCount).sum.toDouble
        metrics("checkpoint.rows_scanned_per_recomputed_doc") =
          (snaps("resume").recordsRead / recomputed.max(1), "ratio")
        metrics("checkpoint.jobs") = (snaps("resume").jobs.toDouble, "count")
        metrics("checkpoint.output_bytes_per_doc") = (snaps("full").outputBytes.toDouble / input.docs, "B")
        metrics("checkpoint.buckets_skipped") = (resumed.skippedBuckets.toDouble, "count")
        metrics("checkpoint.buckets_processed") = (resumed.processedBuckets.toDouble, "count")
        metrics("checkpoint.resume_s") = (cy.resumeS, "s")
        metrics("checkpoint.resume_noop_s") = (cy.noopS, "s")
        snaps("full")
      } else {
        val (_, snap) = stats.measure(spark, 4)(work.pass())
        // no commit path in this workload
        Seq("rows_scanned_per_recomputed_doc" -> "ratio", "jobs" -> "count",
          "output_bytes_per_doc" -> "B", "buckets_skipped" -> "count",
          "buckets_processed" -> "count", "resume_s" -> "s", "resume_noop_s" -> "s")
          .foreach { case (k, unit) => metrics(s"checkpoint.$k") = (0.0, unit) }
        snap
      }
      spark.sparkContext.removeSparkListener(stats)
      metrics("spark.gc_ms") = (traced.gcMs.toDouble, "ms")
      metrics("spark.idle_core_share") = (traced.idleCoreShare, "ratio")
      metrics("spark.task_max_over_median") = (traced.taskMaxOverMedian, "ratio")
      metrics("spark.tasks") = (traced.tasks.toDouble, "count")
      metrics("spark.stages") = (traced.stages.toDouble, "count")
      metrics("spark.jobs") = (traced.jobs.toDouble, "count")
      metrics("spark.executor_cpu_ms") = (traced.cpuMs, "ms")
      metrics("spark.input_bytes") = (traced.inputBytes.toDouble, "B")
      metrics("spark.records_read") = (traced.recordsRead.toDouble, "count")
      metrics("spark.shuffle_write_bytes") = (traced.shuffleWriteBytes.toDouble, "B")
      metrics("spark.spill_bytes") = (traced.spillBytes.toDouble, "B")
      metrics("trace.overhead_share") =
        (Stats.median(overheadPairs.map { case (plain, listened) => (listened - plain) / plain }), "ratio")
      rec("overhead_pairs_s") = overheadPairs.map { case (p, l) => Seq(p, l) }
      rec("spark_snapshots") = snaps

      metrics("host.alu_scaling_1_to_4") = (Probes.aluScaling(), "ratio")
      metrics("host.mem_bw_scaling_1_to_4") = (Probes.memBandwidthScaling(), "ratio")

      // status and format counts over the whole input
      val counts =
        if (c.workload == "checkpoint_resume")
          checkCommitted(spark, c.work.resolve("checkpoint"), input).counts
        else check.counts
      Statuses.foreach(s => metrics(s"extract.docs_by_status.$s") = (counts.getOrElse(s"status.$s", 0L).toDouble, "count"))
      Formats.foreach(f => metrics(s"extract.docs_by_format.$f") = (counts.getOrElse(s"format.$f", 0L).toDouble, "count"))

      // single-threaded replay: warm up, then trace
      val rows = (input.start until input.start + input.docs.min(ReplayDocs)).map(CorpusGen.row)
      Trace.replay(rows.take(rows.length / 2), analysis)
      val replay = Trace.replay(rows, analysis)
      metrics ++= Trace.layerMetrics(replay)
      val spansFile = c.results.resolve("spans")
        .resolve(s"${c.workload}-seed${c.seed}-${System.currentTimeMillis()}.tsv.gz")
      replay.spans.writeGz(spansFile, Trace.Names)
      rec("spans_file") = spansFile.toString
      rec("replay_docs") = replay.counts.docs
      spark.stop()
    }

    rec("setup_s") = setupS
    rec("attempted") = check.attempted
    rec("failed") = check.failed
    rec("failed_share") = check.failed.toDouble / check.attempted.max(1)
    rec("metrics") = metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }
    deleteTree(c.work)
    rec
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
