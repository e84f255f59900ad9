package ocrbench

/** Host thread-scaling probes, 1 vs 4 threads, taken beside each scaling
  * pair so a `scaling_eff_1_to_4` drop can be read as host contention or
  * code. Each probe reports (4-thread rate) / (4 × 1-thread rate): 1.0 means
  * the host gave four threads four times the work.
  *
  *  - ALU: a register-only LCG hash loop, no memory traffic.
  *  - memory bandwidth: a streaming sum over a buffer far beyond the
  *    last-level cache, so the rate is DRAM bandwidth. */
object Probes {

  private def inThreads(threads: Int)(body: Int => Long): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map(t => new Thread(() => { sink.addAndGet(body(t)); () }))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink.get() == 42L) println(sink.get()) // keeps the work live
    sec
  }

  def aluScaling(): Double = {
    val perThread = 60_000_000L
    def work(seed: Int): Long = {
      var h = seed.toLong; var i = 0L
      while (i < perThread) {
        h = h * 6364136223846793005L + 1442695040888963407L
        h ^= h >>> 33
        i += 1
      }
      h
    }
    inThreads(1)(work) // JIT warm-up
    val one = inThreads(1)(work)
    val four = inThreads(4)(work)
    one / four // equal work per thread: rate ratio / 4 = time ratio
  }

  def memBandwidthScaling(): Double = {
    val words = 16 * 1024 * 1024 // 128 MB
    val buf = new Array[Long](words)
    var i = 0
    while (i < words) { buf(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    val sweeps = 4
    def scan(threads: Int)(t: Int): Long = {
      val per = words / threads
      var s = 0L; var r = 0
      while (r < sweeps) {
        var k = t * per
        val end = k + per
        while (k < end) { s += buf(k); k += 1 }
        r += 1
      }
      s
    }
    inThreads(1)(scan(1)) // JIT warm-up and page faults
    val one = inThreads(1)(scan(1))
    val four = inThreads(4)(scan(4))
    // 4 threads move the same bytes as 1; rate ratio = one / four
    (one / four) / 4.0
  }
}
