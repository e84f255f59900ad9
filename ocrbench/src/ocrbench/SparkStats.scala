package ocrbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job, stage and task counters for one measured span of work, collected
  * by a listener the benchmark registers on the traced pass. */
final class SparkStats extends SparkListener {
  private var jobs, stages = 0
  private val taskRunMs = ArrayBuffer.empty[Long]
  private var cpuNs, inputBytes, recordsRead, shuffleWrite, spill, outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      inputBytes += m.inputMetrics.bytesRead
      recordsRead += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** The counters of `body`, with its wall time and the JVM's GC time.
    * GC time comes from the collector MXBeans: in local mode every task's
    * `jvmGCTime` is the whole JVM's, so summing it over concurrent tasks
    * would count one pause up to four times. */
  def measure[T](spark: SparkSession, cores: Int)(body: => T): (T, SparkStats.Snapshot) = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      jobs = 0; stages = 0; taskRunMs.clear()
      cpuNs = 0; inputBytes = 0; recordsRead = 0; shuffleWrite = 0; spill = 0; outputBytes = 0
    }
    val gc0 = SparkStats.gcMs()
    val t0 = System.nanoTime()
    val out = body
    val wallNs = System.nanoTime() - t0
    val gcMs = SparkStats.gcMs() - gc0
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val runs = taskRunMs.toSeq.sorted
      val median = if (runs.isEmpty) 0.0 else Stats.median(runs.map(_.toDouble))
      val runSum = runs.sum.toDouble
      (out, SparkStats.Snapshot(
        wallS = wallNs / 1e9, jobs = jobs, stages = stages, tasks = runs.length,
        gcMs = gcMs, cpuMs = cpuNs / 1e6, inputBytes = inputBytes,
        recordsRead = recordsRead, shuffleWriteBytes = shuffleWrite,
        spillBytes = spill, outputBytes = outputBytes,
        idleCoreShare = 1.0 - runSum / (cores * wallNs / 1e6),
        taskMaxOverMedian = if (median > 0) runs.last / median else 0.0))
    }
  }
}

object SparkStats {
  final case class Snapshot(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      gcMs: Long, cpuMs: Double, inputBytes: Long, recordsRead: Long,
      shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long,
      idleCoreShare: Double, taskMaxOverMedian: Double)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
