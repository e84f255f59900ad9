package org.apache.spark

/** Drains Spark's listener bus so a listener has seen every event of the
  * jobs that just finished. The bus is `private[spark]`, hence the package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
