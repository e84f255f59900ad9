package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: run one SparkEntry query by name and show the result.
  * `runMain graft.QueryRun <name> [sfDir]`, on `SPARK_GRAFT_CPUS` cores
  * (default 4) like `Verify`. */
object QueryRun {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.show(100, truncate = false)
    println(f"[queryrun] $name rows=${df.count()} sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }
}
