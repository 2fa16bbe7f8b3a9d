package graft.tools

import org.apache.spark.sql.SparkSession

/** Local iteration aid: time one gate query's steady state the way Bench
  * does (median of N runs of `.count()` on a warm session).
  *
  * usage: runMain graft.tools.TimeQuery <queryName> [sfDir] [runs]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: TimeQuery <query> [sfDir] [runs]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name run $i: $sec%.3f s ($n rows)")
      sec
    }
    println(f"[time] $name median: ${times.sorted.apply(runs / 2)}%.3f s")
    spark.stop()
  }
}
