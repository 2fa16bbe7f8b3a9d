package graft.tools

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
    Harness.run() { h =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to runs).map { i =>
        val (n, sec) = Harness.timed(fn(h.spark, sfDir).count())
        println(f"[time] $name run $i: $sec%.3f s ($n rows)")
        sec
      }
      println(f"[time] $name median: ${Harness.median(times)}%.3f s")
    }
  }
}
