package graft.tools

import org.apache.spark.sql.SparkSession

/** Local iteration aid: print a gate query's formatted physical plan
  * (post-AQE where applicable: executes the query first so AQE's final
  * plan is the one shown).
  *
  * usage: runMain graft.tools.ExplainQuery <queryName> [sfDir]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: ExplainQuery <query> [sfDir]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.length > 2 && args(2) == "formatted") {
      // plans/rNN deliverable form: explain("formatted") without running
      // the query's own actions. Caveat (ADVICE r17): above-gate plans
      // are not fully execution-free — gatedCensusCumsumMulti's eager
      // localCheckpoint() runs Spark jobs at DataFrame-CONSTRUCTION time
      // (e.g. with graft.fanout.ckpt.bytes lowered), before explainString
      // is reached. The committed gate-scale deliverables keep the lazy
      // branch, where this mode truly does not execute.
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } else {
      df.count()
      println("=== executed plan (final, post-AQE) ===")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
