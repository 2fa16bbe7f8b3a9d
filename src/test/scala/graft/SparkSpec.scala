package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, UTC). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** RDD ids of the snapshots (`LogicalRDD` leaves) `df`'s plan reads. */
  def snapshotIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Runs `op` and returns its result with the symmetric difference
    * between the RDDs it left persisted and `held(result)` — empty when
    * `op` holds exactly what it documents. All suites share one
    * SparkContext and run in parallel, so another suite may persist inside
    * the window: a real leak shows in each of three windows, cross-suite
    * pollution is transient, so the first clean window wins.
    */
  def persistResidue[T](op: => T)(held: T => Set[Int]): (T, Set[Int]) = {
    def window(): (T, Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = op
      val delta = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      val h = held(out)
      (out, (delta -- h) ++ (h -- delta))
    }
    val windows = LazyList.fill(3)(window())
    windows.find(_._2.isEmpty).getOrElse(windows.last)
  }
}
