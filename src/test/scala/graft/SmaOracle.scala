package graft

import scala.collection.immutable.ListMap

import graft.core.Json
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent oracle for the SMA summaries of
  * `Reporting.dataQualityReport`: the declarative per-series window form
  * (rowsBetween trailing frame, min_periods=1 through `avg`'s null
  * skipping) aggregated in one pass. Layout-agnostic — any partitioning
  * gives the same numbers.
  */
object SmaOracle {

  def summaries(df: DataFrame, smaWindows: Seq[Int],
                partitionCols: Seq[String]): ListMap[String, Any] = {
    val ts = graft.operators.Normalize.TsCol
    val base =
      if (partitionCols.isEmpty) Window.orderBy(ts)
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(ts)
    val smaCols = smaWindows.map { w =>
      s"_sma_$w" -> avg(col("CLOSE")).over(base.rowsBetween(-(w - 1), 0))
    }
    val withSma = df.withColumns(smaCols.toMap)
    val smaAggs = smaWindows.flatMap { w =>
      val c = col(s"_sma_$w")
      Seq(
        max_by(c, when(c.isNotNull, col(ts))).as(s"_last_$w"),
        sum(when(c.isNull, 1).otherwise(0)).as(s"_nans_$w"),
        min(c).as(s"_min_$w"),
        max(c).as(s"_max_$w"))
    }
    val sr = withSma.agg(smaAggs.head, smaAggs.tail: _*).collect()(0)
    def sopt(n: String): Any =
      if (sr.isNullAt(sr.fieldIndex(n))) null else sr.getAs[Double](n)
    ListMap(smaWindows.map { w =>
      s"SMA_$w" -> Json.obj(
        "last" -> sopt(s"_last_$w"),
        "nan_count" -> sr.getAs[Long](s"_nans_$w"),
        "min" -> sopt(s"_min_$w"),
        "max" -> sopt(s"_max_$w"))
    }: _*)
  }
}
