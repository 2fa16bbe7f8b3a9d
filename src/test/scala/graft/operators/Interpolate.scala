package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window-algebra fill oracle (reference O13: src/etl/transform/gaps.py
  * :150-169): forward-fill and pandas-style linear positional interpolation
  * with `limit_direction="both"` (leading nulls take the first observed
  * value, trailing nulls the last).
  *
  * An independent implementation of [[FastFill]]'s arithmetic for the
  * property specs: everything is composed window expressions partitioned
  * by the given keys (an empty list is one global ordered window).
  */
object Interpolate {

  private def base(partitionCols: Seq[String], orderCol: String): WindowSpec =
    if (partitionCols.isEmpty) Window.orderBy(orderCol)
    else Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCol)

  /** Forward-fill `cols` in order of `orderCol`. */
  def ffill(df: DataFrame, cols: Seq[String], orderCol: String,
            partitionCols: Seq[String] = Nil): DataFrame = {
    val w = base(partitionCols, orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumns(
      cols.map(c => c -> last(col(c), ignoreNulls = true).over(w)).toMap)
  }

  /** Linear interpolation over row position within each null run, endpoints
    * = nearest non-null values; leading runs backfill, trailing runs
    * forward-fill (limit_direction="both").
    *
    * Look-AHEAD values are computed as running `last(ignoreNulls)` over a
    * DESCENDING sort, never as `first` over a (currentRow,
    * unboundedFollowing) frame: Spark's UnboundedFollowing window frame
    * re-scans the remainder of the partition per row — O(n²), which turns a
    * 600k-row single-symbol series into an effective hang. Two linear
    * window passes (asc + desc) replace it.
    */
  def linear(df: DataFrame, cols: Seq[String], orderCol: String,
             partitionCols: Seq[String] = Nil): DataFrame = {
    val wOrd = base(partitionCols, orderCol)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNextRun = (if (partitionCols.isEmpty) Window.orderBy(col(orderCol).desc)
      else Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol).desc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rn = row_number().over(wOrd)

    val withRn = df.withColumn("_ipos", rn)
    val filled = cols.map { c =>
      val v = col(c)
      val vrn = when(v.isNotNull, col("_ipos"))
      val pv = last(v, ignoreNulls = true).over(wPrev)
      val nv = last(v, ignoreNulls = true).over(wNextRun)
      val prn = last(vrn, ignoreNulls = true).over(wPrev)
      val nrn = last(vrn, ignoreNulls = true).over(wNextRun)
      val interp: Column =
        when(v.isNotNull, v)
          .when(pv.isNull, nv)
          .when(nv.isNull, pv)
          .otherwise(pv + (nv - pv) * (col("_ipos") - prn) / (nrn - prn))
      c -> interp
    }.toMap
    withRn.withColumns(filled).drop("_ipos")
  }
}
