package graft.operators

import graft.core.Rules
import graft.sources.Readers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** `groupBy` resampling oracle: an independent implementation of
  * [[Resample.resampleOhlc]]'s semantics as one hash aggregate on
  * (series, bucket) with `min_by`/`max_by` first/last, an optional
  * bucket-grid join for empty buckets and a global `orderBy`. Any input
  * layout; output columns and order as [[Resample]]'s.
  */
object ResampleOracle {

  val TsCol: String = Normalize.TsCol

  /** Left-closed, left-labeled bucket start for the rule. */
  def bucket(ts: Column, rule: String): Column =
    timestamp_micros(
      (unix_micros(ts) - pmod(unix_micros(ts), lit(Rules.stepMicros(rule)))))

  def resampleOhlc(df: DataFrame, rule: String,
                   dropIncomplete: Boolean = true,
                   extraNumericPolicy: String = "mean",
                   emitEmpty: Boolean = false,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    val cols = df.columns.toSeq
    val ts = col(TsCol)

    def firstBy(c: String): Column =
      min_by(col(c), when(col(c).isNotNull, ts))
    def lastBy(c: String): Column =
      max_by(col(c), when(col(c).isNotNull, ts))

    var aggs = Vector.empty[(String, Column)]
    if (cols.contains("OPEN")) aggs :+= "OPEN" -> firstBy("OPEN")
    if (cols.contains("HIGH")) aggs :+= "HIGH" -> max(col("HIGH"))
    if (cols.contains("LOW")) aggs :+= "LOW" -> min(col("LOW"))
    if (cols.contains("CLOSE")) aggs :+= "CLOSE" -> lastBy("CLOSE")
    for (v <- Seq("VOLUME", "TICKVOL", "VOL") if cols.contains(v))
      aggs :+= v -> coalesce(sum(col(v)), lit(0.0))
    if (cols.contains("SYMBOL") && !partitionCols.contains("SYMBOL"))
      aggs :+= "SYMBOL" -> lastBy("SYMBOL")

    val mapped = aggs.map(_._1).toSet ++ partitionCols +
      TsCol + Readers.FileOrderCol
    val extras = df.schema.fields
      .filter(f => !mapped.contains(f.name))
      .filter(_.dataType.isInstanceOf[NumericType])
      .map(_.name).toSeq
    for (c <- extras)
      aggs :+= c -> (extraNumericPolicy match {
        case "sum" => coalesce(sum(col(c)), lit(0.0))
        case _     => avg(col(c))
      })

    val keyCols = partitionCols.map(col) :+ bucket(ts, rule).as(TsCol)
    val agged = df
      .filter(ts.isNotNull)
      .groupBy(keyCols: _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)

    val withEmpty =
      if (!emitEmpty) agged
      else {
        // bucket grid between each series' min/max bucket; empty buckets
        // surface with null OHLC and 0.0 sums (pandas resample shape)
        val grid = expectedGrid(
          df.filter(ts.isNotNull)
            .select((partitionCols.map(col) :+ bucket(ts, rule).as(TsCol)): _*),
          rule, partitionCols)
        val sumCols = (Seq("VOLUME", "TICKVOL", "VOL").filter(cols.contains) ++
          (if (extraNumericPolicy == "sum") extras else Nil)).toSet
        val joined = grid.join(agged, partitionCols :+ TsCol, "left")
        joined.withColumns(
          sumCols.map(c => c -> coalesce(col(c), lit(0.0))).toMap)
      }

    val dropped =
      if (dropIncomplete && cols.contains("CLOSE"))
        withEmpty.filter(col("CLOSE").isNotNull)
      else withEmpty

    dropped
      .select((Seq(TsCol) ++ aggs.map(_._1) ++ partitionCols).map(col): _*)
      .orderBy((partitionCols :+ TsCol).map(col): _*)
  }

  /** Dense grid between each series' min/max stamp (reference O11). */
  def expectedGrid(df: DataFrame, rule: String,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    val spans =
      if (partitionCols.isEmpty) df.agg(min(col(TsCol)).as("_t0"), max(col(TsCol)).as("_t1"))
      else df.groupBy(partitionCols.map(col): _*)
        .agg(min(col(TsCol)).as("_t0"), max(col(TsCol)).as("_t1"))
    spans
      .filter(col("_t0").isNotNull)
      .select(partitionCols.map(col) :+
        explode(expr(s"sequence(_t0, _t1, ${Rules.intervalExpr(rule)})"))
          .as(TsCol): _*)
  }
}
