package graft.operators

import graft.core.Rules
import graft.sources.Readers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType}

/** OHLCV time-bucket resampling (reference O14:
  * src/etl/transform/resample.py:39-100).
  *
  * Aggregation map over present columns: OPEN→first, HIGH→max, LOW→min,
  * CLOSE→last, VOLUME/TICKVOL/VOL→sum, SYMBOL→last; unmapped numeric
  * columns follow `extraNumericPolicy` (mean default / sum); unmapped
  * non-numeric columns are dropped (resample.py:13-36, 74-88).
  *
  * pandas parity micro-semantics (SURVEY.md §2.2.1-3):
  *  - first/last skip NaN → `min_by`/`max_by` keyed on the timestamp only
  *    where the value is non-null (one hash aggregate, no row_number
  *    pre-pass; buckets have unique stamps post-normalize);
  *  - sum of an all-NaN/empty bucket is 0.0 → `coalesce(sum, 0.0)`;
  *  - pandas emits EMPTY in-range buckets (NaN aggs, 0.0 sums);
  *    `emitEmpty = true` joins the bucket grid to replicate that, and
  *    `dropIncomplete` then removes NaN-CLOSE buckets (resample.py:90-95).
  *
  * Buckets are left-closed/left-labeled epoch-aligned floors — identical to
  * pandas' minute/hour anchoring (all reference rules divide 24 h).
  * One shuffle: the groupBy on (series, bucket); Spark's partial
  * aggregation gives the map-side combine the reference's single pass has
  * implicitly.
  */
object Resample {

  val TsCol: String = Normalize.TsCol

  /** Left-closed, left-labeled bucket start for the rule. */
  def bucket(ts: Column, rule: String): Column =
    timestamp_micros(
      (unix_micros(ts) - pmod(unix_micros(ts), lit(Rules.stepMicros(rule)))))

  /** `inputOnBucketGrid`: caller guarantees the input already has exactly
    * one row per `rule` bucket (e.g. it was just gap-repaired at the same
    * rule — the reference pipeline's shape, src/run.py:194-216). Every
    * aggregate over a single-row bucket is the row itself, so the groupBy
    * shuffle is replaced by a projection: first/last/max/min = value,
    * sum(null) = 0.0 via coalesce, unmapped non-numeric columns drop.
    */
  def resampleOhlc(df: DataFrame, rule: String,
                   dropIncomplete: Boolean = true,
                   extraNumericPolicy: String = "mean",
                   emitEmpty: Boolean = false,
                   partitionCols: Seq[String] = Nil,
                   inputOnBucketGrid: Boolean = false): DataFrame = {
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
    val agged =
      if (inputOnBucketGrid) {
        // single-row buckets: aggregation degenerates to a projection. The
        // label is still the epoch-aligned bucket floor — gap repair anchors
        // its grid at each series' first stamp, so a series starting
        // off-boundary (00:02 at 5T) has rows one-per-bucket but NOT on the
        // bucket labels pandas resample emits; flooring here restores them.
        val sumSet = (Seq("VOLUME", "TICKVOL", "VOL").filter(cols.contains) ++
          (if (extraNumericPolicy == "sum") extras else Nil)).toSet
        df.filter(ts.isNotNull)
          .select(partitionCols.map(col) ++ Seq(bucket(ts, rule).as(TsCol)) ++
            aggs.map { case (n, _) =>
              if (sumSet.contains(n)) coalesce(col(n), lit(0.0)).as(n)
              else col(n)
            }: _*)
      } else df
        .filter(ts.isNotNull)
        .groupBy(keyCols: _*)
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)

    val withEmpty =
      if (!emitEmpty) agged
      else {
        // bucket grid between each series' min/max bucket; empty buckets
        // surface with null OHLC and 0.0 sums (pandas resample shape)
        val grid = Gaps.expectedGrid(
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

    // canonical column order regardless of keying: bucket, values, keys —
    // a keyed run exports the same schema shape as the single-series run
    val projected = dropped
      .select((Seq(TsCol) ++ aggs.map(_._1) ++ partitionCols).map(col): _*)
    // the projection fast path preserves the input's per-series order and
    // partitioning (narrow ops over a monotone bucket floor) — a partition-
    // local sort gives the same per-series time order WITHOUT the range-
    // partitioner sampling pass + shuffle a global orderBy costs per export
    if (inputOnBucketGrid && !emitEmpty)
      projected.sortWithinPartitions((partitionCols :+ TsCol).map(col): _*)
    else projected.orderBy((partitionCols :+ TsCol).map(col): _*)
  }

  /** Faithful-mode pipeline step (SURVEY.md §2.2.4 / §7.3): the reference
    * runs `repair_gaps(rule=tf)` BEFORE `resample_ohlc(rule=tf)`, which
    * reindexes onto the target-frequency grid and silently drops every
    * source row not exactly on it — so coarse candles are grid-samples, not
    * true aggregates. Kept as an explicit, documented mode for parity.
    * `df` may have any layout: the repair input is laid out here.
    */
  def faithful(df: DataFrame, rule: String,
               useFfillFor: Seq[String] = Seq("VOLUME"),
               interpolatePrices: Boolean = true,
               dropIncomplete: Boolean = true,
               partitionCols: Seq[String] = Nil): DataFrame = {
    val repaired = Gaps.repairGaps(RangeScan.layout(df, partitionCols), rule,
      useFfillFor, interpolatePrices,
      partitionCols = partitionCols, computeReport = false).df
    resampleOhlc(repaired, rule, dropIncomplete, partitionCols = partitionCols)
  }
}
