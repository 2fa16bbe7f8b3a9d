package graft.operators

import scala.collection.immutable.ListMap

import graft.core.{Json, Rules}
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Time-grid construction, gap detection/classification and gap repair
  * (reference O11–O13: src/etl/transform/gaps.py).
  *
  * Spark shapes:
  *  - expected grid: generated inline by the [[FastFill]] reindex, never
  *    materialized (O11, gaps.py:59-61);
  *  - missing stamps: grid anti-join observed (gaps.py:63);
  *  - clustering: gaps-and-islands — `ts - row_number * step` island key,
  *    then one groupBy (replaces the reference's Python loop, gaps.py:72-117);
  *  - repair: one narrow [[FastFill]] scan over the range layout does
  *    pandas `reindex` (exactly-on-grid rows only — off-grid rows drop, the
  *    §2.2.4 quirk), ffill and linear interpolation (gaps.py:148-169).
  *
  * `partitionCols` (SYMBOL) keys every window, join and scan.
  */
object Gaps {

  val TsCol: String = Normalize.TsCol

  /** O12: gap detection + classification. Returns a DataFrame of
    * (start, end, length_minutes, missing_count, classification) ordered by
    * start — `end` is the last MISSING stamp, `length` spans end-start+step
    * (gaps.py:80-84), and classification order is exactly
    * short → overnight → long → medium (gaps.py:23-36; `long_gap` is
    * unreachable by construction and kept that way for parity).
    */
  def detectGaps(df: DataFrame, rule: String, shortGapMinutes: Int = 5,
                 partitionCols: Seq[String] = Nil): DataFrame = {
    // Grid-free formulation: pandas computes expected.difference(observed)
    // then clusters (gaps.py:63-117); materializing the dense grid plus an
    // anti-join costs two shuffles over grid-sized data. Equivalent: one
    // lag() pass over the observed ON-GRID stamps — consecutive stamps
    // further apart than `step` delimit exactly the same clusters
    // (start = prev+step, end = next-step, count = delta/step - 1).
    val step = Rules.stepSeconds(rule)
    val stepMicros = step * 1000000L
    val keys = partitionCols.map(col)

    // grid anchor = per-series min stamp (pandas date_range starts at min);
    // off-grid stamps are not in `expected`, so they never subtract. The
    // grid ends at the last grid point at or before the series' max stamp:
    // a sentinel one step past it closes a trailing gap like any other
    val anchorUs = unix_micros(col("_anchor"))
    val spans =
      (if (partitionCols.isEmpty)
        df.agg(min(col(TsCol)).as("_anchor"), max(col(TsCol)).as("_max"))
      else df.groupBy(keys: _*)
        .agg(min(col(TsCol)).as("_anchor"), max(col(TsCol)).as("_max")))
        .filter(col("_anchor").isNotNull)
    val sentinels = spans.select(partitionCols.map(col) :+ timestamp_micros(
      anchorUs + (floor((unix_micros(col("_max")) - anchorUs) / stepMicros) + 1)
        * stepMicros).as(TsCol): _*)
    val obs0 = df.select((partitionCols :+ TsCol).map(col): _*)
      .filter(col(TsCol).isNotNull)
    val onGrid =
      (if (partitionCols.isEmpty) obs0.crossJoin(broadcast(spans))
       else obs0.join(broadcast(spans), partitionCols))
        .filter(
          pmod(unix_micros(col(TsCol)) - anchorUs, lit(stepMicros)) === 0)
    val obs = onGrid.select((partitionCols :+ TsCol).map(col): _*)
      .union(sentinels)

    val clustered =
      if (partitionCols.isEmpty) keylessGapClusters(obs, stepMicros)
      else {
        val w = Window.partitionBy(keys: _*).orderBy(TsCol)
        val withPrev = obs.withColumn("_prev", lag(col(TsCol), 1).over(w))
        val delta = unix_micros(col(TsCol)) - unix_micros(col("_prev"))
        withPrev
          .filter(col("_prev").isNotNull && delta > stepMicros)
          .select(partitionCols.map(col) ++ Seq(
            timestamp_micros(unix_micros(col("_prev")) + stepMicros).as("start"),
            timestamp_micros(unix_micros(col(TsCol)) - stepMicros).as("end"),
            ((delta / stepMicros).cast("long") - 1).as("missing_count")): _*)
      }

    withClassification(clustered, step, shortGapMinutes)
      .orderBy((partitionCols :+ "start").map(col): _*)
  }

  /** Keyless (single-series) gap clusters WITHOUT a global window: a
    * keyless `Window.orderBy` serializes the whole series onto one task —
    * the r6-flagged scale trap. Instead the observed on-grid stamps are
    * RANGE-partitioned by stamp and clustered by a [[RangeScan]]: every
    * task emits the gaps between ITS consecutive stamps, plus the gap
    * between the previous non-empty partition's last stamp (its seed) and
    * its own first one.
    *
    * @param obs  observed on-grid rows; only `TsCol` is read
    * @return (start, end, missing_count) — one row per gap cluster
    */
  private def keylessGapClusters(obs: DataFrame,
                                 stepMicros: Long): DataFrame = {
    val nPart = obs.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = obs.select(unix_micros(col(TsCol)).as("us"))
      .repartitionByRange(nPart, col("us"))
      .sortWithinPartitions("us")
    val scan = new RangeScan("Gaps", ranged, Nil, "us")
    val seeds = scan.seeds(scan.summarize(_ => ())) { runs =>
      null +: runs.init.map(r => java.lang.Long.valueOf(r._1.lastUs))
    }
    val pairs = StructType(Seq(
      StructField("_p", LongType), StructField("_c", LongType)))
    scan.scanFrame(seeds, pairs) { (seed: java.lang.Long, run) =>
      var prev: Long = if (seed != null) seed else run.next().getLong(0)
      run.flatMap { r =>
        val (p, c) = (prev, r.getLong(0))
        prev = c
        if (c - p > stepMicros)
          Iterator.single(new GenericInternalRow(Array[Any](p, c)): InternalRow)
        else Iterator.empty
      }
    }.select(
      timestamp_micros(col("_p") + stepMicros).as("start"),
      timestamp_micros(col("_c") - stepMicros).as("end"),
      (((col("_c") - col("_p")) / stepMicros).cast("long") - 1)
        .as("missing_count"))
  }

  /** length + 4-way classification columns (order short → overnight → long
    * → medium exactly as gaps.py:23-36; classified against end+step).
    */
  private def withClassification(clustered: DataFrame, step: Long,
                                 shortGapMinutes: Int): DataFrame = {
    // int(length / 1min) truncation; `/` on longs is fractional in Spark
    val lengthMin =
      ((unix_seconds(col("end")) - unix_seconds(col("start")) + step) / 60)
        .cast("long")
    val clsEnd = col("end") + expr(s"INTERVAL $step SECOND")
    val classification =
      when(lengthMin <= shortGapMinutes, "short_gap")
        .when(to_date(col("start")) =!= to_date(clsEnd), "overnight_gap")
        .when(lengthMin >= 24 * 60, "long_gap")
        .otherwise("medium_gap")
    val keep = clustered.columns.filterNot(c =>
      c == "start" || c == "end" || c == "missing_count").toSeq
    clustered
      .withColumn("length_minutes", lengthMin)
      .withColumn("classification", classification)
      .select((keep ++ Seq("start", "end", "length_minutes",
        "missing_count", "classification")).map(col): _*)
  }

  final case class Result(df: DataFrame, report: ListMap[String, Any])

  /** O13: reindex to the expected grid, forward-fill `useFfillFor`,
    * linearly interpolate the price columns not in that list
    * (gaps.py:121-190). One extra aggregation job produces the report
    * (filled counts before/after, remaining NaNs, rows_after).
    *
    * `df` must be in the range layout ([[RangeScan.layout]]) on
    * (partitionCols, TIMESTAMP) — Normalize's output is; [[FastFill.fill]]
    * throws [[RangeScan.LayoutError]] otherwise.
    *
    * The returned frame is not cached; a report-mode call caches the
    * repaired frame only while its report jobs run and leaves no
    * persistent RDD behind (GapsSpec pin).
    */
  def repairGaps(df: DataFrame, rule: String,
                 useFfillFor: Seq[String] = Seq("VOLUME"),
                 interpolatePrices: Boolean = true,
                 shortGapMinutes: Int = 5,
                 partitionCols: Seq[String] = Nil,
                 computeReport: Boolean = true,
                 maxGapsInReport: Int = 10000): Result = {

    val dataCols = df.columns.filterNot(c =>
      c == TsCol || c == Readers.FileOrderCol || partitionCols.contains(c)).toSeq

    val ffillCols = useFfillFor.filter(df.columns.contains)
    val priceCols = Seq("OPEN", "HIGH", "LOW", "CLOSE")
      .filter(df.columns.contains)
      .filterNot(ffillCols.contains)

    // keep pre-fill null flags so the report is a single post-fill agg
    // (generated grid rows get flag=true inside the scan); `_generated`
    // marks synthesized grid rows so the gap report needs no second
    // full-frame detection pass
    val flagged = df
      .filter(col(TsCol).isNotNull)
      .withColumns(
        ffillCols.map(c => s"_wasnull_$c" -> col(c).isNull).toMap)
      .withColumn("_generated", lit(false))

    // single-pass per-series reindex+fill (see FastFill scaladoc): the
    // pandas `reindex` happens inline in the same narrow scan as ffill and
    // interpolation — no dense grid materialization, no join, no exchange
    val repaired0 = FastFill.fill(flagged, ffillCols,
      if (interpolatePrices) priceCols else Nil, TsCol, Rules.stepMicros(rule),
      partitionCols,
      trueOnGenerated = ffillCols.map(c => s"_wasnull_$c") :+ "_generated")

    val repaired1 = repaired0
      .select((partitionCols ++ Seq(TsCol) ++ dataCols ++
        ffillCols.map(c => s"_wasnull_$c") :+ "_generated").map(col): _*)

    val clean = repaired1.drop(
      ffillCols.map(c => s"_wasnull_$c") :+ "_generated": _*)
    if (!computeReport)
      return Result(clean, Json.obj(
        "detected_gaps" -> Seq.empty[Any],
        "filled_counts" -> ListMap.empty[String, Any],
        "remaining_nans" -> ListMap.empty[String, Any],
        "rows_after" -> 0L))
    // The report reads the accounting columns (`_wasnull_*`, `_generated`)
    // that the returned frame drops, twice (the flat aggregate and the gap
    // clusters): a scoped cache of the pre-drop frame feeds both and is
    // released, blocking, before return.
    val repaired = repaired1.cache()
    val report = {
      val step = Rules.stepSeconds(rule)
      // the flat agg runs FIRST: it is the job that materializes the cache,
      // and it parallelizes better than the windowed cluster pass below
      val aggs = Seq(count(lit(1)).as("_rows"),
          max(unix_micros(col(TsCol))).as("_last")) ++
        ffillCols.map(c =>
          sum(when(col(s"_wasnull_$c") && col(c).isNotNull, 1).otherwise(0))
            .as(s"_filled_$c")) ++
        dataCols.map(c =>
          sum(when(col(c).isNull, 1).otherwise(0)).as(s"_nan_$c"))
      val row = repaired.agg(aggs.head, aggs.tail: _*).collect()(0)

      // the synthesized rows ARE the missing stamps: cluster them instead
      // of re-detecting over the full frame (the flagged subset is tiny).
      // Keyless inputs take the range-layout path over the OBSERVED rows
      // (runs of generated stamps = gaps between consecutive observed
      // stamps — same clusters, no single-task global window); a sentinel
      // one step past the grid's last point closes a trailing gap
      val clustered =
        if (partitionCols.isEmpty) {
          val observed = repaired.filter(!col("_generated")).select(TsCol)
          keylessGapClusters(
            if (row.isNullAt(1)) observed
            else observed.union(repaired.sparkSession.range(1).select(
              timestamp_micros(lit(row.getLong(1) + Rules.stepMicros(rule)))
                .as(TsCol))),
            Rules.stepMicros(rule))
        } else clusterStamps(repaired.filter(col("_generated")), step,
          partitionCols)
      val gaps = withClassification(clustered, step, shortGapMinutes)
        .orderBy((partitionCols :+ "start").map(col): _*)
        .limit(maxGapsInReport).collect()
      val gapList = gaps.toSeq.map { r =>
        val endPlus = r.getAs[java.sql.Timestamp]("end").toInstant
          .plusSeconds(step)
        Json.obj(
          "start" -> fmtTs(r.getAs[java.sql.Timestamp]("start").toInstant),
          "end" -> fmtTs(endPlus),
          "missing_count" -> r.getAs[Long]("missing_count"),
          "classification" -> r.getAs[String]("classification"))
      }

      Json.obj(
        "detected_gaps" -> gapList,
        "filled_counts" -> ListMap(ffillCols.map(c =>
          c -> row.getAs[Long](s"_filled_$c")): _*),
        "remaining_nans" -> ListMap(dataCols.map(c =>
          c -> row.getAs[Long](s"_nan_$c")): _*),
        "rows_after" -> row.getAs[Long]("_rows"))
    }

    repaired.unpersist(blocking = true)
    Result(clean, report)
  }

  /** Cluster a small frame of missing stamps into gap records (the
    * gaps-and-islands step of the repair report). Keyed inputs only — the
    * keyless case routes through [[keylessGapClusters]] instead of an
    * unpartitioned window.
    */
  private def clusterStamps(missing: DataFrame, step: Long,
                            partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty,
      "clusterStamps needs partition keys (keyless goes through " +
        "keylessGapClusters)")
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(TsCol)
    val island = unix_seconds(col(TsCol)) - row_number().over(w) * step
    missing
      .select((partitionCols :+ TsCol).map(col): _*)
      .withColumn("_island", island)
      .groupBy((partitionCols :+ "_island").map(col): _*)
      .agg(
        min(col(TsCol)).as("start"),
        max(col(TsCol)).as("end"),
        count(lit(1)).as("missing_count"))
      .drop("_island")
  }

  /** pandas str(Timestamp) formatting: "2024-01-01 00:03:00+00:00". */
  private def fmtTs(i: java.time.Instant): String = {
    val s = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(i)
    s + "+00:00"
  }
}
