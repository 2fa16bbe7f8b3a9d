package graft.operators

import scala.collection.immutable.ListMap

import graft.core.{Json, Rules}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-grid construction, gap detection/classification and gap repair
  * (reference O11–O13: src/etl/transform/gaps.py).
  *
  * Spark shapes:
  *  - expected grid: per-series `sequence(min, max, interval)` + explode —
  *    partition-local, no shuffle (O11, gaps.py:59-61);
  *  - missing stamps: grid anti-join observed (gaps.py:63);
  *  - clustering: gaps-and-islands — `ts - row_number * step` island key,
  *    then one groupBy (replaces the reference's Python loop, gaps.py:72-117);
  *  - repair: one narrow [[FastFill]] scan over the [[RangeLayout]] does
  *    pandas `reindex` (exactly-on-grid rows only — off-grid rows drop, the
  *    §2.2.4 quirk), ffill and linear interpolation (gaps.py:148-169).
  *
  * `partitionCols` (SYMBOL) keys every window, join and scan; the grid
  * explode is guarded against pathological spans.
  */
object Gaps {

  val TsCol: String = Normalize.TsCol

  /** Max grid points generated per series before refusing (driver guard —
    * a mis-parsed epoch would otherwise explode sequence() memory).
    */
  val MaxGridPerSeries: Long = 200000000L

  /** O11: dense expected grid between each series' observed min/max. */
  def expectedGrid(df: DataFrame, rule: String,
                   partitionCols: Seq[String] = Nil): DataFrame = {
    val step = Rules.stepSeconds(rule)
    val spans =
      if (partitionCols.isEmpty) df.agg(min(col(TsCol)).as("_t0"), max(col(TsCol)).as("_t1"))
      else df.groupBy(partitionCols.map(col): _*)
        .agg(min(col(TsCol)).as("_t0"), max(col(TsCol)).as("_t1"))
    spans
      .filter(col("_t0").isNotNull)
      .filter((unix_seconds(col("_t1")) - unix_seconds(col("_t0"))) / step
        < MaxGridPerSeries)
      .select(partitionCols.map(col) :+
        explode(expr(s"sequence(_t0, _t1, ${Rules.intervalExpr(rule)})"))
          .as(TsCol): _*)
  }

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
    * RANGE-partitioned by stamp, every task detects the gaps between ITS
    * consecutive stamps in one narrow scan, and the only cross-task state
    * is each partition's (first, last) stamp — fixed-size metadata
    * stitched on the driver, never row data.
    *
    * @param obs  observed on-grid rows; only `TsCol` is read
    * @return (start, end, missing_count) — one row per gap cluster
    */
  private def keylessGapClusters(obs: DataFrame,
                                 stepMicros: Long): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ranged = obs.select(unix_micros(col(TsCol)).as("us")).as[Long]
      .repartitionByRange(nPart, col("us"))
      .sortWithinPartitions("us")
    // tag 0 = in-partition gap pair (prev, cur); tag 1/2 = the partition's
    // first/last stamp keyed by partition id. Checkpointed because both
    // the boundary collect and the pair job below read it (it is tiny:
    // one row per gap + two per partition).
    val tagged = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      if (!it.hasNext) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        var cur = it.next()
        val first = cur
        var prev = cur
        while (it.hasNext) {
          cur = it.next()
          if (cur - prev > stepMicros) out += ((0, prev, cur))
          prev = cur
        }
        out += ((1, pid, first))
        out += ((2, pid, prev))
        out.iterator
      }
    }.localCheckpoint()
    val bounds = tagged.filter(_._1 != 0).collect()
    val firsts = bounds.filter(_._1 == 1).map(t => t._2 -> t._3).toMap
    val lasts = bounds.filter(_._1 == 2).map(t => t._2 -> t._3).toMap
    val pids = firsts.keys.toSeq.sorted
    // a gap spanning two range partitions appears as (last of i, first of
    // the next non-empty partition) — empty partitions were never emitted
    val stitched = pids.zip(pids.drop(1)).collect {
      case (a, b) if firsts(b) - lasts(a) > stepMicros =>
        (lasts(a), firsts(b))
    }
    tagged.filter(_._1 == 0).map(t => (t._2, t._3))
      .union(spark.createDataset(stitched))
      .toDF("_p", "_c")
      .select(
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
    * `df` must be in the [[RangeLayout]] on (partitionCols, TIMESTAMP) —
    * Normalize's output is; [[FastFill.fill]] throws
    * [[RangeLayout.LayoutError]] otherwise.
    *
    * Storage note: KEYED report-mode repair leaves zero persistent-RDD
    * residue (GapsSpec pin). The KEYLESS report path additionally leaves
    * the gap-cluster `localCheckpoint` from [[keylessGapClusters]] — KBs
    * (one row per gap + two per partition), reclaimed by the
    * ContextCleaner once the plan is unreachable; it cannot be
    * unpersisted eagerly because the clusters frame is consumed lazily.
    */
  def repairGaps(df: DataFrame, rule: String,
                 useFfillFor: Seq[String] = Seq("VOLUME"),
                 interpolatePrices: Boolean = true,
                 shortGapMinutes: Int = 5,
                 partitionCols: Seq[String] = Nil,
                 computeReport: Boolean = true,
                 maxGapsInReport: Int = 10000,
                 cacheResult: Boolean = false,
                 /** caller's size hint for the `cacheResult` persist level
                   * (core.Sizing): the repaired frame's own plan stats are
                   * the bridge's unknown sentinel, so only a hint can
                   * trigger the large-frame DISK_ONLY spill */
                 approxResultBytes: Option[Long] = None): Result = {

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

    var report = Json.obj(
      "detected_gaps" -> Seq.empty[Any],
      "filled_counts" -> ListMap.empty[String, Any],
      "remaining_nans" -> ListMap.empty[String, Any],
      "rows_after" -> 0L)

    // No-report path: drop the accounting columns BEFORE caching, so the
    // RETURNED frame is the cached plan itself and the caller's
    // `unpersist()` actually releases it. Returning a projection OVER the
    // cache (the old shape) made every caller-side unpersist a silent
    // no-op — a leak of one series-sized cache per pipeline run that the
    // 30× rehearsal exposed as a GC storm (persistent RDDs grew by one per
    // run; at gate scale the 27 MB leak was invisible). The cache is also
    // smaller: the flag columns never reach storage.
    if (!computeReport) {
      val clean = repaired1.drop(
        ffillCols.map(c => s"_wasnull_$c") :+ "_generated": _*)
      return Result(
        if (cacheResult)
          clean.persist(graft.core.Sizing.storageFor(
            approxResultBytes.orElse(graft.core.Sizing.planEstimate(clean))))
        else clean, report)
    }
    // Report path. The report needs the accounting columns (`_wasnull_*`,
    // `_generated`) that the returned frame must NOT carry, so the two
    // plans differ — and a cache must live on the RETURNED plan for the
    // caller's `unpersist()` to work (same leak class as the no-report
    // path above, fixed r13). Shape: a SCOPED cache on the pre-drop frame
    // feeds the two report jobs and is FULLY released (blocking) before
    // the clean projection is cached for the caller — the two cache
    // entries must never coexist: a cache registered over another one
    // leaves an orphaned buffer RDD behind when the inner entry is
    // removed (Spark's non-cascade uncache recompiles the dependent
    // entry; the GapsSpec pin caught the leak). Price: a cacheResult
    // caller's first action recomputes the fill chain once — this path
    // has no production caller (Runner passes computeReport=false);
    // unpersist-correctness is the contract under test.
    val repaired = repaired1.cache()

    if (computeReport) {
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

      report = Json.obj(
        "detected_gaps" -> gapList,
        "filled_counts" -> ListMap(ffillCols.map(c =>
          c -> row.getAs[Long](s"_filled_$c")): _*),
        "remaining_nans" -> ListMap(dataCols.map(c =>
          c -> row.getAs[Long](s"_nan_$c")): _*),
        "rows_after" -> row.getAs[Long]("_rows"))
    }

    // release the scoped report cache BEFORE caching the returned frame
    // (see the shape note above); blocking so no buffer outlives the call
    repaired.unpersist(blocking = true)
    val clean =
      repaired1.drop(ffillCols.map(c => s"_wasnull_$c") :+ "_generated": _*)
    Result(
      if (cacheResult)
        clean.persist(graft.core.Sizing.storageFor(
          approxResultBytes.orElse(graft.core.Sizing.planEstimate(clean))))
      else clean, report)
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
