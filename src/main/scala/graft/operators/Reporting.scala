package graft.operators

import scala.collection.immutable.ListMap

import graft.core.{Json, Timing}
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Data-quality report + SMA indicator summaries (reference O15–O17:
  * src/etl/utils/reporting.py:26-142).
  *
  * Cost shape: ONE whole-frame aggregation job for the profile (rows,
  * extent, per-column NaNs, dup stamps, range stats, CLOSE stats + exact
  * median) and, when indicators are on, two narrow scans of the range
  * layout for all SMA windows together. The reference runs ~10 separate
  * pandas passes; each job here scans the frame once. Reports are
  * fixed-size driver aggregates — nothing row-shaped is ever collected.
  */
object Reporting {

  val TsCol: String = Normalize.TsCol

  /** Above this row count the CLOSE median switches from the built-in
    * `median()` aggregate (merge state grows with distinct values) to
    * ExactMedian's bounded histogram selection. Same exact value either
    * way — proven by ExactMedianSpec. Crossover measured on a cached
    * all-distinct column: at 600 k rows the in-agg `median()` costs
    * 1.5–1.9 s steady-state vs 0.45–0.55 s for the histogram path (whose
    * two extra fixed-size jobs dominate below ~10^5 rows).
    */
  val ExactMedianRowThreshold: Long = 200_000L

  /** `knownDistinctTs`: callers holding a frame whose timestamps are
    * distinct by construction (anything post-dedup) can skip the
    * countDistinct expand — the reported value is identically 0.
    *
    * With `computeIndicators`, `df` must be in the [[RangeLayout]] on
    * (partitionCols, TIMESTAMP): the SMA summaries run as a seeded
    * parallel scan and throw [[RangeLayout.LayoutError]] otherwise.
    */
  def dataQualityReport(df: DataFrame,
                        computeIndicators: Boolean = true,
                        smaWindows: Seq[Int] = Seq(10, 50),
                        partitionCols: Seq[String] = Nil,
                        knownDistinctTs: Boolean = false,
                        /** row count the caller already holds (e.g. the
                          * Runner's cache-materialization count) — lets the
                          * CLOSE-median path pick its implementation without
                          * an extra count job */
                        knownRows: Option[Long] = None): ListMap[String, Any] = {

    val cols = df.columns.filterNot(_ == Readers.FileOrderCol).toSeq
    val dataCols = cols.filterNot(_ == TsCol)
    val hasHL = cols.contains("HIGH") && cols.contains("LOW")
    val hasClose = cols.contains("CLOSE")

    var aggs = Vector(
      count(lit(1)).as("_rows"),
      min(col(TsCol)).as("_start"),
      max(col(TsCol)).as("_end"),
      sum(when(col(TsCol).isNull, 1).otherwise(0)).as("_tsnull"))
    if (!knownDistinctTs) aggs :+= countDistinct(col(TsCol)).as("_dts")
    aggs ++= dataCols.map(c =>
      sum(when(col(c).isNull, 1).otherwise(0)).as(s"_nan_$c"))
    if (hasHL) {
      val rng = col("HIGH") - col("LOW")
      aggs :+= avg(rng).as("_mean_range")
      aggs :+= max(rng).as("_max_range")
    }
    // exact CLOSE median, two implementations sharing the one agg pass:
    //  - below ExactMedianRowThreshold: the median() aggregate —
    //    partial-aggregated value counts merged on one reducer; fine while
    //    the distinct-value map stays small
    //  - above it: ExactMedian's histogram selection — median() merges
    //    EVERY distinct value through one reducer (unbounded state on a
    //    100 TB column), so large frames splice count/min/finite-max/NaN
    //    stats into this same agg and locate the middle ranks with
    //    fixed-size follow-up jobs
    // provisional, from the caller-claimed TOTAL row count — the real gate
    // is the non-null CLOSE count (_cn), known only after the agg runs, so
    // frames claimed large get the cheap histogram stat columns here and
    // the final histogram-vs-median() choice is made post-agg
    val maybeExactMedian = hasClose &&
      knownRows.exists(_ > ExactMedianRowThreshold)
    if (hasClose) {
      aggs :+= min(col("CLOSE")).as("_cmin")
      aggs :+= max(col("CLOSE")).as("_cmax")
      aggs :+= count(col("CLOSE")).as("_cn")
      if (maybeExactMedian) {
        val cd = col("CLOSE").cast("double")
        aggs :+= max(when(isnan(cd), lit(null)).otherwise(cd)).as("_cmaxf")
        aggs :+= sum(when(isnan(cd), 1L).otherwise(0L)).as("_cnan")
      } else aggs :+= median(col("CLOSE")).as("_cmed")
    }
    val r = Timing.timed("qr_profile_agg")(
      df.agg(aggs.head, aggs.tail: _*).collect()(0))

    def opt[T](name: String): Option[T] =
      if (r.isNullAt(r.fieldIndex(name))) None else Some(r.getAs[T](name))

    val rows = r.getAs[Long]("_rows")
    val dups =
      if (knownDistinctTs) 0L
      else rows - r.getAs[Long]("_dts") -
        (if (r.getAs[Long]("_tsnull") > 0) 1 else 0)

    var report = Json.obj(
      "rows" -> rows,
      "start" -> opt[java.sql.Timestamp]("_start").map(t => fmtTs(t)).orNull,
      "end" -> opt[java.sql.Timestamp]("_end").map(t => fmtTs(t)).orNull,
      "columns" -> dataCols,
      "nans_per_column" -> ListMap(dataCols.map(c =>
        c -> r.getAs[Long](s"_nan_$c")): _*),
      "dups_timestamps" -> dups,
      "candles_count" -> rows,
      "mean_range" -> (if (hasHL) opt[Double]("_mean_range").orNull else null),
      "max_range" -> (if (hasHL) opt[Double]("_max_range").orNull else null))

    // CLOSE stats + the reference's outlier heuristic (reporting.py:68-104)
    if (hasClose && r.getAs[Long]("_cn") > 0) {
      val cmin = r.getAs[Double]("_cmin")
      val cmax = r.getAs[Double]("_cmax")
      val cmed =
        if (maybeExactMedian) {
          if (r.getAs[Long]("_cn") > ExactMedianRowThreshold)
            graft.functions.ExactMedian.median(df, "CLOSE",
              n = r.getAs[Long]("_cn"), lo = cmin,
              hiFinite = opt[Double]("_cmaxf").getOrElse(Double.NaN),
              nNaN = r.getAs[Long]("_cnan")).getOrElse(Double.NaN)
          else
            // the frame is large but its non-null CLOSE count is below the
            // crossover: one small median() job (merge state bounded by
            // _cn distinct values) beats the histogram path's two
            // full-frame selection scans
            df.agg(median(col("CLOSE"))).collect()(0).getDouble(0)
        } else r.getAs[Double]("_cmed")
      val ratios =
        if (cmed != 0.0) Some((cmax / cmed, cmin / cmed)) else None
      val suspicious = ratios.exists { case (rx, rn) => rx > 100 || rn < 0.01 }
      report ++= Json.obj(
        "close_min" -> cmin, "close_max" -> cmax, "close_median" -> cmed,
        "close_max_over_median" -> ratios.map(_._1).orNull,
        "close_min_over_median" -> ratios.map(_._2).orNull,
        "suspicious_price_jump" -> suspicious)
    } else {
      report ++= Json.obj(
        "close_min" -> null, "close_max" -> null, "close_median" -> null,
        "close_max_over_median" -> null, "close_min_over_median" -> null,
        "suspicious_price_jump" -> false)
    }

    // SMA summaries — all windows in one pass (reporting.py:106-123)
    var indicators = ListMap.empty[String, Any]
    if (computeIndicators && hasClose && rows > 0)
      indicators = Timing.timed("qr_sma_agg")(
        smaSummaries(df, smaWindows, partitionCols))
    report += "indicators" -> indicators

    val nanTotal = ListMap(dataCols.map(c => c -> r.getAs[Long](s"_nan_$c")): _*)
    var notes = Vector.empty[String]
    if (dups > 0) notes :+= s"$dups duplicated timestamps"
    if (nanTotal.values.exists(_ > 0)) notes :+= "There are NaNs in some columns"
    if (report("suspicious_price_jump") == true)
      notes :+= "Suspicious price jump detected (check max/min vs median)"
    report += "notes" -> notes

    report
  }

  /** Per-scan SMA partial for one (partition, series): fixed-size driver
    * records collected off an `InternalRow` scan — the scans below never
    * cross the external-Row encoder (boxing 60M rows per pass measured as
    * the quality report's dominant cost at the 100× probe scale).
    */
  private final case class SmaPartial(
      lasts: Array[java.lang.Double], lastTs: Array[java.lang.Long],
      nans: Array[Long],
      mins: Array[java.lang.Double], maxs: Array[java.lang.Double])

  /** SMA summaries over the [[RangeLayout]]: a series spans consecutive
    * ordered partitions (a keyless frame is one series), so the ring-buffer
    * scan runs per partition in parallel, primed with the previous
    * partitions' trailing CLOSE values (a trailing window of w rows only
    * ever needs the last w-1 predecessor rows). min_periods=1 semantics:
    * value = mean of the non-null entries in the trailing window, null only
    * when the whole window is null. Two narrow jobs: a tail-collection pass
    * (≤ maxW-1 values plus the stamp extent per (partition, series) —
    * fixed-size metadata, never row-shaped data; the extents are checked by
    * [[RangeLayout.check]]) and the seeded scan emitting per-(partition,
    * series) partials merged on the driver. Task memory is bounded by
    * max(smaWindows) ring slots, never by series length.
    */
  private def smaSummaries(df: DataFrame, smaWindows: Seq[Int],
                           partitionCols: Seq[String]): ListMap[String, Any] = {
    import RangeLayout.{externalize, keyOf, sameKey}
    val ws = smaWindows.toArray
    val maxW = ws.max
    val schema = df.schema
    val types = schema.fields.map(_.dataType)
    val kIdx = partitionCols.map(schema.fieldIndex).toArray
    val tsIdx = schema.fieldIndex(TsCol)
    val cIdx = schema.fieldIndex("CLOSE")
    // both passes run on the SAME physical RDD of the layout — partition
    // ids are consistent by construction, and neither pass crosses the
    // external-Row encoder (internal values: a timestamp is a bare long of
    // epoch micros). Runs are detected on owned internal key values; map
    // keys are externalized once per run.
    val inRdd = df.queryExecution.toRdd

    // pass 1: per-(partition, series) trailing values (nulls included — the
    // ring counts null entries as window slots, exactly like rowsBetween)
    // and stamp extent
    val tails: Array[(RangeLayout.Run, Array[java.lang.Double])] =
      inRdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(RangeLayout.Run, Array[java.lang.Double])]
        var keyInt: Array[Any] = null
        var tracker: RangeLayout.RunTracker = null
        var buf: scala.collection.mutable.ArrayDeque[java.lang.Double] = null
        def flush(): Unit = if (keyInt != null)
          acc += ((tracker.run, buf.toArray))
        while (it.hasNext) {
          val r = it.next()
          if (!sameKey(r, keyInt, kIdx, types)) {
            flush(); keyInt = keyOf(r, kIdx, types)
            tracker = new RangeLayout.RunTracker(pid, externalize(keyInt))
            buf = scala.collection.mutable.ArrayDeque.empty
          }
          tracker.add(if (r.isNullAt(tsIdx)) Long.MinValue else r.getLong(tsIdx))
          buf += (if (r.isNullAt(cIdx)) null
                  else java.lang.Double.valueOf(r.getDouble(cIdx)))
          if (buf.length > maxW - 1) buf.removeHead()
        }
        flush()
        acc.iterator
      }.collect()
    RangeLayout.check("Reporting SMA", tails.map(_._1))

    // driver: carry-in per (partition, series) = last maxW-1 values of the
    // concatenated predecessor tails
    val carries = scala.collection.mutable.Map.empty[(Int, List[Any]), Array[java.lang.Double]]
    for ((k, runs) <- tails.groupBy(_._1.key)) {
      var run = Vector.empty[java.lang.Double]
      for ((r, tail) <- runs.sortBy(_._1.pid)) {
        carries((r.pid, k)) = run.toArray
        run = (run ++ tail).takeRight(maxW - 1)
      }
    }
    val seeds = carries.toMap

    // pass 2: seeded ring scan, per-(partition, series) partials —
    // primitive ring slots (value + present), no per-row allocation
    val partials: Array[SmaPartial] = inRdd.mapPartitionsWithIndex { (pid, it) =>
      val acc = scala.collection.mutable.ArrayBuffer.empty[SmaPartial]
      val k = ws.length
      var keyInt: Array[Any] = null
      val ringV = Array.fill(k)(new Array[Double](maxW))
      val ringP = Array.fill(k)(new Array[Boolean](maxW))
      val sums = new Array[Double](k); val counts = new Array[Int](k)
      val nans = new Array[Long](k)
      val mins = new Array[Double](k); val maxs = new Array[Double](k)
      val lasts = new Array[java.lang.Double](k)
      val lastTs = new Array[java.lang.Long](k)
      var n = 0L
      def push(present: Boolean, v: Double, emit: Boolean,
               tsPresent: Boolean, ts: Long): Unit = {
        var j = 0
        while (j < k) {
          val w = ws(j)
          val slot = (n % w).toInt
          if (ringP(j)(slot)) { sums(j) -= ringV(j)(slot); counts(j) -= 1 }
          ringV(j)(slot) = v
          ringP(j)(slot) = present
          if (present) { sums(j) += v; counts(j) += 1 }
          if (emit) {
            if (counts(j) == 0) nans(j) += 1
            else {
              val sma = sums(j) / counts(j)
              if (tsPresent) { lasts(j) = sma; lastTs(j) = ts }
              if (sma < mins(j)) mins(j) = sma
              if (sma > maxs(j)) maxs(j) = sma
            }
          }
          j += 1
        }
        n += 1
      }
      def flush(): Unit = if (keyInt != null)
        acc += SmaPartial(lasts.clone(), lastTs.clone(), nans.clone(),
          ws.indices.map(j => if (mins(j) != Double.MaxValue)
            java.lang.Double.valueOf(mins(j)) else null).toArray,
          ws.indices.map(j => if (maxs(j) != Double.MinValue)
            java.lang.Double.valueOf(maxs(j)) else null).toArray)
      while (it.hasNext) {
        val r = it.next()
        if (!sameKey(r, keyInt, kIdx, types)) {
          flush(); keyInt = keyOf(r, kIdx, types)
          ringP.foreach(a => java.util.Arrays.fill(a, false))
          java.util.Arrays.fill(sums, 0.0); java.util.Arrays.fill(counts, 0)
          java.util.Arrays.fill(nans, 0L)
          java.util.Arrays.fill(mins, Double.MaxValue)
          java.util.Arrays.fill(maxs, Double.MinValue)
          java.util.Arrays.fill(lasts.asInstanceOf[Array[AnyRef]], null)
          java.util.Arrays.fill(lastTs.asInstanceOf[Array[AnyRef]], null)
          n = 0L
          for (c <- seeds.getOrElse((pid, externalize(keyInt)),
              Array.empty[java.lang.Double]))
            push(c != null, if (c != null) c.doubleValue() else 0.0,
              emit = false, tsPresent = false, 0L)
        }
        val present = !r.isNullAt(cIdx)
        val tsP = !r.isNullAt(tsIdx)
        push(present, if (present) r.getDouble(cIdx) else 0.0,
          emit = true, tsP, if (tsP) r.getLong(tsIdx) else 0L)
      }
      flush()
      acc.iterator
    }.collect()

    // merge: nans sum; min/max fold; last = value at the latest non-null-SMA
    // timestamp (the windowed form's max_by(sma, ts))
    ListMap(ws.toIndexedSeq.zipWithIndex.map { case (w, j) =>
      var last: Any = null; var lastT = Long.MinValue
      var nan = 0L
      var mn: Any = null; var mx: Any = null
      for (p <- partials) {
        if (p.lasts(j) != null && p.lastTs(j) != null && p.lastTs(j) > lastT) {
          lastT = p.lastTs(j); last = p.lasts(j)
        }
        nan += p.nans(j)
        if (p.mins(j) != null &&
            (mn == null || p.mins(j) < mn.asInstanceOf[Double])) mn = p.mins(j)
        if (p.maxs(j) != null &&
            (mx == null || p.maxs(j) > mx.asInstanceOf[Double])) mx = p.maxs(j)
      }
      s"SMA_$w" -> Json.obj(
        "last" -> last, "nan_count" -> nan, "min" -> mn, "max" -> mx)
    }: _*)
  }

  /** Fixed-width histogram of an integer-valued column: bucket width is
    * the integer ceil of the value range over `buckets`, so bucket edges
    * are exact integers — no float boundary can disagree between engines
    * or runs (the ExactMedian lesson applied to profiling output). Two
    * aggregations total: one min/max row broadcast back, one group-count
    * keyed on the bucket (partial-agg collapses map-side — at most
    * `buckets` rows reach the reduce side per task). Empty buckets are
    * absent from the output.
    *
    * @return (`bucket`, `bucket_lo` inclusive lower edge, `cnt`)
    */
  def histogram(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    val mm = df.agg(min(col(valueCol)).cast("long").as("_lo"),
      max(col(valueCol)).cast("long").as("_hi"))
    df.select(col(valueCol).cast("long").as("_v"))
      .crossJoin(broadcast(mm))
      .select(col("_lo"),
        floor((col("_hi") - col("_lo") + buckets) / lit(buckets.toDouble))
          .as("_w"),
        col("_v"))
      .select(floor((col("_v") - col("_lo")) / col("_w").cast("double"))
          .as("bucket"),
        col("_lo"), col("_w"))
      .groupBy(col("bucket"), col("_lo"), col("_w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bucket"),
        (col("_lo") + col("bucket") * col("_w")).as("bucket_lo"),
        col("cnt"))
  }

  def saveReport(report: ListMap[String, Any], outPath: String): Unit = {
    val p = java.nio.file.Paths.get(outPath)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, Json.write(report))
  }

  /** pandas str(Timestamp) rendering under UTC. */
  def fmtTs(t: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(t.toInstant) + "+00:00"

  /** Key-skew profile: the numbers that decide salting, bucketing and
    * AQE skew-join thresholds BEFORE a job dies at 100 TB — per-key row
    * counts summarized as exact type-1 p50/p90/p99 quantiles, the max,
    * and the top-k heaviest keys (`key:count`, count desc / key asc).
    *
    * Shape: one keyed partial aggregate (per-key counts) → a
    * count-of-counts census bounded by DISTINCT count values, not keys —
    * the only keyless window runs over that census (a q86-style bounded
    * frame, thousands of rows for billions of keys). Quantiles are
    * integer threshold math (`cum·den ≥ num·n_keys` — no float
    * boundary); the top-k list is a struct-sorted fold, order-stable on
    * any engine. Output: ONE row.
    */
  def skewProfile(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_c"))
    val census = counts.groupBy(col("_c")).agg(count(lit(1)).as("_nk"))
    val tot = census.agg(
      sum(col("_c") * col("_nk")).cast("long").as("n_rows"),
      sum(col("_nk")).cast("long").as("n_keys"),
      max(col("_c")).as("max_key_rows"))
    val cum = census.withColumn("_cum",
      sum(col("_nk")).over(Window.orderBy(col("_c"))))
    val qs = cum.crossJoin(broadcast(tot.select(col("n_keys").as("_n"))))
      .agg(
        min(when(col("_cum") * 2 >= col("_n"), col("_c")))
          .as("p50_key_rows"),
        min(when(col("_cum") * 10 >= col("_n") * 9, col("_c")))
          .as("p90_key_rows"),
        min(when(col("_cum") * 100 >= col("_n") * 99, col("_c")))
          .as("p99_key_rows"))
    val top = counts.orderBy(col("_c").desc, col("_k")).limit(topK)
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct((col("_c") * -1).as("_nc"),
          col("_k"), col("_c")))),
        e => concat(e.getField("_k"), lit(":"), e.getField("_c"))))
        .as("top_keys"))
    tot.crossJoin(qs).crossJoin(top)
  }
}
