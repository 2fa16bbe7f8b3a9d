package graft.operators

import scala.collection.immutable.ListMap
import scala.concurrent.Await
import scala.concurrent.duration.{Duration, MINUTES}

import graft.core.Json
import graft.sources.Readers
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._

/** Normalization pipeline (reference operators O5–O10:
  * src/etl/transform/normalize.py:239-281): rename → dtype enforcement →
  * datetime/tz normalization → dedup keep-first → sort.
  *
  * The whole transform is one lazy DataFrame graph; the report counters
  * (coercions, NaT counts, duplicate count) are a `Dataset.observe`
  * observation on the deduped frame, gathered by the caller's own first
  * action on it rather than by one eager pass per stage or a report job.
  *
  * Scale notes: the only shuffles are the dedup's range-layout exchange
  * (keyed on SYMBOL when present, never a single-partition window) and the
  * final sort; the rename and required-column logic is driver-side name
  * logic, exactly like the reference's `_build_rename_map`.
  */
object Normalize {

  /** Never-renamed identifier columns (reference: normalize.py:15). */
  val Protected: Set[String] = Set("symbol", "ticker", "instrument", "pair")

  /** Fixed numeric-coercion list (reference: normalize.py:97-101 — BID/ASK
    * intentionally excluded).
    */
  val CoercedCols: Seq[String] =
    Seq("OPEN", "HIGH", "LOW", "CLOSE", "VOLUME", "TICKVOL", "SPREAD")

  val TsCol = "TIMESTAMP"

  /** Verbatim port of `_build_rename_map` (normalize.py:18-56): exact
    * lowercase match, or `variant_` prefix / `_variant` suffix; protected
    * names skipped; targets uppercased. A column matching variants of
    * several targets takes the LAST matching target — Python dict
    * assignment overwrites (and keeps the key's original position), so
    * `columnsMap` must be ordered (ListMap).
    */
  def buildRenameMap(dfCols: Seq[String],
                     columnsMap: ListMap[String, Seq[String]]): ListMap[String, String] = {
    val rename = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((target, variants) <- columnsMap) {
      val targetUp = target.toUpperCase
      val variantsLower = variants.map(_.toLowerCase)
      for (col <- dfCols) {
        val colLower = col.toLowerCase
        if (!Protected.contains(colLower)) {
          if (variantsLower.contains(colLower)) {
            rename(col) = targetUp
          } else {
            val hit = variantsLower.exists(v =>
              v.nonEmpty &&
                (colLower.startsWith(v + "_") || colLower.endsWith("_" + v)))
            if (hit) rename(col) = targetUp
          }
        }
      }
    }
    ListMap(rename.toSeq: _*)
  }

  /** O5: rename + unmatched report. */
  def normalizeColumns(df: DataFrame, columnsMap: ListMap[String, Seq[String]])
      : (DataFrame, ListMap[String, Any]) = {
    val rename = buildRenameMap(
      df.columns.filterNot(_ == Readers.FileOrderCol).toSeq, columnsMap)
    val renamed = df.withColumnsRenamed(rename)
    val targets = columnsMap.keySet.map(_.toUpperCase)
    val unmatched = renamed.columns
      .filterNot(_ == Readers.FileOrderCol)
      .filterNot(c => targets.contains(c.toUpperCase)).toSeq
    (renamed, Json.obj("renamed" -> rename, "unmatched" -> unmatched))
  }

  /** O6 cast step (counts are folded into the single report agg). */
  private def castNumerics(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing required column(s): ${missing.mkString("['", "', '", "']")}")
    val numericCols = CoercedCols.filter(df.columns.contains)
    // try_cast, not cast: pandas to_numeric(errors="coerce") nulls failures,
    // while Spark 4's ANSI-mode cast throws on them.
    df.withColumns(
      numericCols.map(c => c -> col(c).try_cast(DoubleType)).toMap)
  }

  private val DatetimeNames = Set("datetime", "timestamp", "time")

  /** @param df       normalized + deduped + time-sorted frame (O9 order)
    * @param unsorted  deduped frame WITHOUT the final global sort —
    *                  order-insensitive consumers (aggregation, windowed
    *                  repair, resample) should prefer this: a global range
    *                  sort mid-pipeline is pure waste. This frame is in the
    *                  range layout ([[RangeScan.layout]]) on (partitionCols,
    *                  TIMESTAMP) — the input FastFill, Gaps.repairGaps and
    *                  Reporting's SMA require (an empty key list is one keyless series).
    *
    * The report counters are a `Dataset.observe` observation on `unsorted`
    * only, so the caller's first action on `unsorted` (the Runner's cache
    * materialization) also counts them: no job of its own. `df` carries no
    * observation — its global sort samples its input in a job of its own,
    * which would run an observation below it twice. When no action on
    * `unsorted` completed the observation, `report` runs `unsorted` once
    * (a no-op write); either way it waits on the observation with a bound.
    */
  final class Result private[operators] (
      val df: DataFrame,
      val unsorted: DataFrame,
      observation: Option[Observation],
      buildReport: Option[Row] => ListMap[String, Any],
      keys: Seq[String]) {
    private lazy val observed: Option[Row] = observation.map { o =>
      val spark = unsorted.sparkSession
      // a finished action posts its end event before it returns; drain the
      // bus so an observation already delivered is seen as such
      if (!o.future.isCompleted)
        try GraftSqlBridge.drainListenerBus(spark)
        catch { case _: java.util.concurrent.TimeoutException => () }
      if (!o.future.isCompleted)
        unsorted.write.format("noop").mode("overwrite").save()
      Await.result(o.future, ObservationWait)
    }
    lazy val report: ListMap[String, Any] = buildReport(observed)
    /** The first non-null value, in file order, of each series key column
      * (absent for an all-null column); empty without the observation.
      */
    lazy val firstKeys: Map[String, Any] = observed.fold(Map.empty[String, Any]) { r =>
      keys.flatMap(k => Option(r.getAs[Any](s"_first_$k")).map(k -> _)).toMap
    }
  }

  /** Bound on the wait for an observation whose action has run: it is
    * delivered on the listener bus within milliseconds, so the bound turns
    * a lost event into an error, never a hang.
    */
  val ObservationWait: Duration = Duration(10, MINUTES)

  /** O10: the full pipeline. `computeReport = false` leaves the counter
    * observation out (the transform stays identical) and reports zeros.
    */
  def apply(input: DataFrame,
            columnsMap: ListMap[String, Seq[String]],
            requiredColumns: Seq[String],
            sourceTz: Option[String],
            targetTz: String = "UTC",
            computeReport: Boolean = true,
            /** series key(s): dedup is keyed (keys, TIMESTAMP) so equal
              * stamps of DIFFERENT series never dedup each other — the
              * reference only ever sees single-series frames, where this is
              * identical to its plain index dedup */
            partitionCols: Seq[String] = Nil,
            /** What to do with tz-NAIVE stamps when no source timezone is
              * configured (O26 `timezone.policy_if_na`, config_model
              * .py:33-45 — parsed but never consumed by the reference;
              * implemented for real here):
              *  - "assume_utc" (default): localize as UTC and flag
              *    `needs_review` (the reference's normalize behavior);
              *  - "mark_needs_review": same localization, the flag is the
              *    point — kept explicit for config intent;
              *  - "require_source": refuse to guess — raise before any
              *    jobs run. */
            policyIfNa: String = "assume_utc"): Result = {

    val ordered =
      if (input.columns.contains(Readers.FileOrderCol)) input
      else input.withColumn(Readers.FileOrderCol, monotonically_increasing_id())

    val (renamed, colReport) = normalizeColumns(ordered, columnsMap)
    val casted = castNumerics(renamed, requiredColumns)

    // O7: locate + parse + localize the datetime column.
    val dtCol = casted.columns
      .find(c => DatetimeNames.contains(c.toLowerCase))
      .getOrElse(throw new IllegalArgumentException(
        "No datetime column found in dataframe."))

    val dtType = casted.schema(dtCol).dataType
    // A string column whose first value carries a UTC offset is tz-aware
    // content (pandas detects this at parse time — normalize.py:198-199).
    val offsetRe = ".*([+-]\\d{2}:?\\d{2}|Z)$"
    val (tzAware, originalTzStr) = dtType match {
      case StringType =>
        val sample = casted.select(col(dtCol)).filter(col(dtCol).isNotNull)
          .limit(1).collect().headOption.map(_.getString(0))
        val aware = sample.exists(_.matches(offsetRe))
        (aware, if (aware) "fixed_offset" else "None")
      case _ => (false, "None")
    }

    val parsed = col(dtCol).try_cast(TimestampType) // parse failures -> null
    val effectiveSourceTz = sourceTz.getOrElse("UTC")
    // Fixed-offset zones (UTC included) have no DST transitions, so the
    // strict localization UDF degenerates to a constant shift — keep the
    // common assume-UTC ingest path fully inside codegen.
    val zoneRules = java.time.ZoneId.of(effectiveSourceTz).getRules
    val localized: Column =
      if (tzAware) parsed // offsets already resolved to instants by the cast
      else if (zoneRules.isFixedOffset) {
        val offUs = zoneRules.getOffset(java.time.Instant.EPOCH)
          .getTotalSeconds * 1000000L
        if (offUs == 0L) parsed
        else timestamp_micros(unix_micros(parsed) - offUs)
      } else {
        // DST-bearing region zone: the native codegen expression (keeps
        // this projection inside whole-stage codegen; TzLocalizeSpec checks
        // it against a UDF oracle)
        graft.plans.GraftExtensions.register(input.sparkSession)
        call_function("tz_localize", parsed, lit(effectiveSourceTz))
      }

    if (!tzAware && sourceTz.isEmpty && policyIfNa == "require_source")
      throw new IllegalArgumentException(
        "timezone.policy_if_na=require_source: timestamps are tz-naive and " +
          "no source timezone is configured")

    val (tzAction, needsReviewBase) =
      if (tzAware) ("already_tzaware", false)
      else if (sourceTz.isDefined) (s"localized_to_${sourceTz.get}", false)
      else ("localized_to_UTC_assumed", true) // assume_utc / mark_needs_review

    val withTs = casted
      .withColumn("_ts_parsed", parsed)
      .withColumn(TsCol + "_new", localized)
      .drop(dtCol)
      .withColumnRenamed(TsCol + "_new", TsCol)

    // O8: dedup keep-first in file order (pre-sort — normalize.py:271 vs 275)
    val dedupKeys = partitionCols.filter(withTs.columns.contains)
    // RANGE layout: repartitionByRange(keys, stamp) then one partition-local
    // sort. The dedup window partitions by (keys, stamp) ordered by file
    // order — RangePartitioning(keys, stamp) satisfies that window's
    // ClusteredDistribution and the sort matches its required ordering, so
    // Catalyst inserts NO further exchange and NO further sort (asserted by
    // CrossPartitionSpec's plan test). A row survives iff it is the first
    // file-order occurrence of its stamp (equal stamps — and all-NaT runs —
    // share a window partition, so they dedup to their first row exactly
    // like pandas index.duplicated).
    //
    // Why range and not hash-by-key: hash(keys) puts a symbol's ENTIRE
    // history through one task — the per-symbol straggler/spill that kills
    // a hot symbol at 100 TB. The range layout splits a series across
    // consecutive ordered partitions; downstream per-series scans (FastFill,
    // SMA) stay narrow via cross-partition boundary seeds.
    val w = Window.partitionBy((dedupKeys :+ TsCol).map(col): _*)
      .orderBy(col(Readers.FileOrderCol).asc)
    val numbered =
      RangeScan.layout(withTs, dedupKeys, thenBy = Seq(Readers.FileOrderCol))
        .withColumn("_rn", row_number().over(w))
    def dedup(in: DataFrame): DataFrame =
      in.filter(col("_rn") === 1)
        .drop("_rn", "_ts_parsed", Readers.FileOrderCol)

    // The report counters, observed on every pre-dedup row ABOVE the range
    // exchange (its sampling job runs below it and is never counted):
    // numeric coercion counts (total nulls after cast — normalize.py:104-109
    // counts pre-existing NaNs too), parse-NaT count, post-localize NaT
    // count (ambiguous), the rows the dedup keeps, and the first non-null
    // series key in file order. Plain aggregates, so they ride the caller's
    // first action on `unsorted` instead of a job of their own.
    val numericCols = CoercedCols.filter(withTs.columns.contains)
    def nulls(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    val observation = if (computeReport) Some(Observation()) else None
    val unsorted = observation.fold(dedup(numbered)) { o =>
      val aggs = Seq(count(lit(1)).as("_n"),
        sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("_kept"),
        nulls(col("_ts_parsed")).as("_parse_nat"),
        nulls(col(TsCol)).as("_loc_nat")) ++
        numericCols.map(c => nulls(col(c)).as(s"_nc_$c")) ++
        dedupKeys.map(k => min_by(col(k),
          when(col(k).isNotNull, col(Readers.FileOrderCol))).as(s"_first_$k"))
      dedup(numbered.observe(o, aggs.head, aggs.tail: _*))
    }

    // O9: final sort; pandas sort_index puts NaT last.
    val sorted = dedup(numbered).orderBy(col(TsCol).asc_nulls_last)

    def buildReport(observed: Option[Row]): ListMap[String, Any] = {
      def n(c: String) = observed.fold(0L)(_.getAs[Long](c))
      val ambiguousNats = n("_loc_nat")
      Json.obj(
        "columns" -> colReport,
        "dtypes" -> Json.obj(
          "missing_required" -> Seq.empty[String],
          "numeric_coercions" ->
            (if (observed.isEmpty) ListMap.empty[String, Long]
             else ListMap(numericCols.map(c => c -> n(s"_nc_$c")): _*))),
        "datetime" -> Json.obj(
          "datetime_col" -> dtCol,
          "coerced_rows" -> n("_parse_nat"),
          "tz_action" -> tzAction,
          "original_tz" -> originalTzStr,
          "final_tz" -> targetTz,
          "ambiguous_count" -> ambiguousNats,
          "needs_review" -> (needsReviewBase || ambiguousNats > 0)),
        // removed = preDedup - postDedup (pandas counts all-NaT stamps as
        // duplicates of each other too, which the stamp-keyed dedup mirrors)
        "duplicates" -> Json.obj("removed_duplicates" -> (n("_n") - n("_kept"))))
    }

    new Result(sorted, unsorted, observation, buildReport, dedupKeys)
  }
}
