package graft.streaming

import java.sql.Timestamp

import graft.core.Rules
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's time-series operators
  * (SURVEY.md §2.3 "Streaming" row: the batch resample maps 1:1 to an
  * event-time tumbling window; gap detection becomes keyed state).
  *
  * The batch reference is batch-only (src/etl/transform/resample.py is the
  * tumbling-window analog); these entry points run the SAME aggregation
  * map over `readStream` sources with watermarked event time, so a user
  * can point the pipeline at a live feed without rewriting semantics.
  *
  * Scale notes: state is keyed by SYMBOL — partition count follows
  * `spark.sql.shuffle.partitions`, state size is O(symbols), and
  * watermarks bound both lateness and state retention.
  */
object StreamingOps {

  /** Micro-precision Timestamp: `new Timestamp(ms)` would truncate the
    * sub-millisecond digits that the driver's event feed carries (and the
    * DuckDB oracle replays) — set the full fractional nanos explicitly.
    */
  private def tsFromMicros(us: Long): Timestamp = {
    val sec = Math.floorDiv(us, 1000000L)
    val t = new Timestamp(sec * 1000L)
    t.setNanos(((us - sec * 1000000L) * 1000L).toInt)
    t
  }

  /** Epoch micros of a Timestamp (getTime alone drops sub-ms digits). */
  private def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Native stream-stream interval join (Spark's watermarked two-stream
    * join): each left row matches right rows of the same key whose event
    * time falls in `[leftTs − lookback, leftTs]` — click-before-purchase
    * attribution, quote-context attach, any bounded-history enrichment.
    *
    * This is the one streaming shape where Spark itself manages BOTH
    * buffers: the equality key routes the two streams to the same state
    * partition and the time-range conjunct + watermarks bound each side's
    * retained rows (left evicts at `wm − 0`, right at `wm − lookback`).
    * No mapGroupsWithState needed — the declarative condition IS the
    * state-cleanup contract, so it survives 100 TB/day feeds as long as
    * `lookback` stays bounded.
    *
    * Column names must be disjoint across the two inputs (the condition
    * references both sides by name).
    */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame,
                            leftKey: String, rightKey: String,
                            leftTs: String, rightTs: String,
                            lookback: String = "30 minutes",
                            delay: String = "1 minute"): DataFrame =
    left.withWatermark(leftTs, delay)
      .join(right.withWatermark(rightTs, delay),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
          col(rightTs) <= col(leftTs),
        "inner")

  /** Event-time OHLCV resample over a stream: tumbling window of `rule`,
    * watermark `delay` for late data. min_by/max_by give deterministic
    * open/close exactly as in the batch operator.
    */
  def streamingResample(stream: DataFrame, rule: String,
                        delay: String = "1 minute",
                        tsCol: String = "TIMESTAMP",
                        symbolCol: String = "SYMBOL"): DataFrame = {
    val dur = s"${Rules.stepSeconds(rule)} seconds"
    val cols = stream.columns.toSet
    val ts = col(tsCol)
    var aggs = Vector.empty[(String, org.apache.spark.sql.Column)]
    if (cols.contains("OPEN")) aggs :+= "OPEN" ->
      min_by(col("OPEN"), when(col("OPEN").isNotNull, ts))
    if (cols.contains("HIGH")) aggs :+= "HIGH" -> max(col("HIGH"))
    if (cols.contains("LOW")) aggs :+= "LOW" -> min(col("LOW"))
    if (cols.contains("CLOSE")) aggs :+= "CLOSE" ->
      max_by(col("CLOSE"), when(col("CLOSE").isNotNull, ts))
    if (cols.contains("VOLUME")) aggs :+= "VOLUME" ->
      coalesce(sum(col("VOLUME")), lit(0.0))
    stream
      .withWatermark(tsCol, delay)
      .groupBy(col(symbolCol), window(ts, dur).as("bucket"))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
      .select(col(symbolCol) +: col("bucket.start").as(tsCol) +:
        aggs.map { case (n, _) => col(n) }: _*)
  }

  /** Streaming form of `Analytics.aggState` — the incremental-ETL state
    * table maintained live: per-key count / DECIMAL sum / min / max as a
    * streaming aggregation in Update mode. Because every component is
    * algebraic, the state after any prefix of the stream is bit-identical
    * to `Analytics.aggState` over the same rows batch-side (and to any
    * `mergeAggStates` fold of them — the q115 invariant); the spec pins
    * that equivalence. State is O(keys), exactly the batch state table's
    * size; for unbounded key spaces window the key by event time and
    * watermark it, as the other entry points here do.
    */
  def streamingAggState(stream: DataFrame, keyCol: String,
                        valueCol: String): DataFrame =
    stream.groupBy(col(keyCol).cast("long").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,6)")).as("s"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Streaming form of `Analytics.applyChangelog`'s latest-change
    * resolution: per key, the current winner under the same
    * `(ts, op, value)` total order, maintained live as an update-mode
    * `max_by` aggregation. Rows whose winning op is 'D' are retraction
    * markers — a downstream sink applies them as deletes, exactly the
    * rows `applyChangelog` filters out batch-side; the spec pins the
    * filtered stream state equal to the batch operator over the same
    * rows. State is O(keys), the size of the table being maintained.
    */
  def streamingLatestChange(stream: DataFrame, keyCol: String,
                            valueCol: String, tsCol: String,
                            opCol: String): DataFrame =
    stream
      .groupBy(col(keyCol).cast("long").as("k"))
      .agg(max_by(struct(col(opCol).as("op"), col(valueCol).as("v")),
        struct(col(tsCol), col(opCol), col(valueCol))).as("_w"))
      .select(col("k"), col("_w.op").as("op"), col("_w.v").as("v"))

  /** Streaming dedup — the O8 keep-first analog for live feeds: duplicate
    * (SYMBOL, TIMESTAMP) ticks within the watermark horizon are dropped
    * (the first arrival wins, which is exactly batch keep-first-in-file-
    * order when arrival order stands in for file order). State = one entry
    * per distinct key inside the horizon, expired BY the watermark —
    * `dropDuplicatesWithinWatermark` bounds state where a bare
    * `dropDuplicates` on a stream would retain every key forever (the
    * unbounded-state trap at 100 TB/day feeds).
    */
  def streamingDedup(stream: DataFrame, delay: String = "1 minute",
                     tsCol: String = "TIMESTAMP",
                     symbolCol: String = "SYMBOL"): DataFrame =
    stream
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(symbolCol, tsCol)

  /** Streaming incremental cross-corpus dedup — the live-ingest twin of
    * `Dedup.notSeen`: drop stream rows whose `textCol` already exists in a
    * STATIC seen corpus. The seen side collapses to a fixed-size Bloom
    * sketch applied row-by-row through the same native
    * `bloom_might_contain` predicate — a STATELESS map-side filter, so it
    * composes with any downstream stateful stage and adds zero streaming
    * state of its own (a stream-static anti-JOIN would re-shuffle every
    * micro-batch against the corpus instead).
    *
    * Trade-off vs the batch form: no exact anti-join backstop here —
    * sketch hits are DROPPED, so ~fpp of genuinely-new rows are lost.
    * Size `fpp` for the feed's tolerance (2^-20 ≈ one false drop per
    * million docs at ~4 bytes/item), or route sketch hits to a side sink
    * and reconcile exactly in batch.
    */
  def streamingNotSeen(stream: DataFrame, seen: DataFrame, textCol: String,
                       expectedSeen: Long = 1000000L,
                       fpp: Double = 0.000001): DataFrame = {
    graft.plans.GraftExtensions.register(seen.sparkSession)
    val bloom = seen
      .select(xxhash64(col(textCol)).as("_h"))
      .stat.bloomFilter("_h", expectedSeen, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    stream.filter(!call_function("bloom_might_contain",
      lit(bytes), xxhash64(col(textCol))))
  }

  final case class BandRow(docId: Long, ts: Timestamp, band: Int, bh: Long)
  final case class NearDupHit(docId: Long, dupOf: Long, band: Int)
  /** Keyed state: the first doc id that claimed an LSH band bucket.
    * `lastUs` is epoch MICROS (the ownership race orders by true event
    * time; the events feed carries sub-millisecond digits).
    *
    * STATE-SCHEMA BREAK (r12): this field was `lastMs` (epoch millis)
    * before the micros-precision fix. A production deployment restarting
    * `streamingNearDup` from a pre-r12 checkpoint fails Spark's state
    * value-schema check on the renamed field — a named, expected event:
    * drain or discard the old checkpoint and start fresh (the in-repo
    * replay harness always starts from an empty checkpoint, so gates are
    * unaffected). Keeping the old name would have silently reinterpreted
    * millis as micros, which is worse than the loud schema failure.
    */
  final case class BucketOwner(docId: Long, lastUs: Long)

  /** Streaming MinHash near-dup detection — the live twin of the batch
    * LSH pair generator (`Dedup.minHashLshPairs`): each arriving document
    * projects to the SAME seed-fixed banded signature (one fused codegen
    * pass, stateless), and a keyed state per (band, band-hash) bucket
    * remembers the first document that claimed the bucket. A later
    * document landing in an owned bucket emits a [[NearDupHit]]
    * (`docId`, `dupOf` = owner, `band`).
    *
    * Output is an EVIDENCE stream, at-least-once per matching band: a doc
    * colliding with its near-twin on three bands emits three hits. The
    * per-doc reduce (distinct / min-dupOf, and est-Jaccard verification
    * against the kept doc) is the consumer's job — a second stateful
    * per-doc stage here would chain flatMapGroupsWithState into another
    * stateful operator, which Structured Streaming's correctness rules
    * don't admit in append mode; in practice the evidence stream lands in
    * the sink and the exact batch verify (q41's shape) runs there.
    *
    * State is one (owner id, stamp) pair per OCCUPIED bucket inside the
    * retention horizon, retired by `EventTimeTimeout` — the same bounded-
    * state trade as [[streamingNotSeen]]: a duplicate arriving after its
    * bucket retired re-registers as fresh, and the quiet-period miss is
    * reconciled by the batch dedup that owns beyond-horizon history.
    */
  def streamingNearDup(docs: DataFrame, idCol: String, textCol: String,
                       tsCol: String, numHashes: Int = 64, bands: Int = 16,
                       shingleSize: Int = 5, delay: String = "1 minute",
                       retention: String = "1 hour"): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val banded = graft.operators.Dedup.withMinHash(
        docs.withWatermark(tsCol, delay)
          .select(col(idCol), col(textCol), col(tsCol)),
        idCol, textCol, numHashes, bands, shingleSize, carry = Seq(tsCol))
      .select(col("id").cast("long").as("docId"),
        col(tsCol).as("ts"), // keeps the event-time tag for EventTimeTimeout
        posexplode(col("bands")).as(Seq("band", "bh")))
      .as[BandRow]
    banded
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow],
         state: GroupState[BucketOwner]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // arrival order within a micro-batch is nondeterministic;
            // (event time, id) makes the ownership race reproducible —
            // event time at MICROS precision (getTime truncates to ms, and
            // two docs whose stamps differ only below a millisecond would
            // otherwise tie-break by id instead of true event time)
            val sorted = rows.toSeq.sortBy(r => (micros(r.ts), r.docId))
            var owner = state.getOption.map(_.docId).getOrElse(-1L)
            var lastUs = state.getOption.map(_.lastUs).getOrElse(0L)
            val out = Seq.newBuilder[NearDupHit]
            for (r <- sorted) {
              if (owner < 0) owner = r.docId
              else if (owner != r.docId) out += NearDupHit(r.docId, owner, key._1)
              lastUs = math.max(lastUs, micros(r.ts))
            }
            state.update(BucketOwner(owner, lastUs))
            state.setTimeoutTimestamp( // timeout API is ms-granular
              math.max(state.getCurrentWatermarkMs() + 1, lastUs / 1000L),
              retention)
            out.result().iterator
          }
      }
  }

  /** Streaming sessionization — the live form of batch q47: events gap
    * into sessions when a key goes quiet for `gap`, via Spark's native
    * `session_window` aggregation (merging session state is managed by the
    * engine, bounded by the watermark — sessions finalize and evict once
    * the watermark passes their close, so state is O(open sessions), not
    * O(history)). Emits one row per closed session: key, session start /
    * end, event count.
    */
  def streamingSessionize(stream: DataFrame, gap: String,
                          delay: String = "1 minute",
                          tsCol: String = "ts",
                          keyCol: String = "user_id"): DataFrame =
    stream
      .withWatermark(tsCol, delay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  final case class Tick(symbol: String, ts: Timestamp, close: Double)
  final case class GapEvent(symbol: String, start: Timestamp, end: Timestamp,
                            missingCount: Long)
  final case class LastSeen(tsMicros: Long)

  /** (streamingGapDetect below): stateful streaming gap detection — per
    * symbol, emit a GapEvent whenever consecutive ticks are further apart
    * than the grid step, the streaming analog of O12. State = last stamp
    * per symbol (O(symbols), a few bytes each), retired by
    * `EventTimeTimeout` keyed to the watermark; a processing-time timeout
    * would keep the engine scheduling wake-up batches forever, which
    * blocks processAllAvailable-style draining in tests and batch jobs.
    */
  final case class AsofEvent(symbol: String, ts: Timestamp, eventId: Long)
  final case class AsofQuote(symbol: String, ts: Timestamp, value: Double)
  final case class AsofOut(symbol: String, ts: Timestamp, eventId: Long,
                           asofValue: Option[Double])
  /** Internal tagged-union row (public: Catalyst's generated encoder
    * cannot access a private class).
    */
  final case class AsofRow(symbol: String, ts: Timestamp, side: Int,
                           eventId: Long, value: Double)
  final case class QuoteSeen(tsMicros: Long, value: Double)
  /** Keyed state: the quote buffer, ascending by stamp. Bounded by the
    * watermark — everything except the floor quote at the watermark is
    * inside the lateness horizon.
    */
  final case class AsofState(quotes: Seq[QuoteSeen])

  /** Streaming as-of attach — the live-feed analog of `AsofJoin.asof`:
    * each event gets the latest quote with `quote.ts <= event.ts` for its
    * key. Both feeds union into one tagged watermarked stream; keyed state
    * is a time-ordered quote buffer, so an event arriving in a LATER
    * micro-batch than a newer quote still matches its true at-or-before
    * quote (a newest-quote-only state silently diverges from
    * `AsofJoin.asof` exactly there). Equal stamps match (`<=`), the batch
    * operator's convention.
    *
    * Bounds, both via the event-time watermark (`delay`):
    *  - buffer size: events older than the watermark are dropped by Spark
    *    before reaching the state function, so only the newest quote
    *    at-or-before the watermark plus every quote after it are retained;
    *  - state lifetime: a symbol whose feeds go quiet is retired by
    *    `EventTimeTimeout` once the watermark passes its newest quote by
    *    `retention` — events for a retired symbol get no match (quote
    *    drop), the documented trade of bounded state.
    *
    * @param toleranceSec the batch operator's pandas-merge_asof-style
    *        match window ([[graft.operators.AsofJoin.asof]] `toleranceSec`):
    *        when set, a floor quote older than the event by MORE than this
    *        many seconds attaches as None instead — compared at
    *        MICROSECOND precision on the same stamps the batch form uses,
    *        so the two agree row for row on the same feed (spec-pinned).
    *        The buffer, eviction and retirement are tolerance-agnostic:
    *        only the emit decision changes.
    */
  def streamingAsof(events: Dataset[AsofEvent], quotes: Dataset[AsofQuote],
                    delay: String = "1 minute",
                    retention: String = "1 hour",
                    toleranceSec: Option[Long] = None): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    val tagged =
      quotes.map(q => AsofRow(q.symbol, q.ts, 0, 0L, q.value))
        .unionByName(
          events.map(e => AsofRow(e.symbol, e.ts, 1, e.eventId, 0.0)))
        .withWatermark("ts", delay)
    tagged
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (symbol: String, rows: Iterator[AsofRow], state: GroupState[AsofState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toSeq
            // merge this batch's quotes into the buffer; the sort is stable,
            // so at equal stamps the later arrival wins (feed-correction
            // semantics, matching the old sorted-merge scan)
            val merged = (state.getOption.map(_.quotes).getOrElse(Seq.empty) ++
                batch.filter(_.side == 0)
                  .map(r => QuoteSeen(micros(r.ts), r.value)))
              .sortBy(_.tsMicros)
            // deterministic output order within the batch: event time, id.
            // Two-pointer scan: events ascend, so the floor-quote cursor
            // only moves forward — O(events + quotes) per invocation where
            // a per-event takeWhile was O(events × quotes) and turned one
            // hot key's micro-batch quadratic (the 10× rehearsal measured
            // 84 s on 5 keys before this)
            val mergedArr = merged.toArray
            var qi = 0
            val out = batch.filter(_.side == 1)
              .sortBy(r => (micros(r.ts), r.eventId))
              .map { r =>
                val t = micros(r.ts)
                while (qi < mergedArr.length && mergedArr(qi).tsMicros <= t)
                  qi += 1
                // qi = first quote PAST t, so qi-1 is the last at-or-before
                // (at equal stamps the later arrival wins, as before)
                val at = if (qi == 0) None else Some(mergedArr(qi - 1))
                val inTol = at.filter(q => toleranceSec.forall(tol =>
                  t - q.tsMicros <= tol * 1000000L))
                AsofOut(symbol, r.ts, r.eventId, inTol.map(_.value))
              }
            // evict below the watermark: future events all have
            // ts >= watermark, so they can only ever need the newest quote
            // at-or-before it (their floor) and anything after it
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val floorIdx = merged.lastIndexWhere(_.tsMicros <= wmUs)
            val kept = if (floorIdx <= 0) merged else merged.drop(floorIdx)
            if (kept.nonEmpty) {
              state.update(AsofState(kept))
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1,
                  Math.floorDiv(kept.last.tsMicros, 1000L)), retention)
            } else state.remove()
            out.iterator
          }
      }
  }

  /** Repaired stream row: real ticks pass through with
    * `generated = false`; synthesized grid rows carry the forward-filled
    * value and `generated = true` (the streaming analog of the batch
    * repair's `_generated` accounting column).
    */
  final case class RepairedTick(symbol: String, ts: Timestamp,
                                close: Double, generated: Boolean)
  /** Keyed repair state: ticks still above the watermark (not yet final)
    * plus the last emitted (stamp, value) — the ffill carry. Bounded: the
    * buffer holds at most one lateness horizon of ticks, the carry is two
    * fields.
    */
  final case class RepairState(pending: Seq[QuoteSeen],
                               lastUs: Long, lastVal: Double,
                               hasLast: Boolean)

  /** Streaming gap REPAIR — the ffill stage of batch O13 for live feeds:
    * missing grid stamps between consecutive ticks are synthesized with
    * the previous tick's value carried forward (VOLUME-style ffill;
    * interpolation needs the gap's far edge and belongs to the consumer
    * that sees both, e.g. a downstream batch pass).
    *
    * Output is emitted only once the watermark has passed a tick, so a
    * LATE tick (within `delay`) slots into its true grid position before
    * anything around it is finalized — emission order per symbol is
    * strictly by event time, and fills bridge the actual neighbors, never
    * a premature pair. Until then ticks wait in keyed state (bounded by
    * the lateness horizon). Duplicate stamps keep the first arrival (the
    * O8 convention). Finalized rows leave on the symbol's NEXT invocation
    * (data arrival or timeout) after the watermark passes them — the
    * standard lag of watermark-finalized buffering.
    *
    * State retirement mirrors [[streamingAsof]]: once the watermark passes
    * a symbol's newest tick by `retention`, the symbol times out
    * (`EventTimeTimeout`), its still-pending ticks FLUSH (emitted with
    * their fills — nothing buffered is lost), and the carry is dropped —
    * a tick after retirement restarts the series fresh, so the quiet
    * stretch itself is never filled (the documented bounded-state trade,
    * same as [[streamingGapDetect]]).
    */
  def streamingGapRepair(ticks: Dataset[Tick], rule: String,
                         delay: String = "1 minute",
                         retention: String = "1 hour"): Dataset[RepairedTick] =
    gapRepairEngine(ticks, rule, delay, retention, blend = false)

  /** Streaming linear INTERPOLATION — the other half of batch O13
    * ([[graft.operators.Gaps.repairGaps]]'s linear interpolation) that the
    * ffill-only repair deliberately deferred: synthesized grid rows blend
    * linearly between the gap's two real edges instead of carrying the
    * left edge.
    *
    * Interpolation needs the gap's FAR edge, so a fill can only be
    * emitted once the closing tick is final — which costs nothing extra
    * here: [[streamingGapRepair]]'s watermark-finalized buffering already
    * emits a gap's fills together with its closing tick (emission is
    * strictly by event time per symbol), so the closing value is always
    * in hand when the fills materialize. The only price vs ffill is
    * inherent to the semantics: a gap still OPEN at the lateness horizon
    * has emitted nothing yet (ffill could have emitted its left-edge
    * carries), i.e. one extra watermark delay for in-gap rows, never for
    * real ticks. Blending is time-proportional —
    * `v0 + (v1-v0)·(g-t0)/(t1-t0)` — which on grid stamps equals the
    * batch operator's positional `(i-p)/(n-p)` exactly.
    *
    * Late data, dedup, retirement flush, and state bounds are identical
    * to [[streamingGapRepair]] (shared engine).
    */
  def streamingGapInterpolate(ticks: Dataset[Tick], rule: String,
                              delay: String = "1 minute",
                              retention: String = "1 hour"): Dataset[RepairedTick] =
    gapRepairEngine(ticks, rule, delay, retention, blend = true)

  private def gapRepairEngine(ticks: Dataset[Tick], rule: String,
                              delay: String, retention: String,
                              blend: Boolean): Dataset[RepairedTick] = {
    import ticks.sparkSession.implicits._
    val stepUs = Rules.stepMicros(rule)

    ticks
      .withWatermark("ts", delay)
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (symbol: String, rows: Iterator[Tick], state: GroupState[RepairState]) =>
          val st = state.getOption
            .getOrElse(RepairState(Seq.empty, 0L, 0.0, hasLast = false))
          // stable sort: at equal stamps the earlier arrival stays first,
          // so the keep-first dedup below is arrival-order faithful
          val merged = (st.pending ++ rows.toSeq
            .map(t => QuoteSeen(micros(t.ts), t.close)))
            .sortBy(_.tsMicros)

          // ticks at-or-below the watermark are final (Spark admits no
          // later row below it); on timeout everything flushes
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (fin, pending) =
            if (state.hasTimedOut) (merged, Seq.empty[QuoteSeen])
            else merged.span(_.tsMicros <= wmUs)

          val out = Seq.newBuilder[RepairedTick]
          var lastUs = st.lastUs
          var lastVal = st.lastVal
          var hasLast = st.hasLast
          for (t <- fin) {
            if (!(hasLast && t.tsMicros <= lastUs)) { // keep-first dedup
              if (hasLast && t.tsMicros - lastUs > stepUs) {
                var g = lastUs + stepUs
                while (g < t.tsMicros) {
                  val v =
                    if (blend) lastVal + (t.value - lastVal) *
                      ((g - lastUs).toDouble / (t.tsMicros - lastUs))
                    else lastVal
                  out += RepairedTick(symbol, tsFromMicros(g), v,
                    generated = true)
                  g += stepUs
                }
              }
              out += RepairedTick(symbol, tsFromMicros(t.tsMicros), t.value,
                generated = false)
              lastUs = t.tsMicros
              lastVal = t.value
              hasLast = true
            }
          }

          if (state.hasTimedOut) {
            state.remove()
          } else {
            state.update(RepairState(pending, lastUs, lastVal, hasLast))
            val newestUs =
              pending.lastOption.map(_.tsMicros)
                .getOrElse(if (hasLast) lastUs else wmUs)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                Math.floorDiv(newestUs, 1000L)), retention)
          }
          out.result().iterator
      }
  }

  /** @param delay watermark lateness bound on tick event time.
    * @param retention how far past a symbol's last tick the watermark may
    *        advance before its state is retired (`EventTimeTimeout`). A
    *        tick arriving AFTER retirement restarts the symbol fresh — the
    *        quiet period emits no GapEvent, the documented trade of
    *        bounded state (an unbounded-retention deployment would flag it
    *        as one giant gap).
    */
  def streamingGapDetect(ticks: Dataset[Tick], rule: String,
                         delay: String = "1 minute",
                         retention: String = "1 hour"): Dataset[GapEvent] = {
    import ticks.sparkSession.implicits._
    val stepUs = Rules.stepMicros(rule)

    ticks
      .withWatermark("ts", delay)
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (symbol: String, rows: Iterator[Tick], state: GroupState[LastSeen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(t => micros(t.ts))
            var lastUs = state.getOption.map(_.tsMicros).getOrElse(Long.MinValue)
            val out = Seq.newBuilder[GapEvent]
            for (t <- sorted) {
              val us = micros(t.ts)
              if (lastUs != Long.MinValue && us - lastUs > stepUs) {
                out += GapEvent(symbol,
                  tsFromMicros(lastUs + stepUs),
                  tsFromMicros(us - stepUs),
                  (us - lastUs) / stepUs - 1)
              }
              lastUs = math.max(lastUs, us)
            }
            state.update(LastSeen(lastUs))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                Math.floorDiv(lastUs, 1000L)), retention)
            out.result().iterator
          }
      }
  }

  final case class DebEvent(userId: Long, eventType: String, ts: Timestamp,
                            eventId: Long)

  /** Streaming debounce — the live form of batch q186's stateless-lag
    * rule: an event is suppressed when it arrives within `quietUs` of
    * the PREVIOUS event on its (user, type) key — the previous event,
    * not the previous kept one, so the batch `lag()` window and this
    * stateful form agree row for row on an in-order feed (the spec pins
    * that equality). State is ONE timestamp per active key, retired by
    * event-time timeout once the key sits quiet past `retention` — at
    * firehose scale the state store holds O(active keys), never history.
    */
  def streamingDebounce(events: Dataset[DebEvent],
                        quietUs: Long = 5000000L,
                        delay: String = "1 minute",
                        retention: String = "1 hour"): Dataset[DebEvent] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(e => (e.userId, e.eventType))
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, String), rows: Iterator[DebEvent],
         state: GroupState[LastSeen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // micro-precision stamps and sort: the batch q186 lag rule
            // compares unix_micros, so a ms-truncated stream would keep
            // rows the batch form debounces (sub-ms digits are real in
            // the driver's feed)
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.eventId))
            var lastUs = state.getOption.map(_.tsMicros)
              .getOrElse(Long.MinValue)
            val out = Seq.newBuilder[DebEvent]
            for (e <- sorted) {
              val us = micros(e.ts)
              if (lastUs == Long.MinValue || us - lastUs > quietUs) out += e
              lastUs = us
            }
            state.update(LastSeen(lastUs))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1,
                Math.floorDiv(lastUs, 1000L)), retention)
            out.result().iterator
          }
      }
  }
}
