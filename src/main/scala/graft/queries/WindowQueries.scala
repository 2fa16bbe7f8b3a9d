package graft.queries

import graft.core.{Tables, Timing}
import graft.queries.QueryUtils.fr
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gate queries Q18–Q23 + Q28–Q30 (SURVEY.md §2.4): the window-function
  * surface — OHLCV resample, ranking, lag/lead, frames, gaps-and-islands,
  * dedup keep-first, forward-fill, linear interpolation.
  *
  * Every window partitions by `user_id` (the SYMBOL analog): a global
  * `Window.orderBy` without partitioning serializes onto one task and is the
  * classic 100 TB trap (SURVEY.md §4.2). The only exception is q22 (ntile over
  * the whole relation), which is inherently global — noted there.
  *
  * Note on timestamps: `events.ts` is nanosecond parquet; Spark truncates to
  * microseconds on read, so every oracle SQL that *outputs* a raw ts casts it
  * to microsecond TIMESTAMP on the DuckDB side too.
  */
object WindowQueries {

  private def byUser = Window.partitionBy("user_id")

  /** q341's recall-tripwire failure, with each miss NAMED by which recall
    * contract broke (ADVICE r12): a missed doc that never appeared in the
    * evidence stream is a BANDING loss (no band collided — parameters or
    * corpus changed); one that surfaced but failed exact verify against
    * every bucket owner is the ownership HIJACK case (all its bands owned
    * by dissimilar earlier colliders) — acceptable-by-design on a pinned
    * corpus, actionable (more bands / per-band re-verify) on a
    * regenerated one. Extracted so the forced-miss spec can pin both
    * labels without rigging a banding miss into the real corpus.
    */
  private[graft] def recallRegression(missed: Seq[Long],
                                      surfaced: Set[Long]): Exception = {
    val named = missed.map(id => s"$id" + (if (surfaced(id))
      "[surfaced but failed verify vs its bucket owners: hijack]"
    else "[never surfaced in any band: banding recall loss]"))
    new IllegalStateException(
      "q341 MINHASH RECALL REGRESSION: banding+verify missed truly-" +
        s"similar docs ${named.mkString(", ")} — the exact >=0.5 " +
        "earlier-pair contract no longer holds at recall 1.0 (band/" +
        "shingle parameters or corpus changed?)")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // OHLCV tumbling resample (O14, "correct" mode). min_by/max_by with a
    // (ts, event_id) struct key give deterministic first/last inside a plain
    // hash aggregate — one shuffle, no row_number pre-pass needed
    // (cf. resample.py:39-100; the oracle keeps the portable row_number form).
    "q18_ohlcv_resample" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("bucket"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          round(sum(col("value").cast("decimal(28,10)")), 6)
            .cast("double").as("volume"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "bucket")
    },

    "q19_ranking_topk" -> { (s, d) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rk"),
          dense_rank().over(w).cast("long").as("drk"))
        .filter(col("rn") <= 3)
        .orderBy("c_mktsegment", "rn")
    },

    "q20_lag_lead" -> { (s, d) =>
      val w = byUser.orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          fr(col("value"), 6).as("v"),
          fr(lag(col("value"), 1).over(w), 6).as("pv"),
          fr(lead(col("value"), 1).over(w), 6).as("nv"))
        .orderBy("user_id", "event_id")
        .limit(500)
    },

    // SMA-10 + cumulative sum (O15; reporting.py:116).
    "q21_sma_cumsum" -> { (s, d) =>
      val w = byUser.orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          fr(avg(col("value")).over(w.rowsBetween(-9, 0)), 6).as("sma10"),
          fr(sum(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 6).as("csum"))
        .orderBy("user_id", "event_id")
        .limit(500)
    },

    // Inherently-global window (quartiles over the whole relation): fine at
    // report scale; at 100 TB quantiles come from the range-partitioned
    // rank below — the Sizing gate (r17) picks the side, value-identically.
    "q22_ntile_frames" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked =
        if (graft.core.Sizing.leafScanBytes(o) <=
            graft.core.Sizing.fanoutCkptBytes)
          o.select(col("o_orderkey"),
            ntile(4).over(w).cast("long").as("q"),
            fr(first(col("o_totalprice")).over(wf), 2).as("lo"),
            fr(last(col("o_totalprice")).over(wf), 2).as("hi"))
        else {
          // global rank via the range-decomposed running count of ones
          // ((o_totalprice, o_orderkey) is a total order — o_orderkey is
          // unique in orders), then Spark's NTile contract applied to the
          // rank: the first n%4 buckets hold n/4+1 rows, the rest n/4;
          // first/last over the full ordered frame ARE min/max.
          val rn = graft.queries.WarehouseQueries.gatedCensusCumsum(
            o.select(col("o_orderkey"), col("o_totalprice"))
              .withColumn("_one", lit(1L)),
            keys = Nil, order = Seq(col("o_totalprice"), col("o_orderkey")),
            valueCol = "_one", inclusive = true, cumName = "_rn",
            totName = Some("_n"))
          rn.crossJoin(broadcast(o.agg(
              fr(min(col("o_totalprice")), 2).as("lo"),
              fr(max(col("o_totalprice")), 2).as("hi"))))
            // coalesce(…, 0L): the CASE never yields null at runtime
            // (_rn/_n are total), but its STATIC nullability inherits the
            // window sums' nullable=true — the lazy branch's ntile is
            // non-nullable, and the two branches must agree on the schema,
            // not just the values (ADVICE r17 / ScaleWindowGateSpec pin)
            .withColumn("q", coalesce(expr(
              """CASE WHEN _rn <= (_n % 4) * ((_n div 4) + 1)
                 THEN (_rn - 1) div ((_n div 4) + 1)
                 ELSE (_n % 4) + ((_rn - 1) - (_n % 4) * ((_n div 4) + 1))
                      div greatest(_n div 4, 1) END + 1"""), lit(0L)))
            .select(col("o_orderkey"), col("q"), col("lo"), col("hi"))
        }
      ranked.orderBy("o_orderkey").limit(200)
    },

    // Gaps-and-islands gap detection (O12 primitive).
    "q23_gap_detect" -> { (s, d) =>
      val w = byUser.orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          lag(col("ts"), 1).over(w).as("prev_ts"))
        .filter(col("prev_ts").isNotNull &&
          col("ts") > col("prev_ts") + expr("INTERVAL 1 HOUR"))
        .orderBy("user_id", "ts", "event_id")
        .select(col("user_id"),
          col("prev_ts").cast("timestamp_ntz").as("prev_ts"),
          col("ts").cast("timestamp_ntz").as("ts"))
    },

    // Dedup keep-first (O8 analog: normalize.py:227-236).
    "q28_dedup_keep_first" -> { (s, d) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("kept"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy("user_id", "event_type")
    },

    // Forward-fill (O13 ffill; gaps.py:150-158) — nulls synthesized from
    // event_type='view'. Spark-idiomatic: last(ignoreNulls) over a running
    // frame; the oracle uses the portable count-partition form.
    "q29_forward_fill" -> { (s, d) =>
      val w = byUser.orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .withColumn("v", when(col("event_type") =!= "view", col("value")))
        .select(col("user_id"), col("event_id"),
          fr(last(col("v"), ignoreNulls = true).over(w), 6).as("v_ffill"))
        .orderBy("user_id", "event_id")
        .limit(1000)
    },

    // Sessionization (training-data pipeline staple): a >30-minute silence
    // starts a new session; one row per session with stats. Gaps-and-islands
    // via a running sum of new-session flags — one window pass + one agg.
    "q47_sessionize" -> { (s, d) =>
      val w = byUser.orderBy("ts", "event_id")
      val newSession = when(
        col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1)
        .otherwise(0)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          lag(col("ts"), 1).over(w).as("prev_ts"))
        .withColumn("new_s", newSession)
        .withColumn("session_no",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_no"))
        .agg(
          min(col("ts")).cast("timestamp_ntz").as("session_start"),
          count(lit(1)).as("n_events"),
          (unix_seconds(max(col("ts"))) - unix_seconds(min(col("ts"))))
            .as("duration_sec"))
        .orderBy("user_id", "session_no")
    },

    // Sliding event-time windows in BATCH via the native window() slide
    // form — the Structured-Streaming-compatible hopping aggregation
    // (every event lands in width/slide = 2 windows). The oracle replays
    // the phase decomposition: starts floor(t/300)·300 and that − 300.
    "q94_sliding_window" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), fr(sum(col("value")), 4).as("total"))
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"), col("total"))
        .orderBy("w_start", "event_type")
    },

    // Native session_window in BATCH beside q47's manual gaps-and-islands
    // form: same >30-minute-silence semantics, the session boundary at
    // EXACT gap == 30 min differs in principle (native closes at
    // prev + gap; q47's lag form keeps strictly-greater) but cannot
    // occur at sub-microsecond timestamp resolution.
    "q95_session_window" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          fr(sum(col("value")), 4).as("total"))
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz")
            .as("session_start"),
          col("n_events"), col("total"))
        .orderBy("user_id", "session_start")
    },

    // Linear positional interpolation with limit_direction='both'
    // (O13; gaps.py:167-169) — the same window algebra is packaged as the
    // reusable operators.Interpolate transformer.
    "q30_interpolate" -> { (s, d) =>
      val wPrev = byUser.orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
      // look-ahead via DESC running frame — an UnboundedFollowing frame is
      // O(n²) per partition in WindowExec (see operators.Interpolate)
      val wNext = byUser.orderBy(col("rn").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val vrn = when(col("v").isNotNull, col("rn"))
      Tables.events(s, d)
        .withColumn("v", when(col("event_type") =!= "view", col("value")))
        .withColumn("rn", row_number().over(byUser.orderBy("ts", "event_id")))
        .select(col("user_id"), col("event_id"), col("v"), col("rn"),
          last(col("v"), ignoreNulls = true).over(wPrev).as("pv"),
          last(col("v"), ignoreNulls = true).over(wNext).as("nv"),
          last(vrn, ignoreNulls = true).over(wPrev).as("prn"),
          last(vrn, ignoreNulls = true).over(wNext).as("nrn"))
        .select(col("user_id"), col("event_id"),
          fr(
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv"))
                * (col("rn") - col("prn")) / (col("nrn") - col("prn"))),
            6).as("v_interp"))
        .orderBy("user_id", "event_id")
        .limit(1000)
    },

    // Time-weighted average (Analytics.twap): lead-window holding intervals
    // in integer µs, DECIMAL×BIGINT weighted sum (summation-order-free),
    // double math only in the final fr-gridded division.
    "q101_twap" -> { (s, d) =>
      graft.operators.Analytics.twap(Tables.events(s, d), "value", "ts",
        Seq("user_id"), tieCols = Seq("event_id"))
        .orderBy("user_id")
    },

    // ── Streaming batch-equivalence gates (q331–q334) ──
    // Each replays a driver table through a file-backed micro-batch
    // stream, runs the StreamingOps mirror to completion, and returns the
    // sink table — so the DuckDB oracle now gates the STREAMING operators
    // (previously spec-pinned only; a drift between a mirror and its batch
    // twin becomes a red correctness row, not just a failing unit test).
    // The append-mode gates carry one far-future sentinel row: its
    // watermark advance closes every real window/session (Spark's no-data
    // micro-batch flush), and the sentinel's own group is filtered back
    // out. Results are sentinel-independent — the sentinel is 6 years past
    // the newest real event, beyond any gap/delay horizon.

    // Streaming sessionize (native session_window + watermark) replayed
    // over the events table: one row per CLOSED session. Boundary parity
    // with q95: a session closes at ts >= prev + gap (exclusive window
    // end), which the oracle replays with the same >= flag.
    "q331_streaming_sessionize" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        lit("2030-01-01 00:00:00").cast("timestamp").as("ts"))
      val out = replay(s, ev.unionByName(sentinel), "graft_q331") { st =>
        StreamingOps.streamingSessionize(st, gap = "30 minutes",
          delay = "1 minute", tsCol = "ts", keyCol = "user_id")
      }
      out.filter(col("user_id") >= 0L)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Streaming OHLCV-family resample (O14's live form) on the events
    // stream shaped as a VOLUME feed: tumbling 1-hour event-time windows,
    // emitted on watermark close. Epoch-aligned window() == date_trunc
    // hour in the oracle.
    "q332_streaming_resample" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val ev = Tables.events(s, d).select(col("event_type").as("SYMBOL"),
        col("ts").as("TIMESTAMP"), col("value").as("VOLUME"))
      val sentinel = s.range(1).select(lit("zz_sentinel").as("SYMBOL"),
        lit("2030-01-01 00:00:00").cast("timestamp").as("TIMESTAMP"),
        lit(0.0).as("VOLUME"))
      val out = replay(s, ev.unionByName(sentinel), "graft_q332") { st =>
        StreamingOps.streamingResample(st, "1H", delay = "1 minute")
      }
      out.filter(col("SYMBOL") =!= "zz_sentinel")
        .select(col("SYMBOL").as("event_type"),
          col("TIMESTAMP").cast("timestamp_ntz").as("bucket"),
          fr(col("VOLUME"), 4).as("total"))
        .orderBy("event_type", "bucket")
    },

    // Streaming keep-first dedup (O8's live form,
    // dropDuplicatesWithinWatermark): projected to the dedup key so the
    // arbitrary-winner row never reaches the compare — the emitted KEY SET
    // is deterministic, the surviving payload row is arrival-order and
    // belongs to the spec-pinned tests, not a hash gate.
    "q333_streaming_dedup" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val ev = Tables.events(s, d).select(col("event_type").as("SYMBOL"),
        col("ts").as("TIMESTAMP"))
      val out = replay(s, ev, "graft_q333") { st =>
        StreamingOps.streamingDedup(st, delay = "1 minute")
      }
      out.select(col("SYMBOL").as("event_type"),
          col("TIMESTAMP").cast("timestamp_ntz").as("ts"))
        .orderBy("event_type", "ts")
    },

    // Streaming incremental state table (Analytics.aggState's live form):
    // per-user count / exact DECIMAL sum / min / max in complete mode —
    // algebraic state, so the final table must equal the one-shot batch
    // aggregate bit-for-bit (the q115 invariant, now driver-gated).
    "q334_streaming_agg_state" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val ev = Tables.events(s, d).select(col("user_id"), col("value"))
      val out = replay(s, ev, "graft_q334", mode = "complete") { st =>
        StreamingOps.streamingAggState(st, "user_id", "value")
      }
      out.select(col("k").as("user_id"), col("n"),
          col("s").cast("double").as("s_sum"), col("mn"), col("mx"))
        .orderBy("user_id")
    },

    // Streaming CDC latest-change state (q116's live form): the events
    // feed recast as a changelog (error rows are D retraction markers),
    // resolved per user under the (ts, op, value) total order by the
    // update-mode max_by mirror. Order-insensitive by construction — the
    // argmax over a total order lands on the same winner whatever the
    // arrival interleaving — so the single-batch replay is exact.
    "q335_streaming_cdc" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val ev = Tables.events(s, d).select(col("user_id"),
        col("ts"), col("value"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
          .as("op"))
      val out = replay(s, ev, "graft_q335", mode = "complete") { st =>
        StreamingOps.streamingLatestChange(st, "user_id", "value", "ts", "op")
      }
      out.select(col("k").as("user_id"), col("op"), col("v"))
        .orderBy("user_id")
    },

    // ── q336–q341: the remaining streaming mirrors, oracle-gated ──

    // Streaming gap REPAIR (ffill half of O13, live form): the per-type
    // event series replayed through the watermark-finalized state machine;
    // missing 1-hour grid stamps between consecutive ticks synthesize with
    // the left edge carried forward. Input pre-dedups to one tick per
    // (symbol, stamp) via min_by(event_id) so the keep-first path is
    // deterministic for the oracle (arrival-order dedup stays spec-pinned).
    // The far-future sentinel advances the watermark past every real tick
    // PLUS the retention horizon, so all symbols flush via the timeout
    // path — the fills bridge true neighbors, nothing pends forever.
    "q336_streaming_gap_repair" -> { (s, d) =>
      import graft.streaming.StreamingOps
      import s.implicits._
      val ticks = Tables.events(s, d)
        .groupBy(col("event_type").as("symbol"), col("ts"))
        .agg(min_by(col("value"), col("event_id")).as("close"))
      val sentinel = s.range(1).select(lit("zz_sentinel").as("symbol"),
        lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
        lit(0.0).as("close"))
      val out = replay(s, ticks.unionByName(sentinel), "graft_q336", parts = 32) { st =>
        StreamingOps.streamingGapRepair(
          st.as[StreamingOps.Tick], "1H").toDF()
      }
      out.filter(col("symbol") =!= "zz_sentinel")
        .select(col("symbol").as("event_type"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("close"), col("generated"))
        .orderBy("event_type", "ts")
    },

    // Streaming linear INTERPOLATION (the other half of O13): same replay,
    // fills blend time-proportionally between the gap's two real edges —
    // the hardest state machine in StreamingOps (a fill needs the FAR edge,
    // emitted with the closing tick). fr-gridded: the blend is double math.
    "q337_streaming_gap_interpolate" -> { (s, d) =>
      import graft.streaming.StreamingOps
      import s.implicits._
      val ticks = Tables.events(s, d)
        .groupBy(col("event_type").as("symbol"), col("ts"))
        .agg(min_by(col("value"), col("event_id")).as("close"))
      val sentinel = s.range(1).select(lit("zz_sentinel").as("symbol"),
        lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
        lit(0.0).as("close"))
      val out = replay(s, ticks.unionByName(sentinel), "graft_q337", parts = 32) { st =>
        StreamingOps.streamingGapInterpolate(
          st.as[StreamingOps.Tick], "1H").toDF()
      }
      out.filter(col("symbol") =!= "zz_sentinel")
        .select(col("symbol").as("event_type"),
          col("ts").cast("timestamp_ntz").as("ts"),
          fr(col("close"), 6).as("close"), col("generated"))
        .orderBy("event_type", "ts")
    },

    // Streaming as-of attach (AsofJoin.asof's live form): quote feed =
    // every 5th event (deduped per stamp), event feed = the rest; both
    // ride ONE tagged replay stream and split inside, the exact shape
    // streamingAsof unions them back to. Each event gets the latest quote
    // at-or-before its stamp (<= inclusive). Emission is immediate (the
    // quote buffer, not the watermark, decides), so no sentinel is needed.
    "q338_streaming_asof" -> { (s, d) =>
      import graft.streaming.StreamingOps
      import s.implicits._
      val ev = Tables.events(s, d)
      val quotes = ev.filter(col("event_id") % 5 === 0)
        .groupBy(col("event_type").as("symbol"), col("ts"))
        .agg(min(col("value")).as("value"))
        .select(col("symbol"), col("ts"), lit(0).as("side"),
          lit(0L).as("eventId"), col("value"))
      val evs = ev.filter(col("event_id") % 5 =!= 0)
        .select(col("event_type").as("symbol"), col("ts"),
          lit(1).as("side"), col("event_id").as("eventId"),
          lit(0.0).as("value"))
      val out = replay(s, quotes.unionByName(evs), "graft_q338", parts = 32) { st =>
        StreamingOps.streamingAsof(
          st.filter(col("side") === 1)
            .select(col("symbol"), col("ts"), col("eventId"))
            .as[StreamingOps.AsofEvent],
          st.filter(col("side") === 0)
            .select(col("symbol"), col("ts"), col("value"))
            .as[StreamingOps.AsofQuote]).toDF()
      }
      out.select(col("symbol").as("event_type"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("eventId").as("event_id"), col("asofValue").as("asof_value"))
        .orderBy("event_id")
    },

    // Streaming incremental not-seen (Dedup.notSeen's live-ingest twin):
    // docs whose text already exists in the static seen corpus (every 7th
    // doc) drop at the Bloom screen — a stateless map-side codegen filter.
    // fpp = 1e-9 over ~20k expected items: the chance of ANY false drop on
    // the gate corpus is ~1e-5, so the exact NOT IN oracle is a true gate
    // (and a false positive would be a deterministic, named mismatch, the
    // documented sketch trade — the batch operator keeps the exact
    // anti-join backstop).
    "q339_streaming_not_seen" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val seen = docs.filter(col("doc_id") % 7 === 0)
      val out = replay(s, docs, "graft_q339") { st =>
        StreamingOps.streamingNotSeen(st, seen, "text",
          expectedSeen = 20000L, fpp = 1e-9)
      }
      out.select(col("doc_id")).orderBy("doc_id")
    },

    // Native stream-stream interval join: a user's even events (left)
    // match their odd events (right) whose stamp falls in the 30-minute
    // lookback window ending at the left stamp — Spark manages BOTH state
    // buffers declaratively (the time-range conjunct + watermarks bound
    // retention). One tagged replay source splits into the two sides.
    // Keying on user_id (~1.5k keys at sf0.1) is the realistic key
    // cardinality; the 5-value event_type key would degenerate the
    // symmetric state join into a per-key O(n²) range scan — exactly the
    // hot-key layout a production feed avoids (or salts).
    "q340_streaming_interval_join" -> { (s, d) =>
      import graft.streaming.StreamingOps
      val ev = Tables.events(s, d)
      val tagged = ev.select(col("user_id").as("k"), col("ts"),
        (col("event_id") % 2).as("side"), col("event_id").as("id"),
        col("value"))
      val out = replay(s, tagged, "graft_q340") { st =>
        StreamingOps.streamingIntervalJoin(
          st.filter(col("side") === 0)
            .select(col("k").as("l_user"), col("ts").as("l_ts"),
              col("id").as("l_id")),
          st.filter(col("side") === 1)
            .select(col("k").as("r_user"), col("ts").as("r_ts"),
              col("id").as("r_id"), col("value").as("r_value")),
          "l_user", "r_user", "l_ts", "r_ts",
          lookback = "30 minutes", delay = "1 minute")
      }
      out.select(col("l_id"), col("r_id"), col("r_value"))
        .orderBy("l_id", "r_id")
    },

    // Streaming MinHash near-dup detection, exact-verified (the q41 device
    // in live form): the evidence stream's distinct (doc, owner) pairs are
    // verified with exact 3-gram Jaccard >= 0.5 and projected to the
    // DETECTED DOC SET — the band hashes and bucket-ownership races stay
    // out of the compare (spec-pinned), while the oracle replays the
    // detection CONTRACT: a doc is detected iff an earlier doc (event time
    // = doc_id order) is >= 0.5-similar. Recall 1.0 on this corpus per the
    // q41 bimodality argument; ownership hijack by a background collider
    // would fail exact verify on that band but the cluster's own bands
    // still surface the doc.
    // FLOOR ARITHMETIC (VERDICT r15 item 4, measured via GRAFT_TIMING at
    // sf0.1, quiet host): the replay runs exactly TWO micro-batches —
    // batch 0 ingests all 5000 docs (1.5–1.7 s: minhash over 64 hashes ×
    // ~16 band rows/doc = ~80k (band, bh) state entries committed across
    // 8 store partitions) and batch 1 is Spark's no-data watermark-flush
    // batch (0.3–0.6 s of pure trigger + state-snapshot cadence, zero
    // rows). With the harness's parquet write + start/stop (~0.5 s) the
    // replay floor is ~2.2–2.5 s; the batch-side exact tripwire (shn
    // checkpoint + verify joins + shared-shingle pair census, the
    // recall guard the oracle contract requires) adds ~1.9 s. There is
    // no file-split lever left — batch 0 already reads every file — and
    // numHashes/bands are oracle-pinned, so ≤3 s total would mean
    // weakening either the production streaming shape or the exact
    // recall guard; the ~4.5 s steady state IS the floor.
    "q341_streaming_neardup" -> { (s, d) =>
      import graft.streaming.StreamingOps
      graft.plans.GraftExtensions.register(s)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
        timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"))
      val hits = Timing.timed("q341 replay")(
        replay(s, docs, "graft_q341") { st =>
          StreamingOps.streamingNearDup(st, "doc_id", "text", "ts",
            numHashes = 64, bands = 16, shingleSize = 3).toDF()
        })
      val pairs = hits.select(col("docId"), col("dupOf")).distinct()
      // localCheckpoint: this projection feeds every subplan below (two
      // verify joins on each side, the candidate explode, AND the exact-
      // dup grouping via the _h column) and Catalyst does not common-
      // subexpression across join branches — one materialization of the
      // 5k-row shingle+hash table replaces seven scans + shingle passes
      // of the corpus
      val shn = Timing.timed("q341 shn_checkpoint")(
        Tables.documents(s, d).select(col("doc_id"),
          call_function("shingle_hashes",
            transform(split(trim(lower(col("text"))), "\\s+"),
              t => xxhash64(t)), lit(3)).as("sh"),
          xxhash64(col("text")).as("_h"))
          .localCheckpoint())
      def verifyGe05(cands: DataFrame): DataFrame = cands
        .join(shn.select(col("doc_id").as("docId"), col("sh").as("_sa")),
          "docId")
        .join(shn.select(col("doc_id").as("dupOf"), col("sh").as("_sb")),
          "dupOf")
        .filter(size(array_intersect(col("_sa"), col("_sb"))).cast("double")
          / size(array_union(col("_sa"), col("_sb"))) >= 0.5)
        .select(col("docId").as("doc_id")).distinct()
      // 244 rows at sf0.1 — pinning them makes the tripwire's `except` and
      // the returned result share ONE evaluation of the verify joins (the
      // final orderBy used to re-run them after the tripwire had passed)
      val detected = Timing.timed("q341 verify_checkpoint")(
        verifyGe05(pairs).localCheckpoint())
      // ADVICE r11: the oracle is the exact all-pairs detection contract,
      // so the gate holds only while banding recall is exactly 1.0 — a
      // band/shingle parameter change or data regen that drops a truly-
      // similar pair from every band must be a NAMED failure here, not an
      // unexplained hash drift (the assertUncapped device, for recall).
      // The exact >=0.5 earlier-pair doc set decomposes over EXACT-
      // DUPLICATE text groups, so the candidate join runs on one
      // representative per distinct text (a verbatim re-crawl corpus
      // otherwise grows the shingle-bucket self-join quadratically in the
      // copy count — the 10× rehearsal measured 120 s on raw docs):
      //  - any non-minimal member of a text group is expected (J = 1
      //    against the group's earlier min);
      //  - a group MIN is expected iff another group with J >= 0.5 has a
      //    smaller min id (shared-shingle candidates are a complete
      //    superset: J >= 0.5 > 0 implies a shared shingle).
      // The tripwire shares the REPLAY harness's single-micro-batch frame
      // of reference, exactly like the DuckDB oracle it guards: in one
      // batch no bucket owner can retire mid-corpus, so "every earlier
      // similar doc" is the true detection contract. A multi-batch /
      // checkpointed feed would legitimately re-register duplicates
      // arriving past `retention` — this check (and the oracle) would
      // need the same horizon carve-out there.
      val groups = shn.groupBy(col("_h")).agg(min(col("doc_id")).as("_min"))
      val nonMin = shn.select(col("doc_id"), col("_h"))
        .join(groups, "_h").filter(col("doc_id") > col("_min"))
        .select(col("doc_id"))
      val reps = groups.select(col("_min").as("doc_id"))
        .join(shn.select(col("doc_id"), col("sh")), "doc_id")
      val ex = reps.select(col("doc_id"), explode(col("sh")).as("e"))
      // exact Jaccard by COUNTING shared shingles instead of re-attaching
      // both shingle arrays to every candidate pair: `sh` is a distinct
      // set per doc, so each shared hash contributes exactly one join row
      // — |A∩B| is a count aggregate over the self-join's narrow (a, b)
      // longs, and |A∪B| = |A| + |B| − |A∩B| from the per-rep sizes. Same
      // predicate as verifyGe05, minus the widest shuffle in the query
      // (the old form carried the arrays through the pair join and ran
      // array_intersect + array_union per pair: 4.2 s → measured ~2 s).
      val repSizes = reps.select(col("doc_id"), size(col("sh")).as("_n"))
      // the exploded (rep, shingle) table feeds BOTH sides of the pair
      // self-join below, and the branches are not common-subexpressioned:
      // un-materialized, each side replays shn-scan → group-min join →
      // explode. One eager checkpoint (≈½M narrow rows at sf0.1) halves
      // the tripwire's dominant stage (measured 1.2–2.3 s → ~0.9 s).
      val exM = Timing.timed("q341 tripwire_checkpoint")(ex.localCheckpoint())
      val expectedMins = exM.as("a")
        .join(exM.as("b"),
          col("a.e") === col("b.e") && col("a.doc_id") > col("b.doc_id"))
        .groupBy(col("a.doc_id").as("docId"), col("b.doc_id").as("dupOf"))
        .agg(count(lit(1)).as("_i"))
        .join(repSizes.select(col("doc_id").as("docId"),
          col("_n").as("_na")), "docId")
        .join(repSizes.select(col("doc_id").as("dupOf"),
          col("_n").as("_nb")), "dupOf")
        .filter(col("_i").cast("double")
          / (col("_na") + col("_nb") - col("_i")) >= 0.5)
        .select(col("docId").as("doc_id"))
      val expected = nonMin.unionByName(expectedMins).distinct()
      val missed = Timing.timed("q341 tripwire_collect")(
        expected.except(detected).limit(10).collect().map(_.getLong(0)))
      if (missed.nonEmpty) {
        val surfaced = pairs
          .filter(col("docId").isin(missed.map(Long.box): _*))
          .select(col("docId")).distinct().collect()
          .map(_.getLong(0)).toSet
        throw recallRegression(missed.toSeq, surfaced)
      }
      detected.orderBy("doc_id")
    },

    // Streaming heavy hitters — the live form of q74's two-pass device
    // (TextAnalysis.heavyHitters): a COMPLETE-mode global aggregation
    // maintains the Misra-Gries candidate sketch + exact token total as
    // streaming state (the sketch is a mergeable TypedImperativeAggregate,
    // so incremental micro-batch merges land on a valid ≥ n/k-superset
    // summary — the MG mergeability bound, same as the batch map-side
    // partials). The exact re-count over the ≤ capacity candidates is the
    // consumer's batch job, exactly as documented on streamingNearDup's
    // evidence stream; the final (term, cnt) set is therefore the EXACT
    // heavy-hitter set, which the q74 oracle replays engine-independently.
    // Streaming state: capacity longs + one total — O(1) in the corpus.
    "q342_streaming_heavy_hitters" -> { (s, d) =>
      import graft.operators.TextAnalysis
      graft.plans.GraftExtensions.register(s)
      val docs = Tables.documents(s, d).select(col("text"))
      val sk = replay(s, docs, "graft_q342", mode = "complete") { st =>
        st.select(transform(TextAnalysis.tokens(col("text")),
            t => xxhash64(t)).as("_wh"))
          .agg(call_function("misra_gries_keys", col("_wh"), lit(2048))
              .as("_cand"),
            sum(size(col("_wh")).cast("long")).as("_total"))
      }
      val row = sk.head()
      val cand = row.getSeq[Long](0)
      val total = if (row.isNullAt(1)) 0L else row.getLong(1)
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .filter(xxhash64(col("term")).isin(cand: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * lit(500L) >= lit(total))
        .orderBy(col("cnt").desc, col("term"))
    }
  )

  /** Replays a batch frame through a file-backed micro-batch stream and
    * runs `f` over it into a memory sink, blocking to completion
    * (including Spark's no-data watermark-flush batch). The REPLAY is the
    * harness — one coalesced file so everything lands in a single ordered
    * micro-batch and no real row can be late; the OPERATOR under test is
    * the production streaming shape (watermark-bounded state, append/
    * complete emission). At deployment scale the same plan reads a live
    * source instead; nothing here buffers beyond the memory sink holding
    * the gate-sized result.
    */
  private def replay(s: SparkSession, batch: DataFrame, name: String,
                     mode: String = "append", parts: Int = 8)(
      f: DataFrame => DataFrame): DataFrame = {
    // scratch on tmpfs when available: the input copy is re-read once, and
    // the checkpoint WAL + state-store deltas fsync on EVERY micro-batch
    // commit — on the spinning /tmp those fsyncs made the streaming gates
    // swing 2-4x with unrelated disk traffic. Deleted below either way, so
    // tmpfs never accumulates (the Bench stale-scratch lesson).
    val shm = java.nio.file.Paths.get("/dev/shm")
    // free-space guard (ADVICE r12): a big replay (the 30× rehearsal's
    // feeds) could ENOSPC tmpfs or squeeze executor memory. The Catalyst
    // size estimate is the UNCOMPRESSED row width × rows, so it upper-
    // bounds the zstd parquet copy by a wide margin; requiring it under a
    // quarter of the free space leaves the checkpoint WAL + state deltas
    // (KBs per batch) and co-tenant headroom. Oversized replays fall back
    // to the disk tmpdir — slower fsyncs, same semantics.
    val dir = {
      val fitsShm = java.nio.file.Files.isWritable(shm) && {
        val est = batch.queryExecution.optimizedPlan.stats.sizeInBytes
        val usable =
          java.nio.file.Files.getFileStore(shm).getUsableSpace
        est * 4 < BigInt(usable)
      }
      if (fitsShm) java.nio.file.Files.createTempDirectory(shm, "graft_replay")
      else java.nio.file.Files.createTempDirectory("graft_replay")
    }
    // parallel write: the file source reads ALL available files in the
    // first micro-batch (no maxFilesPerTrigger set), so single-batch
    // semantics don't need a single file — and none of the gated
    // operators is arrival-order-sensitive (state functions sort by
    // event time, aggregates are order-free, equal-stamp inputs are
    // pre-deduped); a coalesce(1) here serialized every replay's write
    // AND its first read through one task
    batch.write.mode("overwrite").parquet(s"$dir/in")
    // gate-scale state partitioning: every stateful operator commits one
    // state-store delta per partition per micro-batch, so 32 shuffle
    // partitions pay 32 store commits per batch for state that fits in a
    // handful — 8 halves the interval join's replay wall (6.5 s → 3.0 s
    // measured). Results are partition-count-independent (the gate runs
    // green at 4, 8 and 32); a production deployment sizes the session
    // conf to its key cardinality instead. Callers whose STATE key is the
    // 5-value symbol keep parts=32: at 8 partitions two hot keys collide
    // onto one task with probability ~0.9 (birthday over 5 keys) and the
    // per-key scans serialize (q338 measured 5 s → 16 s). Restored in
    // finally — the surrounding Verify/Bench mains run queries
    // sequentially.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // conf restore and scratch cleanup guard the WHOLE lifecycle: a query
    // that fails at plan/start time (not just mid-run) must not leave the
    // session pinned at the replay partitioning — Verify/Bench catch
    // per-query failures and keep running batch queries on this session
    try {
      val q = f(s.readStream.schema(batch.schema)
          .parquet(s"$dir/in"))
        .writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", s"$dir/ck")
        .start()
      try q.processAllAvailable() finally {
        // replay floor arithmetic, on demand (VERDICT r15 item 4): the
        // expected shape is TWO micro-batches — batch 0 reads every input
        // file (no maxFilesPerTrigger), batch 1 is Spark's no-data
        // watermark-flush batch — each paying `parts` state-store commits
        // plus the trigger's fixed planning/offset-log fsync cost. More
        // batches here means the floor is commit cadence, not the operator.
        if (Timing.enabled) {
          val prog = q.recentProgress
          System.err.println(s"[replay-timing] $name: ${prog.length} " +
            "micro-batches " + prog.map(p =>
              s"b${p.batchId}=${p.durationMs.getOrDefault("triggerExecution",
                -1L)}ms/${p.numInputRows}rows").mkString(" "))
        }
        q.stop()
      }
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      // the memory sink holds the result; the parquet replay copy is
      // per-invocation scratch — median-of-3 bench runs would otherwise
      // accumulate a full input copy per run in /tmp
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    s.table(name)
  }

  val sql: Map[String, String] = Map(
    "q18_ohlcv_resample" ->
      """WITH w AS (
        |  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, value,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                            ORDER BY ts, event_id) AS rn_a,
        |         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                            ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT user_id, bucket,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high, min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE) AS volume,
        |       count(*) AS n
        |FROM w GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin,

    "q19_ranking_topk" ->
      """WITH r AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rn,
        |         rank()       OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rk,
        |         dense_rank() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey) AS drk
        |  FROM customer)
        |SELECT * FROM r WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,

    "q20_lag_lead" ->
      """SELECT user_id, event_id,
        |floor(value * 1000000.0 + 0.5) / 1000000.0 AS v,
        |floor(lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      * 1000000.0 + 0.5) / 1000000.0 AS pv,
        |floor(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      * 1000000.0 + 0.5) / 1000000.0 AS nv
        |FROM events ORDER BY user_id, event_id LIMIT 500""".stripMargin,

    "q21_sma_cumsum" ->
      """SELECT user_id, event_id,
        |floor(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5) / 1000000.0 AS sma10,
        |floor(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5) / 1000000.0 AS csum
        |FROM events ORDER BY user_id, event_id LIMIT 500""".stripMargin,

    "q22_ntile_frames" ->
      """SELECT o_orderkey, ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS q,
        |floor(first_value(o_totalprice) OVER (ORDER BY o_totalprice, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) * 100.0 + 0.5) / 100.0 AS lo,
        |floor(last_value(o_totalprice)  OVER (ORDER BY o_totalprice, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) * 100.0 + 0.5) / 100.0 AS hi
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q23_gap_detect" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events)
        |SELECT user_id, CAST(prev_ts AS TIMESTAMP) AS prev_ts, CAST(ts AS TIMESTAMP) AS ts
        |FROM x WHERE prev_ts IS NOT NULL AND ts > prev_ts + INTERVAL 1 HOUR
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q28_dedup_keep_first" ->
      """WITH d AS (SELECT event_type, user_id, event_id,
        |                  row_number() OVER (PARTITION BY user_id, event_type
        |                                     ORDER BY ts, event_id) AS rn
        |           FROM events)
        |SELECT user_id, event_type, event_id AS kept FROM d WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q29_forward_fill" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |                  CASE WHEN event_type <> 'view' THEN value END AS v FROM events),
        |g AS (SELECT *, count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |      FROM s)
        |SELECT user_id, event_id,
        |floor(max(v) OVER (PARTITION BY user_id, grp) * 1000000.0 + 0.5) / 1000000.0 AS v_ffill
        |FROM g ORDER BY user_id, event_id LIMIT 1000""".stripMargin,

    // phase decomposition of the 10-min/5-min slide: every event belongs
    // to exactly the windows starting floor(t/300)·300 and that − 300
    // (both are always within (t−600, t]); epoch math on the µs-cast ts
    "q94_sliding_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events WHERE ts < TIMESTAMP '2024-01-04'),
        |w AS (SELECT event_type, value,
        |    make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) * 300
        |      - k.k * 300) * 1000000) AS w_start
        |  FROM e CROSS JOIN (VALUES (0), (1)) k(k))
        |SELECT w_start, event_type, count(*) AS n,
        |  floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM w GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,

    // the q47 lag decomposition with the native operator's boundary
    // convention (>= closes the session); µs-cast BEFORE the gap compare
    // so both engines measure the same truncated timestamps
    "q95_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    value FROM events),
        |x AS (SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM e),
        |f AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN prev_ts IS NULL
        |           OR ts >= prev_ts + INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_s
        |  FROM x),
        |g AS (SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,

    "q47_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ts IS NULL
        |                OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1
        |              ELSE 0 END AS new_s
        |  FROM x),
        |g AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS session_no
        |  FROM f)
        |SELECT user_id, session_no,
        |       CAST(min(ts) AS TIMESTAMP) AS session_start,
        |       count(*) AS n_events,
        |       CAST(date_diff('second', CAST(min(ts) AS TIMESTAMP),
        |                      CAST(max(ts) AS TIMESTAMP)) AS BIGINT) AS duration_sec
        |FROM g GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "q30_interpolate" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type <> 'view' THEN value END AS v,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |f AS (
        |  SELECT *,
        |    count(v) OVER (PARTITION BY user_id ORDER BY rn
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gf,
        |    count(v) OVER (PARTITION BY user_id ORDER BY rn DESC
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gb,
        |    max(CASE WHEN v IS NOT NULL THEN rn END)
        |        OVER (PARTITION BY user_id ORDER BY rn
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prn,
        |    min(CASE WHEN v IS NOT NULL THEN rn END)
        |        OVER (PARTITION BY user_id ORDER BY rn DESC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nrn
        |  FROM s),
        |j AS (
        |  SELECT *, max(v) OVER (PARTITION BY user_id, gf) AS pv,
        |            max(v) OVER (PARTITION BY user_id, gb) AS nv
        |  FROM f)
        |SELECT user_id, event_id,
        |       floor((CASE WHEN v IS NOT NULL THEN v
        |                  WHEN pv IS NULL THEN nv
        |                  WHEN nv IS NULL THEN pv
        |                  ELSE pv + (nv - pv) * (rn - prn) / (nrn - prn) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS v_interp
        |FROM j ORDER BY user_id, event_id LIMIT 1000""".stripMargin,

    "q101_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tu
        |  FROM events),
        |w AS (
        |  SELECT user_id, value,
        |         lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id)
        |           - tu AS dt
        |  FROM e)
        |SELECT user_id,
        |  floor(CAST(sum(CAST(value AS DECIMAL(18,6)) * dt) AS DOUBLE)
        |        / CAST(sum(dt) AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS twap,
        |  floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |        / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_v,
        |  count(*) AS n_obs
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    // session_window semantics: merge while ts < prev_end (exclusive
    // end), so a NEW session starts at ts >= prev + 30 min — the q95
    // boundary rule — and the closed session ends at last_ts + gap
    "q331_streaming_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |x AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM e),
        |f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR ts >= prev_ts + INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_s
        |  FROM x),
        |g AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,

    "q332_streaming_resample" ->
      """SELECT event_type,
        |  CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
        |  floor(sum(value) * 10000.0 + 0.5) / 10000.0 AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q333_streaming_dedup" ->
      """SELECT DISTINCT event_type, CAST(ts AS TIMESTAMP) AS ts
        |FROM events ORDER BY event_type, ts""".stripMargin,

    "q334_streaming_agg_state" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s_sum,
        |  min(value) AS mn, max(value) AS mx
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the (ts, op, value) DESC row_number replays max_by over the same
    // total order
    "q335_streaming_cdc" ->
      """WITH c AS (SELECT user_id, ts,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value
        |  FROM events),
        |r AS (SELECT user_id, op, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, op DESC, value DESC) AS rn
        |  FROM c)
        |SELECT user_id, op, value AS v FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // ffill grid synthesis: range(pts + step, ts, step) generates exactly
    // the operator's `g = last + step while g < next` loop (start
    // inclusive, stop exclusive; empty when the gap <= step)
    "q336_streaming_gap_repair" ->
      """WITH d AS (SELECT event_type AS symbol, CAST(ts AS TIMESTAMP) AS ts,
        |    min_by(value, event_id) AS close
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT symbol, ts, close,
        |    lag(ts) OVER (PARTITION BY symbol ORDER BY ts) AS pts,
        |    lag(close) OVER (PARTITION BY symbol ORDER BY ts) AS pv
        |  FROM d),
        |fills AS (SELECT symbol,
        |    unnest(range(pts + INTERVAL 1 HOUR, ts, INTERVAL 1 HOUR)) AS ts,
        |    pv AS close, true AS generated
        |  FROM l WHERE pts IS NOT NULL),
        |reals AS (SELECT symbol, ts, close, false AS generated FROM d)
        |SELECT symbol AS event_type, ts, close, generated
        |FROM (SELECT * FROM reals UNION ALL SELECT * FROM fills)
        |ORDER BY event_type, ts""".stripMargin,

    // same grid; the blend is the operator's exact double expression —
    // left + (right-left) * (elapsed/gap) in that order — fr-gridded
    "q337_streaming_gap_interpolate" ->
      """WITH d AS (SELECT event_type AS symbol, CAST(ts AS TIMESTAMP) AS ts,
        |    min_by(value, event_id) AS close
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT symbol, ts, close,
        |    lag(ts) OVER (PARTITION BY symbol ORDER BY ts) AS pts,
        |    lag(close) OVER (PARTITION BY symbol ORDER BY ts) AS pv
        |  FROM d),
        |fills AS (SELECT symbol, g AS ts,
        |    pv + (close - pv)
        |      * (CAST(epoch_us(g) - epoch_us(pts) AS DOUBLE)
        |         / CAST(epoch_us(ts) - epoch_us(pts) AS DOUBLE)) AS close,
        |    true AS generated
        |  FROM (SELECT symbol, ts, close, pts, pv,
        |      unnest(range(pts + INTERVAL 1 HOUR, ts, INTERVAL 1 HOUR)) AS g
        |    FROM l WHERE pts IS NOT NULL)),
        |reals AS (SELECT symbol, ts, close, false AS generated FROM d)
        |SELECT event_type, ts,
        |  floor(close * 1000000.0 + 0.5) / 1000000.0 AS close, generated
        |FROM (SELECT symbol AS event_type, ts, close, generated FROM reals
        |      UNION ALL
        |      SELECT symbol, ts, close, generated FROM fills)
        |ORDER BY event_type, ts""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the exact batch contract the
    // streaming state machine mirrors: latest quote at-or-before (<=)
    "q338_streaming_asof" ->
      """WITH qt AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    min(value) AS value
        |  FROM events WHERE event_id % 5 = 0 GROUP BY 1, 2),
        |ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events WHERE event_id % 5 <> 0)
        |SELECT e.event_type, e.ts, e.event_id, q.value AS asof_value
        |FROM ev e ASOF LEFT JOIN qt q
        |  ON e.event_type = q.event_type AND e.ts >= q.ts
        |ORDER BY event_id""".stripMargin,

    "q339_streaming_not_seen" ->
      """SELECT doc_id FROM documents
        |WHERE text NOT IN
        |  (SELECT text FROM documents WHERE doc_id % 7 = 0)
        |ORDER BY doc_id""".stripMargin,

    "q340_streaming_interval_join" ->
      """SELECT a.event_id AS l_id, b.event_id AS r_id, b.value AS r_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
        | AND CAST(b.ts AS TIMESTAMP)
        |       >= CAST(a.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
        | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP)
        |ORDER BY l_id, r_id""".stripMargin,

    // the q41 oracle core: a doc is DETECTED iff an earlier doc (doc_id
    // order = the replay's event time) has exact 3-gram Jaccard >= 0.5
    "q341_streaming_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1),
        |              i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
        |  FROM t),
        |p AS (
        |  SELECT b.doc_id AS d,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT DISTINCT d AS doc_id FROM p WHERE jac >= 0.5
        |ORDER BY doc_id""".stripMargin,

    // q74's oracle verbatim: exact heavy hitters are engine-independent —
    // only the plan shape (streamed sketch + batch re-count vs naive full
    // groupBy) differs
    "q342_streaming_heavy_hitters" ->
      """WITH tok AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM tok),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |SELECT term, cnt FROM c, n WHERE cnt * 500 >= total
        |ORDER BY cnt DESC, term""".stripMargin
  )
}
