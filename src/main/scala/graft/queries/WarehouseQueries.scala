package graft.queries

import graft.core.Tables
import graft.queries.QueryUtils.{decSum, fr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse / product-analytics gate queries (round 9 widening): the
  * marketing-attribution, customer-segmentation, frontier-analysis and
  * risk-metric shapes a warehouse team runs daily, each with a DuckDB
  * oracle under the house determinism rules (QueryUtils: DECIMAL sums,
  * integer-µs time math, fr-gridded divisions, (ts, event_id) total
  * orders).
  */
object WarehouseQueries {

  /** Census-decomposed two-sided 10% trimmed mean per key (the q136
    * core, extracted so the property suite can drive it on adversarial
    * fixtures — the oracle replays the SAME census algorithm, so only an
    * independent sorted-trim reference can catch a shared boundary-split
    * error). See the q136 entry for the algorithm notes.
    */
  def trimmedMeanByKey(df: DataFrame, keyCol: String,
                       valueCol: String): DataFrame = {
    val census = df
      .withColumn("_vd", col(valueCol).cast("decimal(18,4)"))
      .groupBy(col(keyCol), col("_vd"))
      .agg(count(lit(1)).as("_f"))
    val wAsc = Window.partitionBy(col(keyCol)).orderBy(col("_vd"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col(keyCol))
    val c = census
      .withColumn("_cumBefore", coalesce(sum(col("_f")).over(wAsc), lit(0L)))
      .withColumn("_cumValBefore",
        coalesce(sum(col("_vd") * col("_f")).over(wAsc),
          lit(0).cast("decimal(28,4)")))
      .withColumn("_n", sum(col("_f")).over(wAll))
      .withColumn("_sumAll", sum(col("_vd") * col("_f")).over(wAll))
      .withColumn("_k", floor(col("_n") / 10).cast("long"))
    // the census row whose run CONTAINS rank k (ascending): bottom mass
    // = value-mass strictly below it + the partial run up to k
    val bottom = c
      .filter(col("_cumBefore") < col("_k") &&
        col("_cumBefore") + col("_f") >= col("_k"))
      .select(col(keyCol),
        (col("_cumValBefore")
          + (col("_k") - col("_cumBefore")) * col("_vd")).as("_botSum"))
    // mirrored for the top: ranks above n − k
    val top = c
      .withColumn("_cumAfter",
        col("_n") - col("_cumBefore") - col("_f"))
      .filter(col("_cumAfter") < col("_k") &&
        col("_cumAfter") + col("_f") >= col("_k"))
      .select(col(keyCol),
        (col("_sumAll") - col("_cumValBefore") - col("_vd") * col("_f")
          + (col("_k") - col("_cumAfter")) * col("_vd")).as("_topSum"))
    val zero = lit(0).cast("decimal(38,4)")
    c.groupBy(col(keyCol))
      .agg(max(col("_n")).as("n_total"), max(col("_k")).as("_k2"),
        max(col("_sumAll")).as("_sum"))
      .join(bottom, Seq(keyCol), "left") // k = 0 trims nothing
      .join(top, Seq(keyCol), "left")
      .select(col(keyCol),
        (col("n_total") - lit(2) * col("_k2")).as("n_kept"),
        col("n_total"),
        fr((col("_sum") - coalesce(col("_botSum"), zero)
          - coalesce(col("_topSum"), zero)).cast("double")
          / (col("n_total") - lit(2) * col("_k2")), 6).as("trimmed_mean"))
  }

  /** Gini coefficient over a column of non-negative counts (`_x`) via the
    * count-of-counts census (the q137 core, extracted for the property
    * suite — the oracle replays the same run decomposition, so only an
    * independent sorted Σi·xᵢ can catch a rank-sum error).
    */
  def giniOfCounts(perKey: DataFrame): DataFrame = {
    // Sizing-gated census cumsum (r17): the count-of-counts domain is
    // data-dependent (per-key activity grows with history)
    val terms = gatedCensusCumsum(
      perKey.groupBy(col("_x")).agg(count(lit(1)).as("_f")),
      keys = Nil, order = Seq(col("_x")), valueCol = "_f",
      inclusive = false, cumName = "_p0", totName = None)
      .withColumn("_r", expr(
        "_x * (_f * _p0 + (_f * (_f + 1)) div 2)"))
    terms.agg(sum(col("_f")).as("_n"),
        sum(col("_f") * col("_x")).as("_s"),
        sum(col("_r")).as("_ri"))
      .select(col("_n").as("n_users"), col("_s").as("total_events"),
        fr((lit(2.0) * col("_ri") - (col("_n") + 1) * col("_s"))
          / (col("_n") * col("_s")), 6).as("gini"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Last-touch attribution: each purchase is credited to the user's most
    // recent preceding marketing touch (click/view) — the IGNORE NULLS
    // carry that forward-fill (q111) and sessionize share, pointed at the
    // conversion question. The window is keyed by user (scales), delays
    // are exact integer microseconds summed in DECIMAL, and the only
    // double math is the final fr-gridded division.
    "q127_last_touch_attribution" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"),
        col("event_type"))
      val touchTs = when(col("event_type").isin("click", "view"), col("ts"))
      Tables.events(s, d)
        .withColumn("_touch", last(touch, ignoreNulls = true).over(w))
        .withColumn("_touch_ts", last(touchTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("_delay_us",
          unix_micros(col("ts")) - unix_micros(col("_touch_ts")))
        .groupBy(coalesce(col("_touch"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
          count(col("_touch_ts")).as("n_attributed"),
          sum(col("_delay_us").cast("decimal(20,0)")).as("_sum_us"))
        .select(col("channel"), col("conversions"), col("n_attributed"),
          when(col("n_attributed") > 0,
            fr(col("_sum_us").cast("double") / col("n_attributed")
              / lit(1000000.0), 4)).as("avg_delay_sec"))
        .orderBy("channel")
    },

    // Threshold-based RFM segmentation over orders: recency from a FIXED
    // anchor date (the q99 lesson — no engine-specific "today"), frequency
    // and DECIMAL monetary per customer, each scored 1-5 against fixed
    // business thresholds. Thresholds instead of ntile() by design: a
    // global ntile is a single-task keyless window over every customer,
    // while threshold scoring is pure scan math that parallelizes
    // perfectly at 100 TB (quantile-derived thresholds would come from the
    // q86 percentile census, computed once and broadcast as constants).
    "q128_rfm_segments" -> { (s, d) =>
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("_last"),
          count(lit(1)).as("_freq"),
          decSum(col("o_totalprice")).as("_mon"))
        .withColumn("_rec_days",
          datediff(lit("2001-12-31").cast("date"), col("_last").cast("date")))
      def score(c: Column, t5: Column, t4: Column, t3: Column,
                t2: Column): Column =
        when(t5, 5).when(t4, 4).when(t3, 3).when(t2, 2).otherwise(1)
      perCust
        .withColumn("r_score", score(col("_rec_days"),
          col("_rec_days") <= 180, col("_rec_days") <= 365,
          col("_rec_days") <= 730, col("_rec_days") <= 1460))
        .withColumn("f_score", score(col("_freq"),
          col("_freq") >= 15, col("_freq") >= 10,
          col("_freq") >= 6, col("_freq") >= 3))
        .withColumn("m_score", score(col("_mon"),
          col("_mon") >= 4000000, col("_mon") >= 3000000,
          col("_mon") >= 2000000, col("_mon") >= 1000000))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"),
          fr(sum(col("_mon")).cast("double"), 2).as("total_monetary"))
        .orderBy("r_score", "f_score", "m_score")
    },

    // Pareto frontier (skyline) of per-part (total quantity ↑, total
    // price ↓): parts no other part beats on both axes. The naive form is
    // an all-pairs dominance test; the scale-safe form used here is the
    // sort-based skyline decomposed exactly like q62's prefix sums — the
    // distinct (price, qty) census buckets by price range, a KEYED window
    // computes the within-bucket running max-qty, a 64-row bucket
    // aggregate + bounded prefix window carries the cross-bucket max, and
    // a point survives iff its qty strictly exceeds every lower-priced
    // point's. No cartesian join anywhere (PlanSpec-pinned); the oracle
    // replays dominance declaratively with NOT EXISTS over the same
    // census, which is algorithm-independent.
    "q129_pareto_frontier" -> { (s, d) =>
      val pts = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(decSum(col("l_quantity")).as("qty"),
          decSum(col("l_extendedprice")).as("price"))
      val census = pts.select(col("price"), col("qty")).distinct()
      val B = 64
      val rng = census.agg(min(col("price").cast("double")).as("_lo"),
        max(col("price").cast("double")).as("_hi"))
      // bucket boundaries only partition work — any monotone-in-price
      // assignment yields the same frontier, so double math is fine here
      val bucketed = census.crossJoin(broadcast(rng))
        .withColumn("_b", least(lit(B - 1), greatest(lit(0),
          floor((col("price").cast("double") - col("_lo"))
            / greatest(col("_hi") - col("_lo"), lit(0.01)) * B))))
      val wIn = Window.partitionBy(col("_b"))
        .orderBy(col("price").asc, col("qty").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val neg = lit(-1).cast("decimal(18,4)")
      val perB = bucketed.groupBy(col("_b")).agg(max(col("qty")).as("_bmax"))
        .withColumn("_prefix", max(col("_bmax")).over(
          Window.orderBy(col("_b")).rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("_b"), col("_prefix"))
      val frontier = bucketed
        .withColumn("_inmax", max(col("qty")).over(wIn))
        .join(perB, Seq("_b"))
        .filter(col("qty") > greatest(coalesce(col("_inmax"), neg),
          coalesce(col("_prefix"), neg)))
        .select(col("price"), col("qty"))
      pts.join(frontier, Seq("price", "qty"))
        .select(col("l_partkey"), fr(col("price").cast("double"), 2).as("price"),
          fr(col("qty").cast("double"), 2).as("qty"))
        .orderBy("price", "l_partkey")
    },

    // Maximum drawdown per user value stream: running peak via a keyed
    // cummax window (max is summation-order-free, so the window is
    // replayable on any engine), drawdown = (peak − value)/peak on
    // identical doubles, per-user max then fr-gridded once. The risk
    // metric every quant pipeline computes; one keyed window + one
    // aggregate, no self-join.
    "q130_max_drawdown" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("value") > 0)
        .withColumn("_peak", max(col("value")).over(w))
        .withColumn("_dd", (col("_peak") - col("value")) / col("_peak"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          max(col("value")).as("peak_value"),
          fr(max(col("_dd")), 6).as("max_drawdown"))
        .orderBy("user_id")
    },

    // VWAP + Bollinger bands per (returnflag, ship day): the daily VWAP is
    // a ratio of two exact DECIMAL sums (one double division, fr-gridded),
    // and the 20-day bands re-apply q124's replayable-sliding-window rule —
    // frame sums of the GRIDDED vwap as DECIMAL (engines disagree on float
    // sliding-sum algebra; DuckDB segment-trees its frames), variance from
    // the n·Σx²−(Σx)² identity in exact integer-scaled math, doubles only
    // at the final sqrt/division.
    "q131_vwap_bollinger" -> { (s, d) =>
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_shipdate").cast("date").as("day"))
        .agg(decSum(col("l_extendedprice")).as("_p"),
          decSum(col("l_quantity")).as("_q"))
        .withColumn("vwap",
          fr(col("_p").cast("double") / col("_q").cast("double"), 6))
        .withColumn("_vd", col("vwap").cast("decimal(18,6)"))
      val f = Window.partitionBy(col("l_returnflag")).orderBy(col("day"))
        .rowsBetween(-19, Window.currentRow)
      daily
        .withColumn("_n", count(lit(1)).over(f))
        .withColumn("_sg", sum(col("_vd")).over(f))
        .withColumn("_sq", sum(col("_vd") * col("_vd")).over(f))
        .withColumn("sma", fr(col("_sg").cast("double") / col("_n"), 4))
        .withColumn("_var", when(col("_n") > 1,
          (col("_n") * col("_sq") - col("_sg") * col("_sg")).cast("double")
            / (col("_n") * (col("_n") - 1)).cast("double")))
        .select(col("l_returnflag"), col("day"), col("vwap"), col("_n").as("n"),
          col("sma"),
          when(col("_n") > 1, fr(col("_sg").cast("double") / col("_n")
            + lit(2.0) * sqrt(col("_var")), 4)).as("upper_band"),
          when(col("_n") > 1, fr(col("_sg").cast("double") / col("_n")
            - lit(2.0) * sqrt(col("_var")), 4)).as("lower_band"))
        .orderBy("l_returnflag", "day")
    },

    // Breadth-first distances through Spark 4's native recursive CTE
    // (UnionLoop): min hop count from the seed user over the mod-7
    // co-activity subgraph, depth-bounded at 4. The SQL-surface answer to
    // graph reachability — both engines execute the IDENTICAL recursive
    // query text over the same edge view. The recursive term is SELECT
    // DISTINCT: each level's frontier dedups to at most |V| rows, so the
    // walk is levels x nodes instead of path-count (a bare UNION ALL walk
    // blew Spark's 1M recursion-row guard at the 10x scale rehearsal —
    // path counts grow multiplicatively through dense neighborhoods).
    // Production all-pairs reachability at 100 TB still uses the
    // Pregel-style iteration (Graph.pageRankFixedPoint's lineage-bounded
    // loop / Dedup.connectedComponents); this gate pins the SQL parity.
    "q132_recursive_bfs" -> { (s, d) =>
      val act = Tables.events(s, d)
        .filter(col("user_id") % 7 === 0)
        .select(col("user_id"), col("event_type"),
          date_trunc("minute", col("ts")).as("_h"))
        .distinct()
      val edges = act
        .join(act.select(col("user_id").as("_v"), col("event_type"),
          col("_h")), Seq("event_type", "_h"))
        .filter(col("user_id") =!= col("_v"))
        .select(col("user_id").as("s"), col("_v").as("d"))
        .distinct()
        // UnionLoop re-executes the referenced plan once per recursion
        // level — pin the edge list to a materialized snapshot so the
        // self-join + distinct runs once, not depth+1 times (the same
        // lineage-truncation lever as connectedComponents/pageRank)
        .localCheckpoint()
      edges.createOrReplaceTempView("graft_bfs_edges")
      s.sql("""
        WITH RECURSIVE walk(node, lvl) AS (
          SELECT min(s) AS node, 0 AS lvl FROM graft_bfs_edges
          UNION ALL
          SELECT DISTINCT e.d, w.lvl + 1
          FROM walk w JOIN graft_bfs_edges e ON e.s = w.node
          WHERE w.lvl < 4)
        SELECT node, min(lvl) AS dist FROM walk
        GROUP BY node ORDER BY node""")
    },

    // Flesch reading-ease per document: whitespace words (the q35 token
    // convention), [.!?]+ sentence runs and [aeiouy]+ vowel-group syllable
    // approximation — all three are codegen regexp counts, the score is
    // fixed-constant double math in one written order, fr-gridded. The
    // classic readability quality signal beside Gopher (q71) and the
    // model-based classifier (q80).
    "q133_readability" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("words"),
          regexp_count(col("text"), lit("[.!?]+")).as("sentences"),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syllables"))
        .withColumn("flesch",
          when(col("words") > 0 && col("sentences") > 0,
            fr(lit(206.835)
              - lit(1.015) * (col("words").cast("double") / col("sentences"))
              - lit(84.6) * (col("syllables").cast("double") / col("words")),
              4)))
        .orderBy("doc_id")
    },

    // Quality-aware exact dedup: same content-hash groups as q31, but the
    // keeper is the HIGHEST-quality copy (max n_chars, ties to the
    // smallest doc_id) — what a training-data pipeline actually keeps when
    // near-identical pages differ in extraction quality. One map-side
    // max_by over a struct ordering; no window over the corpus.
    "q134_dedup_keep_best" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("_h"))
        .agg(max_by(col("doc_id"),
          struct(col("n_chars"), -col("doc_id"))).as("doc_id"),
          count(lit(1)).as("n_copies"),
          max(col("n_chars")).as("kept_chars"))
        .select(col("doc_id"), col("n_copies"), col("kept_chars"))
        .orderBy("doc_id")
    },

    // VARIANT shredding (Spark 4's semi-structured type): props parses
    // once into a VARIANT, fields come out through typed variant_get
    // paths — the open-schema ingestion path table formats are
    // standardizing on (Parquet VARIANT), replacing per-field
    // get_json_object re-parses (q33). Missing paths are null, counted to
    // pin the absent-path semantics; the oracle replays with DuckDB's
    // JSON extraction on the same strings.
    "q135_variant_shred" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("_v", parse_json(col("props")))
        .groupBy(col("event_type"))
        .agg(sum(variant_get(col("_v"), "$.k", "int")).as("sum_k"),
          min(variant_get(col("_v"), "$.k", "int")).as("min_k"),
          count(variant_get(col("_v"), "$.missing", "string"))
            .as("n_missing_present"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Two-sided 10% trimmed mean of value per event type — the robust
    // aggregation family, census-decomposed: a row_number trim would rank
    // every row of a type inside ONE window task (event_type is
    // low-cardinality — the q66 straggler), so the bottom-k/top-k mass
    // comes off the (type, value) census instead. Boundary values split
    // exactly: trimmed_sum = Σ v·f − bottomPart − topPart, where each
    // part is the census prefix mass plus (k − prefixCount)·boundary —
    // all DECIMAL/BIGINT, one fr division. The census window is bounded
    // by distinct values per type, never rows.
    "q136_trimmed_mean" -> { (s, d) =>
      trimmedMeanByKey(Tables.events(s, d), "event_type", "value")
        .orderBy("event_type")
    },

    // Gini coefficient of per-user event counts — activity-inequality in
    // one number. The Σ i·x_i rank sum decomposes over the count-of-counts
    // census exactly like q114's quantiles: a run of f users at count x
    // occupying positions p0+1..p0+f contributes x·(f·p0 + f(f+1)/2), all
    // BIGINT math over the census (bounded by distinct count VALUES), the
    // only double is the final fr-gridded division. No window ever touches
    // user rows.
    "q137_gini" -> { (s, d) =>
      giniOfCounts(Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("_x")))
    },

    // Benford first-digit audit of order totals — the forensic
    // data-quality screen. The leading digit comes from the DECIMAL(18,2)
    // string rendering (both engines print decimals identically; double
    // formatting differs and log10 is ulp-fragile at powers of ten), the
    // expected fraction is log10(1+1/d) on the fr grid.
    "q138_benford" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("_d", substring(
          col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1))
        .groupBy(col("_d").as("digit"))
        .agg(count(lit(1)).as("n_obs"))
        .withColumn("obs_frac", fr(col("n_obs")
          / sum(col("n_obs")).over(Window.partitionBy()), 6))
        .withColumn("exp_frac",
          fr(log10(lit(1.0) + lit(1.0) / col("digit").cast("int")), 6))
        .orderBy("digit")
    },

    // Funnel time-to-convert percentiles: signup → first purchase delay
    // per user in whole seconds, exact type-1 p50/p90/p99 via the q86
    // census argument — the cumulative window runs over the (delta-second,
    // count) census, bounded by distinct second values, never over users;
    // thresholds are pure integer cross-multiplication (cum·100 ≥ p·n).
    "q139_funnel_ttc" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("_su"))
      val deltas = ev.filter(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .filter(col("ts") >= col("_su"))
        .groupBy(col("user_id"), col("_su"))
        .agg(min(col("ts")).as("_pu"))
        .select(((unix_micros(col("_pu")) - unix_micros(col("_su")))
          / lit(1000000L)).cast("long").as("_ds"))
      val census = deltas.groupBy(col("_ds")).agg(count(lit(1)).as("_f"))
        .withColumn("_cum", sum(col("_f")).over(Window.orderBy(col("_ds"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = census.agg(sum(col("_f")).as("_n"))
      census.crossJoin(broadcast(n))
        .agg(max(col("_n")).as("n_converted"),
          min(when(col("_cum") * 100 >= lit(50) * col("_n"), col("_ds")))
            .as("p50_s"),
          min(when(col("_cum") * 100 >= lit(90) * col("_n"), col("_ds")))
            .as("p90_s"),
          min(when(col("_cum") * 100 >= lit(99) * col("_n"), col("_ds")))
            .as("p99_s"))
    },

    // Forward as-of through the AsofJoin operator (direction = "forward"):
    // the next order at-or-after each event — the next-quote-after-trade
    // variant. Same one-shuffle merge-scan and range-sharded hot-key
    // layout as q44; only the scan order flips. Oracle is the correlated
    // min-subquery the operator replaces at scale.
    "q140_asof_forward" -> { (s, d) =>
      val events = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"), col("o_orderdate"))
      graft.operators.AsofJoin.asof(events, orders, Seq("user_id"),
          "ts", "o_orderdate", Seq("o_orderdate"), direction = "forward")
        .select(col("event_id"),
          col("asof_o_orderdate").cast("timestamp_ntz").as("next_order"))
        .orderBy("event_id")
        .limit(500)
    },

    // Sessionized conversion split: q47's gaps-and-islands sessions,
    // grouped by whether the session contains a purchase — converting vs
    // non-converting session shape (count, mean size, mean duration).
    // Duration stays integer seconds; the means are single fr divisions
    // of exact BIGINT sums.
    "q141_session_conversion" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sessions = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          lag(col("ts"), 1).over(w).as("_prev"))
        .withColumn("_new", when(col("_prev").isNull ||
          col("ts") > col("_prev") + expr("INTERVAL 30 MINUTES"), 1)
          .otherwise(0))
        .withColumn("_sno", sum(col("_new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("_sno"))
        .agg(count(lit(1)).as("_n"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("converted"),
          (unix_seconds(max(col("ts"))) - unix_seconds(min(col("ts"))))
            .as("_dur"))
      sessions.groupBy(col("converted"))
        .agg(count(lit(1)).as("n_sessions"),
          fr(sum(col("_n")).cast("double") / count(lit(1)), 4)
            .as("avg_events"),
          fr(sum(col("_dur")).cast("double") / count(lit(1)), 4)
            .as("avg_duration_s"))
        .orderBy("converted")
    },

    // Equi-depth (quantile-binned) histogram of order totals — q65's
    // fixed-width complement. Everything happens on exact integer CENTS
    // from the DECIMAL rendering: decile edges are type-1 quantiles via
    // the census cumsum (cum·10 ≥ b·n integer math), bucket membership is
    // "count of edges strictly below", and the per-bucket rollup sums
    // census frequencies. The only window runs over the price census,
    // bounded by distinct prices.
    "q142_equidepth_hist" -> { (s, d) =>
      // Sizing-gated census cumsum (r17): distinct order-total cents grow
      // with the order count, so the keyless window decomposes at scale.
      val census = gatedCensusCumsum(
        Tables.orders(s, d)
          .select((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("_c"))
          .groupBy(col("_c")).agg(count(lit(1)).as("_f")),
        keys = Nil, order = Seq(col("_c")), valueCol = "_f",
        inclusive = true, cumName = "_cum", totName = None)
      val edgeCols = Seq.range(1, 10).map(b =>
        min(when(col("_cum") * 10 >= lit(b) * col("_n"), col("_c")))
          .as(s"_e$b"))
      val edges = census.crossJoin(broadcast(
          census.agg(sum(col("_f")).as("_n"))))
        .agg(edgeCols.head, edgeCols.tail: _*)
      census.crossJoin(broadcast(edges))
        .withColumn("bucket", Seq.range(1, 10)
          .map(b => when(col("_c") > col(s"_e$b"), 1).otherwise(0))
          .reduce(_ + _) + 1)
        .groupBy(col("bucket"))
        .agg(sum(col("_f")).as("n_orders"),
          fr(min(col("_c")).cast("double") / 100, 2).as("lo_price"),
          fr(max(col("_c")).cast("double") / 100, 2).as("hi_price"))
        .orderBy("bucket")
    },

    // Two-sample Kolmogorov-Smirnov statistic (click vs purchase value
    // distributions): D = max |F₁−F₂| decomposed over the merged value
    // census — |cum₁·n₂ − cum₂·n₁| is exact BIGINT cross-multiplication,
    // the max is order-free, and the single division happens once on the
    // fr grid. The census window is bounded by distinct values, never row
    // count; the drift test every feature pipeline should run between
    // snapshots.
    "q143_ks_test" -> { (s, d) =>
      val ev = Tables.events(s, d)
      def censusOf(t: String, fcol: String) =
        ev.filter(col("event_type") === t)
          .groupBy(col("value").as("_v")).agg(count(lit(1)).as(fcol))
      val merged = censusOf("click", "_fa")
        .join(censusOf("purchase", "_fb"), Seq("_v"), "full_outer")
        .na.fill(0L, Seq("_fa", "_fb"))
      // Sizing-gated census cumsums (r17): both ECDFs cumulate the one
      // merged census — one range snapshot carries both frequencies.
      gatedCensusCumsumMulti(merged, keys = Nil, order = Seq(col("_v")),
        cols = Seq(("_fa", "_ca", Some("_na")), ("_fb", "_cb", Some("_nb"))),
        inclusive = true)
        .agg(max(col("_na")).as("_na"), max(col("_nb")).as("_nb"),
          max(abs(col("_ca") * col("_nb") - col("_cb") * col("_na")))
            .as("_dnum"))
        .select(col("_na").as("n_click"), col("_nb").as("n_purchase"),
          fr(col("_dnum").cast("double")
            / (col("_na") * col("_nb")).cast("double"), 6).as("ks_d"))
    },

    // Correlated LATERAL top-k (Spark 4 lateral subquery with ORDER BY
    // LIMIT): top-2 customers by DECIMAL lifetime monetary per region —
    // the SQL-surface sibling of q19's window ranking and q109's
    // correlated scalars; both engines run the identical lateral text
    // over the same views, Catalyst decorrelates it.
    "q144_lateral_topk" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("graft_lat_customer")
      Tables.nation(s, d).createOrReplaceTempView("graft_lat_nation")
      Tables.orders(s, d).createOrReplaceTempView("graft_lat_orders")
      Tables.region(s, d).createOrReplaceTempView("graft_lat_region")
      s.sql("""
        WITH cm AS (
          SELECT c.c_custkey, c.c_name, n.n_regionkey,
                 sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS mon
          FROM graft_lat_customer c
          JOIN graft_lat_nation n ON c.c_nationkey = n.n_nationkey
          JOIN graft_lat_orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey, c.c_name, n.n_regionkey)
        SELECT r.r_name, t.c_name,
               -- 100.0 is a DECIMAL literal to Spark's parser; keep every
               -- step in doubles so both engines render the same type
               CAST(floor(CAST(t.mon AS DOUBLE) * CAST(100 AS DOUBLE)
                 + CAST(0.5 AS DOUBLE)) AS DOUBLE) / CAST(100 AS DOUBLE)
                 AS monetary
        FROM graft_lat_region r,
        LATERAL (SELECT c_name, mon FROM cm
                 WHERE cm.n_regionkey = r.r_regionkey
                 ORDER BY mon DESC, c_name LIMIT 2) t
        ORDER BY r.r_name, t.mon DESC, t.c_name""")
    },

    // Rolling 20-day regression slope of the daily VWAP against the day
    // index, per returnflag — the rolling-beta quant operator. Every frame
    // sum is exact (BIGINT x, x², DECIMAL y, x·y), the slope identity
    // (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) divides once on the fr grid; same
    // replayable-sliding-window discipline as q124/q131.
    "q145_rolling_beta" -> { (s, d) =>
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_shipdate").cast("date").as("day"))
        .agg(decSum(col("l_extendedprice")).as("_p"),
          decSum(col("l_quantity")).as("_q"))
        .withColumn("vwap",
          fr(col("_p").cast("double") / col("_q").cast("double"), 6))
        .withColumn("_vd", col("vwap").cast("decimal(18,6)"))
        .withColumn("_x",
          datediff(col("day"), lit("1995-01-01").cast("date")).cast("long"))
      val f = Window.partitionBy(col("l_returnflag")).orderBy(col("day"))
        .rowsBetween(-19, Window.currentRow)
      daily
        .withColumn("_n", count(lit(1)).over(f))
        .withColumn("_sx", sum(col("_x")).over(f))
        .withColumn("_sxx", sum(col("_x") * col("_x")).over(f))
        .withColumn("_sy", sum(col("_vd")).over(f))
        .withColumn("_sxy", sum(col("_x") * col("_vd")).over(f))
        .select(col("l_returnflag"), col("day"), col("_n").as("n"),
          when(col("_n") > 1, fr(
            (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double")
              / (col("_n") * col("_sxx") - col("_sx") * col("_sx"))
                .cast("double"), 6)).as("beta"))
        .orderBy("l_returnflag", "day")
    },

    // Multiset set operations (EXCEPT ALL / INTERSECT ALL): bag semantics
    // keep duplicate multiplicity — a row occurring 3× in A and 1× in B
    // survives EXCEPT ALL twice and INTERSECT ALL once — where q26/q27's
    // set forms collapse it. Catalyst rewrites both to keyed aggregates
    // (sum-of-multiplicity joins), no sort, no window.
    "q146_multiset_ops" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val a = ev.filter(col("value") > 100)
        .select(col("user_id"), col("event_type"))
      val b = ev.filter(col("value") > 150)
        .select(col("user_id"), col("event_type"))
      a.exceptAll(b).agg(count(lit(1)).as("n_except_all"))
        .crossJoin(a.intersectAll(b)
          .agg(count(lit(1)).as("n_intersect_all")))
        .crossJoin(a.except(b).agg(count(lit(1)).as("n_except_distinct")))
        .crossJoin(a.intersect(b)
          .agg(count(lit(1)).as("n_intersect_distinct")))
    },

    // Null-safe equality join (IS NOT DISTINCT FROM / <=>): the nullable
    // key — event_type with 'error' nulled out — joins its own census so
    // the NULL group matches instead of dropping, and the join stays a
    // HASH join (eqNullSafe is a valid hash key; a naive x = y OR (x IS
    // NULL AND y IS NULL) predicate degrades to nested-loop). The
    // three-valued-logic trap every warehouse hits.
    "q147_nullsafe_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("_k", nullif(col("event_type"), lit("error")))
      val ref = ev.groupBy(col("_k").as("_rk"))
        .agg(count(lit(1)).as("ref_n"))
      ev.join(broadcast(ref), col("_k") <=> col("_rk"))
        .groupBy(col("_k").as("k"))
        .agg(count(lit(1)).as("n_events"), max(col("ref_n")).as("ref_n"))
        .orderBy(col("k").asc_nulls_first)
    },

    // Array higher-order functions over embeddings: transform → aggregate
    // (left fold from a 0.0 seed — both engines fold in list order, and
    // 0+x₁² ≡ x₁², so the IEEE sequence is identical) for the L2 norm,
    // filter for the large-component census. The HOF surface the vector
    // operators (VectorFunctions/q34) build on, pinned directly.
    "q148_vector_hof" -> { (s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") <= 200)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("_e"))
        .select(col("vec_id"),
          size(col("_e")).as("dim"),
          fr(sqrt(aggregate(transform(col("_e"), x => x * x),
            lit(0.0), (acc, x) => acc + x)), 6).as("l2_norm"),
          size(filter(col("_e"), x => abs(x) > lit(0.1)))
            .as("n_large"))
        .orderBy("vec_id")
    },

    // Case-insensitive collation (Spark 4 collated strings): token counts
    // under UTF8_LCASE vs binary collation, on ASCII-only tokens so the
    // oracle's lower() is provably the same equivalence (ICU case folding
    // and lower() diverge on Turkish-I/long-s outside ASCII). The
    // distinct-count gap IS the case-variant census.
    "q149_collation" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(split(trim(col("text")), "\\s+"))
          .as("_tok"))
        .filter(col("_tok").rlike("^[A-Za-z]+$"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("_tok")).as("distinct_binary"),
          countDistinct(collate(col("_tok"), "UTF8_LCASE"))
            .as("distinct_lcase"))
        .orderBy("source")
    },

    // Point-in-time (feature-store) lookup over SCD2 history: each probe
    // reads the attribute version valid AT its timestamp — the join that
    // makes offline features match what production saw, where a plain
    // latest-value join silently leaks the future. History = q107's
    // run-length SCD2 over order status; zero-width runs (same-stamp
    // state flips) drop so (key, valid_from) is unique; the lookup is the
    // AsofJoin merge-scan on valid_from (one shuffle, hot keys range-
    // shard), with probe dates spread across the history by deterministic
    // integer math. Oracle: the correlated interval subquery the operator
    // replaces at scale.
    "q150_pit_join" -> { (s, d) =>
      val hist = graft.operators.Analytics.scd2(
          Tables.orders(s, d), "o_custkey", "o_orderstatus", "o_orderdate")
        .filter(col("valid_to").isNull ||
          col("valid_to") > col("valid_from"))
        .withColumnRenamed("o_custkey", "user_id")
      val probes = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          date_add(lit("1995-01-01").cast("date"),
            (col("event_id") % 2400).cast("int")).cast("timestamp")
            .as("pts"))
      graft.operators.AsofJoin.asof(probes, hist, Seq("user_id"),
          "pts", "valid_from", Seq("o_orderstatus", "valid_to"))
        // interval check: the matched run must still be open at the probe
        // (true by construction once zero-width runs are gone; surfacing
        // it makes the contract hash-checked instead of assumed)
        .filter(col("asof_o_orderstatus").isNotNull)
        .select(col("event_id"),
          col("asof_o_orderstatus").as("pit_status"),
          (col("asof_valid_to").isNull ||
            col("pts") < col("asof_valid_to")).as("interval_ok"))
        .orderBy("event_id")
        .limit(500)
    },

    // Rolling 7-day active users (WAU) beside the daily count: each
    // distinct (user, day) covers days [d, d+6] via a bounded 7-row
    // explode, re-distincts, and counts — exact rolling distinct without
    // a sliding set union, the standard relational decomposition (cost =
    // window-length multiplier, fully distributed). HLL sketches (q123)
    // are the approximate path when the multiplier bites at 100 TB.
    "q151_rolling_wau" -> { (s, d) =>
      val userDays = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("_day"))
        .distinct()
      val dau = userDays.groupBy(col("_day").as("day"))
        .agg(count(lit(1)).as("dau"))
      val wau = userDays
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("_i"), col("_day"))
        .select(col("user_id"), date_add(col("_day"), col("_i")).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"), "full_outer")
        .na.fill(0L, Seq("dau"))
        .orderBy("day")
    },

    // CUSUM change-point screen per user: running sum of DECIMAL
    // deviations from the user's own mean — the classic drift detector.
    // The mean comes from a whole-partition window (keyed, no second
    // scan), deviations accumulate exactly (value and mean both on the
    // DECIMAL grid), and only the reported max |S| touches the fr grid.
    "q152_cusum" -> { (s, d) =>
      val byUser = Window.partitionBy(col("user_id"))
      val wSeq = byUser.orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("_vd", fr(col("value"), 6).cast("decimal(18,6)"))
        // mean via DECIMAL window sum / count — a windowed avg() of raw
        // doubles would sum in partition order and drift across engines
        .withColumn("_mu", fr(sum(col("_vd")).over(byUser).cast("double")
          / count(lit(1)).over(byUser), 6).cast("decimal(18,6)"))
        .withColumn("_s", sum(col("_vd") - col("_mu")).over(wSeq))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          fr(max(abs(col("_s"))).cast("double"), 4).as("cusum_max"))
        .orderBy("user_id")
    },

    // Burstiness index B = (σ−μ)/(σ+μ) of inter-event gaps per user
    // (Goh & Barabási): B→−1 periodic, 0 Poisson, →1 bursty. Gaps are
    // integer SECONDS (per-stamp unix_seconds floor), their sums and the
    // n·Σd²−(Σd)² variance identity run in DECIMAL(38,0) so 100 TB-sized
    // counts cannot overflow the cross-products; σ, μ and B are the only
    // doubles, computed in one written order.
    "q153_burstiness" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("_d", unix_seconds(col("ts"))
          - unix_seconds(lag(col("ts"), 1).over(w)))
        .filter(col("_d").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("_n"),
          sum(col("_d").cast("decimal(38,0)")).as("_sd"),
          sum((col("_d") * col("_d")).cast("decimal(38,0)")).as("_sdd"))
        .filter(col("_n") > 1)
        .withColumn("_mu", col("_sd").cast("double") / col("_n"))
        .withColumn("_sigma", sqrt(
          (col("_n") * col("_sdd") - col("_sd") * col("_sd")).cast("double")
            / (col("_n") * (col("_n") - 1)).cast("double")))
        .select(col("user_id"), col("_n").as("n_gaps"),
          fr(col("_mu"), 4).as("mean_gap_s"),
          fr((col("_sigma") - col("_mu")) / (col("_sigma") + col("_mu")), 6)
            .as("burstiness"))
        .orderBy("user_id")
    },

    // Sequential pattern mining lite: the 20 most common event-type
    // trigrams across user journeys — lead()×2 under the (ts, event_id)
    // total order, exact counts, TakeOrderedAndProject top-k with a full
    // lexicographic tiebreak so the kept set is engine-stable.
    "q154_event_trigrams" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"),
          lead(col("event_type"), 1).over(w).as("b"),
          lead(col("event_type"), 2).over(w).as("c"))
        .filter(col("b").isNotNull && col("c").isNotNull)
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"), col("c"))
        .limit(20)
    },

    // Quantile (CDF) normalization of value per event type — the feature
    // preprocessing staple that maps every value to its empirical
    // percentile. The type-1 CDF (cum/n, ties share the inclusive
    // cumulative) computes ONCE per distinct value on the census, then
    // equi-joins back to rows — no rank window ever touches the raw
    // stream, the q136 census argument as a row-level transform.
    "q155_quantile_norm" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("_vd", col("value").cast("decimal(18,4)"))
      val census = ev.groupBy(col("event_type"), col("_vd"))
        .agg(count(lit(1)).as("_f"))
      // Sizing-gated census cumsum (r17): the 4 dp value census is
      // data-dependent; keyed by the ≤5 types, range-parallel within each
      val cdf = gatedCensusCumsum(census, keys = Seq("event_type"),
        order = Seq(col("_vd")), valueCol = "_f", inclusive = true,
        cumName = "_cum", totName = Some("_n"))
        .select(col("event_type"), col("_vd"),
          fr(col("_cum").cast("double") / col("_n"), 6).as("cdf"))
      ev.filter(col("event_id") % 199 === 0)
        .join(cdf, Seq("event_type", "_vd"))
        .select(col("event_id"), col("event_type"),
          col("value"), col("cdf"))
        .orderBy("event_id")
    },

    // Leave-one-out target encoding of event_type against a derived
    // binary target (value above the GLOBAL gridded mean): the ML
    // categorical encoder that removes self-leakage — per row, (category
    // positives − own target)/(category count − 1). Category stats are
    // one partial-aggregated pass broadcast back; all counts exact, one
    // fr division per row.
    "q156_target_encoding" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val gm = ev.agg(
        fr(decSum(col("value")).cast("double") / count(lit(1)), 6)
          .as("_gmu"))
      val tagged = ev.crossJoin(broadcast(gm))
        .withColumn("_t", when(col("value") > col("_gmu"), 1L).otherwise(0L))
      val stats = tagged.groupBy(col("event_type"))
        .agg(sum(col("_t")).as("_pos"), count(lit(1)).as("_cnt"))
      tagged.join(broadcast(stats), Seq("event_type"))
        .filter(col("event_id") % 199 === 0)
        .select(col("event_id"), col("event_type"), col("_t").as("target"),
          when(col("_cnt") > 1,
            fr((col("_pos") - col("_t")).cast("double")
              / (col("_cnt") - 1), 6)).as("loo_encoding"))
        .orderBy("event_id")
    },

    // GROUP BY ALL / ORDER BY ALL (the analyst-SQL sugar both engines
    // standardized): identical query text through the spark.sql entry
    // point — the resolver must infer the same grouping keys and the
    // same ordering as DuckDB for the hash to land.
    "q158_group_by_all" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("graft_gba_lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
          CAST(floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
            AS DOUBLE) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))
            AS DOUBLE) / CAST(100 AS DOUBLE) AS sum_qty
        FROM graft_gba_lineitem
        GROUP BY ALL ORDER BY ALL""")
    },

    // Schema-evolution union: two feeds with reordered and missing
    // columns align BY NAME (missing → null) — the batch form of every
    // long-lived table's ingestion reality. Spark: unionByName with
    // allowMissingColumns; DuckDB: UNION ALL BY NAME. The null census
    // per status proves the fill semantics match.
    "q159_union_by_name" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val b = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderstatus"), col("o_orderkey"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_with_price"),
          fr(decSum(col("o_totalprice")).cast("double"), 2)
            .as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // Weighted median (type-1) of quantity weighted by price, per flag:
    // the census carries DECIMAL-exact cent weights per distinct
    // quantity, the crossing point is pure integer threshold math
    // (cum·2 ≥ total), and the only window runs over the census. The
    // robust-statistics sibling of q86/q139/q142.
    "q160_weighted_median" -> { (s, d) =>
      val census = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("_q"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("_w"))
        .groupBy(col("l_returnflag"), col("_q"))
        .agg(sum(col("_w")).as("_wsum"))
      val wAsc = Window.partitionBy(col("l_returnflag")).orderBy(col("_q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      census
        .withColumn("_cum", sum(col("_wsum")).over(wAsc))
        .withColumn("_tot", sum(col("_wsum")).over(
          Window.partitionBy(col("l_returnflag"))))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("_cum") * 2 >= col("_tot"), col("_q")))
            .cast("double").as("weighted_median_qty"),
          fr(max(col("_tot")).cast("double") / 100, 2).as("total_weight"))
        .orderBy("l_returnflag")
    },

    // Mutual information between event type and a fixed value bin (I(X;Y)
    // in nats): every marginal is an exact BIGINT from the 50-cell
    // contingency census, each cell term is one identical double
    // expression, and the cell terms SUM IN (type, bin) ORDER through the
    // q113 ordered-fold pattern — a bare SUM of doubles would drift with
    // aggregation order. The dependence screen behind every feature-
    // selection pass.
    "q161_mutual_information" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .select(col("event_type").as("_x"),
          least(floor(col("value") / 50).cast("int"), lit(9)).as("_y"))
        .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_c"))
      val wAll = Window.partitionBy()
      val t = cells
        .withColumn("_r", sum(col("_c")).over(Window.partitionBy(col("_x"))))
        .withColumn("_k", sum(col("_c")).over(Window.partitionBy(col("_y"))))
        .withColumn("_n", sum(col("_c")).over(wAll))
        .withColumn("_t",
          (col("_c").cast("double") / col("_n"))
            * log((col("_c") * col("_n")).cast("double")
              / (col("_r") * col("_k")).cast("double")))
      t.agg(max(col("_n")).as("n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("_x"), col("_y"),
              col("_t")))), e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_mi"))
        .select(col("n"), fr(col("_mi"), 6).as("mi_nats"))
    },

    // Chi-square test of independence + Cramér's V over the same
    // contingency census: expected counts are exact integer cross-
    // products over n, each cell's (c−e)²/e folds in (type, bin) order,
    // V normalizes by n·min(R−1, C−1). The classic categorical-
    // association audit.
    "q162_chi_square" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .select(col("event_type").as("_x"),
          least(floor(col("value") / 50).cast("int"), lit(9)).as("_y"))
        .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_c"))
      val wAll = Window.partitionBy()
      val t = cells
        .withColumn("_r", sum(col("_c")).over(Window.partitionBy(col("_x"))))
        .withColumn("_k", sum(col("_c")).over(Window.partitionBy(col("_y"))))
        .withColumn("_n", sum(col("_c")).over(wAll))
        .withColumn("_nx", size(collect_set(col("_x")).over(wAll)).cast("long"))
        .withColumn("_ny", size(collect_set(col("_y")).over(wAll)).cast("long"))
        .withColumn("_e",
          (col("_r") * col("_k")).cast("double") / col("_n"))
        .withColumn("_t",
          (col("_c") - col("_e")) * (col("_c") - col("_e")) / col("_e"))
      t.agg(max(col("_n")).as("n"),
          max((col("_nx") - 1) * (col("_ny") - 1)).as("dof"),
          max(least(col("_nx") - 1, col("_ny") - 1)).as("_mindim"),
          aggregate(
            transform(array_sort(collect_list(struct(col("_x"), col("_y"),
              col("_t")))), e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_chi2"))
        .select(col("n"), col("dof"), fr(col("_chi2"), 4).as("chi2"),
          fr(sqrt(col("_chi2") / (col("n") * col("_mindim"))), 6)
            .as("cramers_v"))
    },

    // Population stability index between the month's two halves — the
    // model-monitoring drift score beside KS (q143): per value bin,
    // (p−q)·ln(p/q) from exact bin counts, folded in bin order. Bins
    // with a missing side contribute a CASE-guarded 0 so the score stays
    // finite and both engines agree on the guard.
    "q163_psi" -> { (s, d) =>
      val binned = Tables.events(s, d)
        .select(least(floor(col("value") / 50).cast("int"), lit(9)).as("_b"),
          (dayofmonth(col("ts")) <= 15).as("_early"))
      val cells = binned.groupBy(col("_b"))
        .agg(sum(when(col("_early"), 1L).otherwise(0L)).as("_a"),
          sum(when(!col("_early"), 1L).otherwise(0L)).as("_c"))
      val wAll = Window.partitionBy()
      val t = cells
        .withColumn("_na", sum(col("_a")).over(wAll))
        .withColumn("_nc", sum(col("_c")).over(wAll))
        .withColumn("_t", when(col("_a") > 0 && col("_c") > 0,
          (col("_a").cast("double") / col("_na")
            - col("_c").cast("double") / col("_nc"))
            * log((col("_a") * col("_nc")).cast("double")
              / (col("_c") * col("_na")).cast("double")))
          .otherwise(lit(0.0)))
      t.agg(max(col("_na")).as("n_early"), max(col("_nc")).as("n_late"),
          aggregate(
            transform(array_sort(collect_list(struct(col("_b"), col("_t")))),
              e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_psi"))
        .select(col("n_early"), col("n_late"), fr(col("_psi"), 6).as("psi"))
    },

    // Exact ROC AUC of the q80 quality score predicting English documents
    // — the canonical model-eval metric as pure census math: the
    // Mann-Whitney identity 2·AUC·nP·nN = Σᵢ(2·pᵢ·cumNegBelow + pᵢ·nᵢ)
    // over the gridded-score census (ties contribute half, hence the ×2
    // to stay in BIGINT). No per-row rank window, no doubles until the
    // single final division.
    "q164_roc_auc" -> { (s, d) =>
      val scored = graft.operators.TextAnalysis
        .qualityClassifier(Tables.documents(s, d), "text")
        .select(fr(col("quality_score"), 4).as("_s"),
          (col("lang") === "en").as("_pos"))
      val census = scored.groupBy(col("_s"))
        .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("_p"),
          sum(when(!col("_pos"), 1L).otherwise(0L)).as("_g"))
      val wAsc = Window.orderBy(col("_s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      census
        .withColumn("_cumG", coalesce(sum(col("_g")).over(wAsc), lit(0L)))
        .agg(sum(col("_p")).as("_np"), sum(col("_g")).as("_ng"),
          sum(lit(2) * col("_p") * col("_cumG") + col("_p") * col("_g"))
            .as("_u2"))
        .select(col("_np").as("n_pos"), col("_ng").as("n_neg"),
          fr(col("_u2").cast("double")
            / (lit(2) * col("_np") * col("_ng")).cast("double"), 6)
            .as("auc"))
    },

    // Calibration table for the q80 score against the English label: ten
    // predicted-probability bins, each with exact counts, the DECIMAL
    // mean prediction and the observed positive rate — reliability
    // diagrams as a relational census, no sum of doubles anywhere (each
    // bin's two ratios are single gridded divisions).
    "q165_calibration" -> { (s, d) =>
      graft.operators.TextAnalysis
        .qualityClassifier(Tables.documents(s, d), "text")
        .select(fr(col("quality_score"), 4).as("_s"),
          (col("lang") === "en").as("_pos"))
        .withColumn("_bin", least(floor(col("_s") * 10).cast("int"), lit(9)))
        .groupBy(col("_bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_pos"), 1L).otherwise(0L)).as("n_pos"),
          fr(sum(col("_s").cast("decimal(18,4)")).cast("double")
            / count(lit(1)), 6).as("mean_pred"),
          fr(sum(when(col("_pos"), 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("obs_rate"))
        .orderBy("bin")
    },

    // Brier score of the same prediction: mean squared error between the
    // gridded probability and the binary label, decomposed over the
    // (score, label) census — each cell contributes c·(s−y)² through one
    // identical double expression, cells fold in (score, label) order
    // (the q161 rule), one division at the end.
    "q166_brier" -> { (s, d) =>
      val census = graft.operators.TextAnalysis
        .qualityClassifier(Tables.documents(s, d), "text")
        .select(fr(col("quality_score"), 4).as("_s"),
          when(col("lang") === "en", 1L).otherwise(0L).as("_y"))
        .groupBy(col("_s"), col("_y")).agg(count(lit(1)).as("_c"))
        .withColumn("_t", col("_c")
          * (col("_s") - col("_y")) * (col("_s") - col("_y")))
      census.agg(sum(col("_c")).as("_n"),
          aggregate(
            transform(array_sort(collect_list(struct(col("_s"), col("_y"),
              col("_t")))), e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_b"))
        .select(col("_n").as("n"),
          fr(col("_b") / col("_n"), 6).as("brier"))
    },

    // Lag-1..3 autocorrelation of the daily event-value series per type.
    // All five Pearson sums run over INTEGER-gridded daily means (4 dp →
    // BIGINT, ≤ 5e6 per day, so Σx² ≤ 7.5e14 and n·Σx² ≤ 2.25e16 stay
    // exact in int64); the only doubles are the final casts, and an
    // identical int64 → double cast is bit-deterministic on both engines.
    // The window is over the DAILY series (one row per key·day — bounded
    // by calendar, not data volume), so the plan at 100 TB is one shuffle
    // to (event_type) of a few-thousand-row aggregate, never a sort of
    // raw events.
    "q167_acf" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_x"))
      val pairs = daily
        .withColumn("_l1", lag(col("_x"), 1).over(w))
        .withColumn("_l2", lag(col("_x"), 2).over(w))
        .withColumn("_l3", lag(col("_x"), 3).over(w))
        .select(col("event_type"), explode(array(
          struct(lit(1).as("lag_k"), col("_x").as("x"), col("_l1").as("y")),
          struct(lit(2).as("lag_k"), col("_x").as("x"), col("_l2").as("y")),
          struct(lit(3).as("lag_k"), col("_x").as("x"), col("_l3").as("y"))))
          .as("p"))
        .select(col("event_type"), col("p.lag_k").as("lag_k"),
          col("p.x").as("x"), col("p.y").as("y"))
        .filter(col("y").isNotNull)
      pairs.groupBy(col("event_type"), col("lag_k"))
        .agg(count(lit(1)).as("_n"), sum(col("x")).as("_sx"),
          sum(col("y")).as("_sy"), sum(col("x") * col("y")).as("_sxy"),
          sum(col("x") * col("x")).as("_sxx"),
          sum(col("y") * col("y")).as("_syy"))
        .select(col("event_type"), col("lag_k"), col("_n").as("n_pairs"),
          fr((col("_n") * col("_sxy") - col("_sx") * col("_sy"))
            .cast("double")
            / (sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx"))
                .cast("double"))
              * sqrt((col("_n") * col("_syy") - col("_sy") * col("_sy"))
                .cast("double"))), 6).as("acf"))
        .orderBy("event_type", "lag_k")
    },

    // Exponentially-weighted moving average of the daily mean value per
    // type, α = 0.2. EWMA is inherently sequential, so it runs as an
    // ordered left fold over the collected daily series — both engines
    // fold list-order left-to-right with the literal sequence
    // 0.2·x + 0.8·acc, seeded by the first day, so the IEEE trajectories
    // are identical. The collected array is the DAILY series (calendar-
    // bounded), never raw rows: at 100 TB this is a ~thousands-element
    // array per key after a map-side-combined aggregate.
    "q168_ewma" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg((floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("_v"))
      daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("_v"))))
          .as("_s"))
        .select(col("event_type"),
          transform(col("_s"), e => e.getField("_v")).as("_vs"))
        .select(col("event_type"), size(col("_vs")).as("n_days"),
          fr(aggregate(
            slice(col("_vs"), lit(2), greatest(size(col("_vs")) - 1, lit(0))),
            element_at(col("_vs"), 1),
            (acc, x) => lit(0.2) * x + lit(0.8) * acc), 6).as("ewma"))
        .orderBy("event_type")
    },

    // Annualization-free Sharpe ratio of daily returns per event type.
    // Returns are computed from the 4 dp-gridded daily means (identical
    // double division on identical ints), winsorized to ±10 so the
    // 6 dp-scaled integer return rᵢ ≤ 1e7 keeps n·Σr² ≤ 9e16 exact in
    // int64, then mean and sample variance come out of the (n, Σr, Σr²)
    // integer sums — the textbook one-pass identity, but with zero
    // double-summation anywhere. Doubles appear only in the final
    // mean/vol/sharpe divisions, identical op-for-op to the oracle.
    "q169_sharpe" -> { (s, d) =>
      dailyReturns(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_r")).as("_s"),
          sum(col("_r") * col("_r")).as("_ss"))
        .select(col("event_type"), col("_n").as("n_ret"),
          fr(col("_s").cast("double") / col("_n") / lit(1000000.0), 6)
            .as("mean_ret"),
          fr(sqrt((col("_n") * col("_ss") - col("_s") * col("_s"))
            .cast("double")
            / (col("_n") * (col("_n") - 1)).cast("double")
            / lit(1.0e12)), 6).as("vol"),
          fr((col("_s").cast("double") / col("_n") / lit(1000000.0))
            / sqrt((col("_n") * col("_ss") - col("_s") * col("_s"))
              .cast("double")
              / (col("_n") * (col("_n") - 1)).cast("double")
              / lit(1.0e12)), 6).as("sharpe"))
        .orderBy("event_type")
    },

    // Historical VaR(95) and expected shortfall per event type, census-
    // decomposed: the k = ⌈n/20⌉ smallest scaled-integer returns are
    // located by cumulating the (return, freq) census — a window over
    // DISTINCT return values, never raw rows — and ES sums the tail run
    // as v·(min(k, cum+f) − cum), the partial-run overlap identity, all
    // in exact int64. VaR is the census run containing rank k. The same
    // shape the trimmed-mean census (q136) uses; at 100 TB the sort is
    // over the bounded census, and the expensive part is one map-side-
    // combined groupBy.
    "q170_var_es" -> { (s, d) =>
      val census = rankedCensus(dailyReturns(s, d), col("event_type"),
          col("_r"))
        .withColumn("_k", expr("(_n + 19) div 20"))
      census.groupBy(col("_key").as("event_type"))
        .agg(max(col("_n")).as("n_ret"), max(col("_k")).as("_kk"),
          max(when(col("_cum") < col("_k")
            && col("_cum") + col("_f") >= col("_k"), col("_v"))).as("_var"),
          sum(col("_v") * greatest(
            least(col("_k"), col("_cum") + col("_f")) - col("_cum"),
            lit(0L))).as("_tail"))
        .select(col("event_type"), col("n_ret"),
          fr(col("_var").cast("double") / lit(1000000.0), 6).as("var95"),
          fr(col("_tail").cast("double") / col("_kk") / lit(1000000.0), 6)
            .as("es95"))
        .orderBy("event_type")
    },

    // 5/95-winsorized mean account balance per market segment. Both
    // clamp bounds are exact order statistics read off the cumulated
    // (cents, freq) census; the census then joins its own per-key bounds
    // (5 rows, broadcast) and the winsorized mean is Σ f·clamp(v,lo,hi)
    // — integer cents end to end, one final double division. No window
    // or sort ever touches raw rows.
    "q171_winsorized_mean" -> { (s, d) =>
      val census = rankedCensus(Tables.customer(s, d),
          col("c_mktsegment"),
          floor(col("c_acctbal") * lit(100.0) + lit(0.5)))
        .withColumn("_klo", expr("(_n + 19) div 20"))
        .withColumn("_khi", expr("(19 * _n + 19) div 20"))
      val bounds = census.groupBy(col("_key").as("_bseg"))
        .agg(max(when(col("_cum") < col("_klo")
            && col("_cum") + col("_f") >= col("_klo"), col("_v"))).as("_lo"),
          max(when(col("_cum") < col("_khi")
            && col("_cum") + col("_f") >= col("_khi"), col("_v"))).as("_hi"))
      census.join(broadcast(bounds), col("_key") === col("_bseg"))
        .groupBy(col("_key").as("segment"))
        .agg(max(col("_n")).as("n"), max(col("_lo")).as("_l"),
          max(col("_hi")).as("_h"),
          sum(col("_f") * least(greatest(col("_v"), col("_lo")), col("_hi")))
            .as("_ws"))
        .select(col("segment"), col("n"),
          fr(col("_l").cast("double") / lit(100.0), 2).as("p05"),
          fr(col("_h").cast("double") / lit(100.0), 2).as("p95"),
          fr(col("_ws").cast("double") / col("n") / lit(100.0), 6)
            .as("w_mean"))
        .orderBy("segment")
    },

    // Tukey-fence outlier census of retail prices per brand: Q1/Q3 as
    // exact order statistics from the cumulated cents census, fences in
    // DOUBLED integer cents (2·v ≶ 2·q ∓ 3·IQR) so the 1.5× multiplier
    // never leaves int64 — the whole query is integer-exact, the two
    // fr() divisions at the end are presentation only. Census join is a
    // 25-row broadcast.
    "q172_iqr_outliers" -> { (s, d) =>
      val census = rankedCensus(Tables.part(s, d), col("p_brand"),
          floor(col("p_retailprice") * lit(100.0) + lit(0.5)))
        .withColumn("_k1", expr("(_n + 3) div 4"))
        .withColumn("_k3", expr("(3 * _n + 3) div 4"))
      val bounds = census.groupBy(col("_key").as("_bb"))
        .agg(max(when(col("_cum") < col("_k1")
            && col("_cum") + col("_f") >= col("_k1"), col("_v"))).as("_q1"),
          max(when(col("_cum") < col("_k3")
            && col("_cum") + col("_f") >= col("_k3"), col("_v"))).as("_q3"))
      census.join(broadcast(bounds), col("_key") === col("_bb"))
        .withColumn("_iqr", col("_q3") - col("_q1"))
        .groupBy(col("_key").as("brand"))
        .agg(max(col("_n")).as("n"), max(col("_q1")).as("_g1"),
          max(col("_q3")).as("_g3"),
          sum(when(lit(2) * col("_v") < lit(2) * col("_q1")
              - lit(3) * col("_iqr")
              || lit(2) * col("_v") > lit(2) * col("_q3")
              + lit(3) * col("_iqr"), col("_f")).otherwise(lit(0L)))
            .as("n_out"))
        .select(col("brand"), col("n"),
          fr(col("_g1").cast("double") / lit(100.0), 2).as("q1"),
          fr(col("_g3").cast("double") / lit(100.0), 2).as("q3"),
          col("n_out"))
        .orderBy("brand")
    },

    // Lexicon sentiment scoring per source: token-level positive/negative
    // hits via array HOFs (codegen, no explode — the per-document count
    // never leaves the row), per-document score integer-gridded BEFORE
    // the cross-document sum so the source-level average is an exact
    // int64 census, not an order-dependent double fold.
    "q176_sentiment_lexicon" -> { (s, d) =>
      val posW = Seq("good", "great", "excellent", "happy", "love", "best",
        "nice", "win")
      val negW = Seq("bad", "terrible", "poor", "sad", "hate", "worst",
        "fail", "loss")
      val toks = split(regexp_replace(lower(col("text")), "[^a-z]+", " "),
        " ")
      Tables.documents(s, d)
        .select(col("source"),
          size(filter(toks, x => x.isin(posW: _*))).as("_np"),
          size(filter(toks, x => x.isin(negW: _*))).as("_nn"))
        .withColumn("_sc", floor((col("_np") - col("_nn")).cast("double")
          / (col("_np") + col("_nn") + lit(1)) * lit(1000000.0) + lit(0.5)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_np")).as("n_pos"),
          sum(col("_nn")).as("n_neg"), sum(col("_sc")).as("_ssc"))
        .select(col("source"), col("n_docs"), col("n_pos"), col("n_neg"),
          fr(col("_ssc").cast("double") / col("n_docs") / lit(1000000.0), 6)
            .as("avg_score"))
        .orderBy("source")
    },

    // Robust dispersion per segment: median and MAD both as exact order
    // statistics off cumulated integer-cents censuses (two census passes,
    // windows over distinct values only), robust outliers counted with
    // the 3·1.4826·MAD fence kept integral (10000·dev > 44478·mad — the
    // scaled-integer form of dev > 4.4478·mad). Nothing double except
    // the two presentation divisions.
    "q177_mad" -> { (s, d) =>
      val census = rankedCensus(Tables.customer(s, d),
          col("c_mktsegment"),
          floor(col("c_acctbal") * lit(100.0) + lit(0.5)))
        .withColumn("_k", expr("(_n + 1) div 2"))
      val med = census.groupBy(col("_key").as("_ms"))
        .agg(max(when(col("_cum") < col("_k")
          && col("_cum") + col("_f") >= col("_k"), col("_v"))).as("_med"),
          max(col("_n")).as("_mn"))
      val wDev = Window.partitionBy(col("_key")).orderBy(col("_dv"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val devCensus = census.join(broadcast(med), col("_key") === col("_ms"))
        .withColumn("_dv", abs(col("_v") - col("_med")))
        .groupBy(col("_key"), col("_dv"))
        .agg(sum(col("_f")).as("_df"), max(col("_med")).as("_med2"),
          max(col("_mn")).as("_n2"))
        .withColumn("_dcum", coalesce(sum(col("_df")).over(wDev), lit(0L)))
        .withColumn("_k", expr("(_n2 + 1) div 2"))
      val mad = devCensus.groupBy(col("_key").as("_mads"))
        .agg(max(when(col("_dcum") < col("_k")
          && col("_dcum") + col("_df") >= col("_k"), col("_dv"))).as("_mad"))
      devCensus.join(broadcast(mad), col("_key") === col("_mads"))
        .groupBy(col("_key").as("segment"))
        .agg(max(col("_n2")).as("n"), max(col("_med2")).as("_m"),
          max(col("_mad")).as("_d"),
          sum(when(lit(10000L) * col("_dv") > lit(44478L) * col("_mad"),
            col("_df")).otherwise(lit(0L))).as("n_robust_out"))
        .select(col("segment"), col("n"),
          fr(col("_m").cast("double") / lit(100.0), 2).as("median"),
          fr(col("_d").cast("double") / lit(100.0), 2).as("mad"),
          col("n_robust_out"))
        .orderBy("segment")
    },

    // Hour-of-day seasonality z-scores per event type over a DENSE 24-hour
    // grid (absent hours count 0 — dropping them would bias the mean).
    // Counts and their squares are exact int64; the mean/stddev/z chain
    // is one identical double sequence from those ints. The grid is
    // types × 24 — constant-size regardless of data volume.
    "q178_seasonality" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("_c0"))
      val grid = Tables.events(s, d).select(col("event_type")).distinct()
        .select(col("event_type"), explode(sequence(lit(0), lit(23)))
          .as("hr"))
      val wAll = Window.partitionBy(col("event_type"))
      grid.join(counts, Seq("event_type", "hr"), "left")
        .withColumn("_c", coalesce(col("_c0"), lit(0L)))
        .withColumn("_s", sum(col("_c")).over(wAll))
        .withColumn("_ss", sum(col("_c") * col("_c")).over(wAll))
        .select(col("event_type"), col("hr"), col("_c").as("n"),
          fr((col("_c").cast("double") - col("_s").cast("double") / lit(24.0))
            / sqrt((col("_ss").cast("double")
              - col("_s").cast("double") * col("_s").cast("double")
              / lit(24.0)) / lit(24.0)), 4).as("z"))
        .orderBy("event_type", "hr")
    },

    // Theil–Sen robust trend per event type: the median of all pairwise
    // slopes of the daily series. The pair space is days² — bounded by
    // calendar, never by row count — and each slope is integer-rounded
    // (1e-4 value units/day) so the median is an exact census order
    // statistic. The robust-regression complement to q103's OLS family.
    "q179_theil_sen" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_x",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
      val a = daily.select(col("event_type"), col("_x").as("_x1"),
        col("_v").as("_v1"))
      val b = daily.select(col("event_type").as("_et2"), col("_x").as("_x2"),
        col("_v").as("_v2"))
      val wAsc = Window.partitionBy(col("event_type")).orderBy(col("_si"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(col("event_type"))
      a.join(b, col("event_type") === col("_et2") && col("_x1") < col("_x2"))
        .select(col("event_type"),
          floor((col("_v2") - col("_v1")).cast("double")
            / (col("_x2") - col("_x1")).cast("double") + lit(0.5)).as("_si"))
        .groupBy(col("event_type"), col("_si"))
        .agg(count(lit(1)).as("_f"))
        .withColumn("_cum", coalesce(sum(col("_f")).over(wAsc), lit(0L)))
        .withColumn("_n", sum(col("_f")).over(wAll))
        .withColumn("_k", expr("(_n + 1) div 2"))
        .groupBy(col("event_type"))
        .agg(max(col("_n")).as("n_pairs"),
          max(when(col("_cum") < col("_k")
            && col("_cum") + col("_f") >= col("_k"), col("_si"))).as("_m"))
        .select(col("event_type"), col("n_pairs"),
          fr(col("_m").cast("double") / lit(10000.0), 4).as("slope"))
        .orderBy("event_type")
    },

    // Shannon diversity of the language mix per source, plus the
    // effective-language count exp(H). Uses the same count-entropy
    // identity as the char_entropy expression — every ln() argument is
    // an exact integer, and the Σ c·ln c fold runs in fixed lang order
    // over the bounded language census, so the doubles replay exactly.
    "q180_shannon_diversity" -> { (s, d) =>
      val census = Tables.documents(s, d)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_t",
          col("_c").cast("double") * log(col("_c").cast("double")))
      census.groupBy(col("source"))
        .agg(sum(col("_c")).as("n_docs"), count(lit(1)).as("n_langs"),
          aggregate(
            transform(array_sort(collect_list(struct(col("lang"),
              col("_t")))), e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_sum"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          fr(log(col("n_docs").cast("double"))
            - col("_sum") / col("n_docs").cast("double"), 6).as("h"),
          fr(exp(log(col("n_docs").cast("double"))
            - col("_sum") / col("n_docs").cast("double")), 6).as("eff_langs"))
        .orderBy("source")
    },

    // Exact PERCENTILE_CONT (linear interpolation, type-7) per segment at
    // p ∈ {0.5, 0.9, 0.99}, census-decomposed: h = (n−1)p + 1 locates the
    // two bracketing order statistics in the cumulated cents census, and
    // the interpolation v_k + frac·(v_{k+1} − v_k) runs the identical
    // double sequence on both engines (the only doubles are h and the
    // final blend — positions and values are exact ints). The n=1 /
    // frac=0 edge coalesces v_{k+1} to v_k.
    "q181_percentile_cont" -> { (s, d) =>
      rankedCensus(Tables.customer(s, d), col("c_mktsegment"),
          floor(col("c_acctbal") * lit(100.0) + lit(0.5)))
        .crossJoin(broadcast(s.range(1).select(
          explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))))
        .withColumn("_h", (col("_n") - 1).cast("double") * col("p")
          + lit(1.0))
        .withColumn("_k", floor(col("_h")))
        .groupBy(col("_key").as("segment"), col("p"))
        .agg(max(col("_n")).as("n"),
          max(when(col("_cum") < col("_k")
            && col("_cum") + col("_f") >= col("_k"), col("_v"))).as("_vk"),
          max(when(col("_cum") < col("_k") + 1
            && col("_cum") + col("_f") >= col("_k") + 1, col("_v")))
            .as("_vk1"),
          max(col("_h") - col("_k").cast("double")).as("_fr"))
        .select(col("segment"), col("p"), col("n"),
          fr((col("_vk").cast("double") + col("_fr")
            * (coalesce(col("_vk1"), col("_vk")) - col("_vk")).cast("double"))
            / lit(100.0), 4).as("pct_value"))
        .orderBy("segment", "p")
    },

    // Deterministic MODE per event type: the census row winning under the
    // total order (freq DESC, value ASC) — engines' built-in mode() leaves
    // ties undefined, so the tie-break is pinned explicitly. The ranking
    // window runs over distinct integer values only.
    "q182_mode_by_key" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("_f").desc, col("_v").asc)
      val wAll = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .select(col("event_type"), floor(col("value")).as("_v"))
        .groupBy(col("event_type"), col("_v"))
        .agg(count(lit(1)).as("_f"))
        .withColumn("_rn", row_number().over(w))
        .withColumn("_nd", count(lit(1)).over(wAll))
        .filter(col("_rn") === 1)
        .select(col("event_type"), col("_v").as("mode_value"),
          col("_f").as("freq"), col("_nd").as("n_distinct"))
        .orderBy("event_type")
    },

    // Ordered string aggregation per brand: the distinct-name roster as a
    // '|'-joined sorted list — collect_set → array_sort → array_join is
    // the deterministic Spark form of STRING_AGG(DISTINCT … ORDER BY …).
    // Roster size is vocabulary-bounded, so the collected arrays stay
    // small no matter the row count.
    "q183_string_agg" -> { (s, d) =>
      Tables.part(s, d)
        .groupBy(col("p_brand").as("brand"))
        .agg(countDistinct(col("p_name")).as("n_names"),
          array_join(array_sort(collect_set(col("p_name"))), "|")
            .as("names"))
        .orderBy("brand")
    },

    // Gaps-and-islands: per-user consecutive-active-day streaks via the
    // classic dayNumber − row_number() grouping key, reduced to the
    // longest-streak histogram (how many users peak at a k-day streak).
    // Integer-exact end to end; the window is per user over their
    // distinct active DAYS (calendar-bounded), not their raw events.
    "q184_activity_islands" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("_day"))
      val days = Tables.events(s, d)
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("_day"))
        .distinct()
      val streaks = days
        .withColumn("_grp", col("_day") - row_number().over(w))
        .groupBy(col("user_id"), col("_grp"))
        .agg(count(lit(1)).as("_len"))
      streaks.groupBy(col("user_id"))
        .agg(max(col("_len")).as("_maxStreak"))
        .groupBy(col("_maxStreak").as("max_streak"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("max_streak")
    },

    // Pairwise Pearson correlation matrix over lineitem's four measures
    // in ONE scan: every moment is an exact DECIMAL sum (products formed
    // in decimal, never double), the 6 upper-triangle pairs unpivot from
    // a single aggregate row, and the corr combine is the same
    // int/decimal → double cast sequence as q167. One pass, no shuffle
    // beyond the single global aggregate.
    "q185_corr_matrix" -> { (s, d) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // Exact-cents product sums (r17, guide §2.3 "narrower types" / §1.2
      // per-task work): Spark's Decimal multiply ALWAYS boxes through
      // java.math.BigDecimal, so the old per-row decimal(19,4)² products
      // dominated this one-scan aggregate. Every column is exactly
      // 2-decimal (TPC-H construction; verified |x·100 − round(x·100)| <
      // 1e-6 across all SFs), so x·100 in int64 is exact, the 10 product
      // sums run as codegen long multiplies accumulated into
      // decimal(38,0) (long-backed fast path — decimal +/- only upgrades
      // past 18 digits), and ONE exact decimal division by 10⁴ per final
      // row recovers the identical rational the oracle sums directly —
      // hence the identical double after the cast, hence identical
      // 6-decimal correlations.
      def cents(c: String) =
        floor(col(c) * lit(100.0) + lit(0.5)).cast("long")
      def prodSum(a: String, b: String) =
        sum((cents(a) * cents(b)).cast("decimal(38,0)"))
      val aggs =
        cols.map(c => decSum(col(c)).as(s"_s_$c")) ++
        cols.map(c => prodSum(c, c).as(s"_ss_$c")) ++
        (for { i <- cols.indices; j <- cols.indices if i < j }
          yield prodSum(cols(i), cols(j))
            .as(s"_sp_${cols(i)}_${cols(j)}"))
      val base = Tables.lineitem(s, d)
        .agg(count(lit(1)).as("_n"), aggs: _*)
      // cents² sums carry a 10⁴ scale; divide it out exactly in decimal
      // BEFORE the double cast so the double equals the oracle's bit for
      // bit (same rational → same nearest double)
      def deCents(c: Column): Column = (c / lit(10000)).cast("double")
      def corr(x: String, y: String): Column = {
        val n = col("_n").cast("double")
        val sx = col(s"_s_$x").cast("double")
        val sy = col(s"_s_$y").cast("double")
        val sxy = deCents(col(s"_sp_${x}_$y"))
        val sxx = deCents(col(s"_ss_$x"))
        val syy = deCents(col(s"_ss_$y"))
        fr((n * sxy - sx * sy)
          / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      }
      base.select(col("_n").as("n"), explode(array(
          (for { i <- cols.indices; j <- cols.indices if i < j }
            yield struct(lit(cols(i)).as("col_x"), lit(cols(j)).as("col_y"),
              corr(cols(i), cols(j)).as("r"))): _*)).as("_p"))
        .select(col("_p.col_x").as("col_x"), col("_p.col_y").as("col_y"),
          col("n"), col("_p.r").as("r"))
        .orderBy("col_x", "col_y")
    },

    // Telemetry debounce: count events arriving within 5 s of the
    // previous event on the same (user, type) key (the stateless lag
    // form; a keep-chain debounce is the stateful/streaming variant).
    // Pure keyed window + integer-µs time math, exact on both engines.
    "q186_debounce" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("_keep", col("_prev").isNull
          || unix_micros(col("ts")) - col("_prev") > lit(5000000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("_keep"), 1L).otherwise(0L)).as("n_debounced"))
        .orderBy("event_type")
    },

    // Share-of-total revenue per nation (ratio_to_report): exact DECIMAL
    // revenue census, the total attached by a window over the ≤25 nation
    // rows (bounded — the keyless window never sees order rows), share
    // and rank read off it.
    "q187_share_of_total" -> { (s, d) =>
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("_rev"))
      val wAll = Window.partitionBy()
      rev
        .withColumn("_tot", sum(col("_rev")).over(wAll))
        .withColumn("_rk", rank().over(
          Window.orderBy(col("_rev").desc, col("n_name"))))
        .select(col("n_name"), col("n_orders"),
          fr(col("_rev").cast("double"), 2).as("revenue"),
          fr(col("_rev").cast("double") / col("_tot").cast("double"), 6)
            .as("share"),
          col("_rk").as("rev_rank"))
        .orderBy("n_name")
    },

    // Week-over-week growth per event type: weekly DECIMAL value sums on
    // the day grid, lag + one gridded division. The weekly census is
    // calendar-bounded; growth is null for the first week by definition.
    "q188_wow_growth" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      Tables.events(s, d)
        .withColumn("_day",
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")))
        .groupBy(col("event_type"),
          floor(col("_day") / lit(7)).as("week"))
        .agg(decSum(col("value")).as("_wv"))
        .withColumn("_prev", lag(col("_wv"), 1).over(w))
        .select(col("event_type"), col("week"),
          fr(col("_wv").cast("double"), 4).as("total_value"),
          when(col("_prev").isNotNull, fr(
            (col("_wv") - col("_prev")).cast("double")
              / col("_prev").cast("double"), 6)).as("wow_growth"))
        .orderBy("event_type", "week")
    },

    // Hurst exponent per event type via rescaled-range (R/S) analysis:
    // the daily 4 dp-integer series splits into complete blocks of
    // n ∈ {5,10,15} days; per block the cumulative-deviation range R and
    // population σ come from exact int cumsums/moments (the only doubles
    // are the shared m = Σv/n and the final R/σ); ln E[R/S] regresses on
    // ln n over the three sizes with an explicit 3-point least-squares
    // whose literal op order both engines replay. Everything is bounded
    // by calendar blocks — the heavy part is one daily aggregate.
    "q189_hurst" -> { (s, d) =>
      val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_idx", (row_number().over(wDay) - 1).cast("long"))
      val sizes = s.range(1).select(
        explode(array(lit(5L), lit(10L), lit(15L))).as("_bn"))
      val wBlk = Window.partitionBy(col("event_type"), col("_bn"),
        col("_bid"))
      val wCum = wBlk.orderBy(col("_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val blocks = daily.crossJoin(broadcast(sizes))
        .withColumn("_bid", expr("_idx div _bn"))
        .withColumn("_rn", expr("_idx % _bn"))
        .withColumn("_cum", sum(col("_v")).over(wCum))
        .withColumn("_sb", sum(col("_v")).over(wBlk))
        .withColumn("_ssb", sum(col("_v") * col("_v")).over(wBlk))
        .withColumn("_cnt", count(lit(1)).over(wBlk))
        .filter(col("_cnt") === col("_bn"))
        .filter(col("_bn") * col("_ssb") =!= col("_sb") * col("_sb"))
        .withColumn("_z", col("_cum").cast("double")
          - (col("_rn") + 1).cast("double")
          * (col("_sb").cast("double") / col("_bn").cast("double")))
      val rs = blocks
        .groupBy(col("event_type"), col("_bn"), col("_bid"))
        .agg(((max(col("_z")) - min(col("_z")))
          / sqrt((max(col("_ssb")).cast("double")
            - max(col("_sb")).cast("double") * max(col("_sb")).cast("double")
            / max(col("_bn")).cast("double"))
            / max(col("_bn")).cast("double"))).as("_rs"))
      val y = rs.groupBy(col("event_type"), col("_bn"))
        .agg(count(lit(1)).as("_nb"),
          aggregate(
            transform(array_sort(collect_list(struct(col("_bid"),
              col("_rs")))), e => e.getField("_rs")),
            lit(0.0), (acc, x) => acc + x).as("_srs"))
        .withColumn("_y", log(col("_srs") / col("_nb")))
      val x5 = log(lit(5.0)); val x10 = log(lit(10.0))
      val x15 = log(lit(15.0))
      val sx = x5 + x10 + x15
      val sxx = x5 * x5 + x10 * x10 + x15 * x15
      y.groupBy(col("event_type"))
        .agg(sum(col("_nb")).as("n_blocks"),
          max(when(col("_bn") === 5, col("_y"))).as("_y5"),
          max(when(col("_bn") === 10, col("_y"))).as("_y10"),
          max(when(col("_bn") === 15, col("_y"))).as("_y15"))
        .select(col("event_type"), col("n_blocks"),
          fr((lit(3.0) * (x5 * col("_y5") + x10 * col("_y10")
              + x15 * col("_y15"))
            - sx * (col("_y5") + col("_y10") + col("_y15")))
            / (lit(3.0) * sxx - sx * sx), 4).as("hurst"))
        .orderBy("event_type")
    },

    // Multi-touch attribution, linear + time-decay in one pass: each
    // purchase joins its prior 7-day click/view touches per user (keyed
    // range join), decay weights are 2^-age_days — exactly representable
    // doubles whose per-conversion sum is order-independent — and both
    // credit shares are integer-gridded per touch BEFORE the channel
    // rollup, so the final sums are exact int64. Complements q127's
    // last-touch rule with the fractional models.
    "q191_multi_touch" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("_pu"), col("event_id").as("_pid"),
          col("ts").as("_pts"))
      val touches = ev
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("_tu"), col("event_type").as("channel"),
          col("ts").as("_tts"))
      val w = Window.partitionBy(col("_pid"))
      purchases.join(touches, col("_pu") === col("_tu")
          && col("_tts") < col("_pts")
          && unix_micros(col("_pts")) - unix_micros(col("_tts"))
            <= lit(7L * 86400000000L))
        .withColumn("_age", expr(
          "(unix_micros(_pts) - unix_micros(_tts)) div 86400000000"))
        .withColumn("_w", pow(lit(0.5), col("_age").cast("double")))
        .withColumn("_sw", sum(col("_w")).over(w))
        .withColumn("_k", count(lit(1)).over(w))
        .withColumn("_decay",
          floor(col("_w") / col("_sw") * lit(1000000.0) + lit(0.5)))
        .withColumn("_linear",
          floor(lit(1000000.0) / col("_k") + lit(0.5)))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("_pid")).as("n_conversions"),
          fr(sum(col("_linear")).cast("double") / lit(1000000.0), 4)
            .as("linear_credit"),
          fr(sum(col("_decay")).cast("double") / lit(1000000.0), 4)
            .as("decay_credit"))
        .orderBy("channel")
    },

    // Holt double exponential smoothing (level + trend, α=0.3, β=0.2)
    // per event type: the inherently sequential recurrence runs as an
    // ordered struct-state fold over the calendar-bounded daily array —
    // seed (l₀=v₁, b₀=v₂−v₁), then l' = αx + (1−α)(l+b),
    // b' = β(l'−l) + (1−β)b, the literal op order both engines replay.
    // The one-step-ahead forecast l+b falls out at the end.
    "q192_holt" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg((floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("_v"))
      def lNew(acc: Column, x: Column): Column =
        lit(0.3) * x + lit(0.7) * (acc.getField("l") + acc.getField("b"))
      daily.groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("day"),
          col("_v")))), e => e.getField("_v")).as("_vs"))
        .filter(size(col("_vs")) >= 2)
        .withColumn("_st", aggregate(
          slice(col("_vs"), lit(3), greatest(size(col("_vs")) - 2, lit(0))),
          struct(element_at(col("_vs"), 1).as("l"),
            (element_at(col("_vs"), 2) - element_at(col("_vs"), 1)).as("b")),
          (acc, x) => struct(lNew(acc, x).as("l"),
            (lit(0.2) * (lNew(acc, x) - acc.getField("l"))
              + lit(0.8) * acc.getField("b")).as("b"))))
        .select(col("event_type"), size(col("_vs")).as("n_days"),
          fr(col("_st.l"), 6).as("level"),
          fr(col("_st.b"), 6).as("trend"),
          fr(col("_st.l") + col("_st.b"), 6).as("forecast_next"))
        .orderBy("event_type")
    },

    // Two-proportion A/B z-test on user conversion (variant = user_id
    // parity — the deterministic hash-split stand-in): counts are exact
    // ints, and the pooled-variance z statistic is one literal double
    // sequence from them. The whole query is two keyed aggregates.
    "q193_ab_test" -> { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase"
          && col("value") > 300, 1L).otherwise(0L)).as("_conv"))
        .withColumn("_variant", pmod(col("user_id"), lit(2)))
      val g = users.groupBy(col("_variant"))
        .agg(count(lit(1)).as("_n"), sum(col("_conv")).as("_c"))
      val one = g.agg(
        max(when(col("_variant") === 0, col("_n"))).as("_na"),
        max(when(col("_variant") === 0, col("_c"))).as("_ca"),
        max(when(col("_variant") === 1, col("_n"))).as("_nb"),
        max(when(col("_variant") === 1, col("_c"))).as("_cb"))
      val pa = col("_ca").cast("double") / col("_na").cast("double")
      val pb = col("_cb").cast("double") / col("_nb").cast("double")
      val pp = (col("_ca") + col("_cb")).cast("double") /
        (col("_na") + col("_nb")).cast("double")
      one.select(col("_na").as("n_a"), col("_ca").as("conv_a"),
        col("_nb").as("n_b"), col("_cb").as("conv_b"),
        fr(pa, 6).as("p_a"), fr(pb, 6).as("p_b"),
        // degenerate pooled rate (all or none convert) → z undefined
        when(col("_ca") + col("_cb") > 0
          && col("_ca") + col("_cb") < col("_na") + col("_nb"),
          fr((pa - pb) / sqrt(pp * (lit(1.0) - pp)
            * (lit(1.0) / col("_na").cast("double")
              + lit(1.0) / col("_nb").cast("double"))), 4)).as("z"))
    },

    // Deterministic Poisson bootstrap CI for the mean event value per
    // type: 20 resample replicas whose per-row weights come from the
    // inverse Poisson(1) CDF applied to an md5-derived uniform — the SAME
    // hex math on both engines, so the "random" replicas replay exactly.
    // Replica means are exact integer-cents ratios; the 90% CI reads the
    // 2nd/19th order statistics off the 20 replica means per key. The
    // explode is a bounded ×20 of the scan, all map-side until the
    // (type, rep) aggregate.
    "q194_bootstrap_ci" -> { (s, d) =>
      val reps = s.range(1, 21).select(col("id").cast("int").as("rep"))
      val t = Seq(0.36787944117144233, 0.7357588823428847,
        0.9196986029286058, 0.9810118431238462)
      val base = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          floor(col("value") * lit(100.0) + lit(0.5)).as("_v"))
        .crossJoin(broadcast(reps))
        .withColumn("_u",
          conv(substring(md5(concat_ws(":", col("event_id"), col("rep"))),
            1, 6), 16, 10).cast("long").cast("double") / lit(16777216.0))
        .withColumn("_w",
          when(col("_u") < t(0), 0L).when(col("_u") < t(1), 1L)
            .when(col("_u") < t(2), 2L).when(col("_u") < t(3), 3L)
            .otherwise(4L))
      val repMeans = base.groupBy(col("event_type"), col("rep"))
        .agg(sum(col("_w")).as("_sw"), sum(col("_w") * col("_v")).as("_swx"))
        .withColumn("_m", col("_swx").cast("double")
          / col("_sw").cast("double") / lit(100.0))
      val wRank = Window.partitionBy(col("event_type"))
        .orderBy(col("_m"), col("rep"))
      val ci = repMeans.withColumn("_rn", row_number().over(wRank))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_reps"),
          max(when(col("_rn") === 2, col("_m"))).as("_lo"),
          max(when(col("_rn") === 19, col("_m"))).as("_hi"))
      val point = Tables.events(s, d).groupBy(col("event_type").as("_et"))
        .agg((decSum(col("value")).cast("double") / count(lit(1)))
          .as("_mean"))
      ci.join(broadcast(point), col("event_type") === col("_et"))
        .select(col("event_type"), col("n_reps"),
          fr(col("_mean"), 6).as("mean"),
          fr(col("_lo"), 6).as("ci_lo"), fr(col("_hi"), 6).as("ci_hi"))
        .orderBy("event_type")
    },

    // Rank-window trio (percent_rank / cume_dist / nth_value) over the
    // calendar-bounded daily series — the three rank functions not yet
    // pinned elsewhere, with nth_value under an explicit full frame so
    // both engines read the same 2nd-smallest value through tied orders.
    "q202_window_trio" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("_v"))
      val wFull = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg((floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("_v"))
        .select(col("event_type"), col("day"), col("_v").as("daily_mean"),
          fr(percent_rank().over(w), 6).as("pr"),
          fr(cume_dist().over(w), 6).as("cd"),
          nth_value(col("_v"), 2).over(wFull).as("second_lowest"))
        .orderBy("event_type", "day")
    },

    // Aggregate FILTER clause (the SQL:2003 form both engines support):
    // conditional aggregation without CASE scaffolding, through identical
    // query text on spark.sql — the resolver must produce the same
    // filtered partial aggregates as the oracle.
    "q203_filter_agg" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("graft_fa_lineitem")
      s.sql("""
        SELECT l_returnflag,
          count(*) AS n_all,
          count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
          count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
          CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
              FILTER (WHERE l_tax > 0.04) AS DOUBLE)
            * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)
            / CAST(100 AS DOUBLE) AS taxed_revenue
        FROM graft_fa_lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },

    // Local-extremum census of the daily series: strict peaks/troughs by
    // lag/lead comparison on the 4 dp-integer grid — exact, no floats
    // until the one presentation division. The signal-shape probe next
    // to CUSUM (q152) and the Bollinger band family (q131).
    "q209_peak_detect" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_p", lag(col("_v"), 1).over(w))
        .withColumn("_n", lead(col("_v"), 1).over(w))
        .filter(col("_p").isNotNull && col("_n").isNotNull)
        .groupBy(col("event_type"))
        .agg(sum(when(col("_v") > col("_p") && col("_v") > col("_n"), 1L)
            .otherwise(0L)).as("n_peaks"),
          sum(when(col("_v") < col("_p") && col("_v") < col("_n"), 1L)
            .otherwise(0L)).as("n_troughs"),
          fr(max(when(col("_v") > col("_p") && col("_v") > col("_n"),
            col("_v"))).cast("double") / lit(10000.0), 4).as("max_peak"),
          min(when(col("_v") > col("_p") && col("_v") > col("_n"),
            col("day"))).as("first_peak_day"))
        .orderBy("event_type")
    },

    // U-shaped (position-based 40/20/40) attribution beside q127's
    // last-touch and q191's linear/decay models: first and last touch
    // take 0.4 each, middles share 0.2 — per-touch credit gridded to
    // int64 BEFORE the channel rollup (the q191 rule), positions from
    // one keyed row_number under the (ts, event_id) total order.
    "q210_position_attribution" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("_pu"), col("event_id").as("_pid"),
          col("ts").as("_pts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("_tu"), col("event_type").as("channel"),
          col("ts").as("_tts"), col("event_id").as("_tid"))
      val w = Window.partitionBy(col("_pid"))
        .orderBy(col("_tts"), col("_tid"))
      val wAll = Window.partitionBy(col("_pid"))
      purchases.join(touches, col("_pu") === col("_tu")
          && col("_tts") < col("_pts")
          && unix_micros(col("_pts")) - unix_micros(col("_tts"))
            <= lit(7L * 86400000000L))
        .withColumn("_pos", row_number().over(w))
        .withColumn("_k", count(lit(1)).over(wAll))
        .withColumn("_c", when(col("_k") === 1, lit(1.0))
          .when(col("_k") === 2, lit(0.5))
          .when(col("_pos") === 1 || col("_pos") === col("_k"), lit(0.4))
          .otherwise(lit(0.2) / (col("_k") - 2).cast("double")))
        .withColumn("_ci", floor(col("_c") * lit(1000000.0) + lit(0.5)))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(when(col("_pos") === 1, 1L).otherwise(0L)).as("n_first"),
          sum(when(col("_pos") === col("_k"), 1L).otherwise(0L))
            .as("n_last"),
          fr(sum(col("_ci")).cast("double") / lit(1000000.0), 4)
            .as("position_credit"))
        .orderBy("channel")
    },

    // Roll's implied-spread estimator: 2·√(−cov(Δp_t, Δp_{t−1})) on the
    // 4 dp-integer daily price changes — the covariance numerator
    // n·Σxy − ΣxΣy stays exact int64, the sign test is integer-exact,
    // and positive-autocovariance keys yield null (the estimator is
    // undefined there) rather than NaN.
    "q211_roll_spread" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val deltas = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_dx", col("_v") - lag(col("_v"), 1).over(w))
        .withColumn("_dy", lag(col("_dx"), 1).over(w))
        .filter(col("_dx").isNotNull && col("_dy").isNotNull)
      deltas.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_dx")).as("_sx"),
          sum(col("_dy")).as("_sy"), sum(col("_dx") * col("_dy")).as("_sxy"))
        .select(col("event_type"), col("_n").as("n_pairs"),
          when(col("_n") * col("_sxy") - col("_sx") * col("_sy") < 0,
            fr(lit(2.0) * sqrt((col("_sx") * col("_sy")
              - col("_n") * col("_sxy")).cast("double")
              / (col("_n") * col("_n")).cast("double")) / lit(10000.0), 6))
            .as("roll_spread"))
        .orderBy("event_type")
    },

    // 2-D equi-width histogram (value decile × hour-of-day) with exact
    // row and column marginals attached to every cell — the joint-density
    // census behind heatmap UIs. Buckets are integer math; marginals are
    // windows over the ≤240-cell grid.
    "q212_histogram_2d" -> { (s, d) =>
      val wRow = Window.partitionBy(col("vb"))
      val wCol = Window.partitionBy(col("hr"))
      Tables.events(s, d)
        .select(least(floor(col("value") / lit(50.0)), lit(9L)).as("vb"),
          hour(col("ts")).as("hr"))
        .groupBy(col("vb"), col("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_total", sum(col("n")).over(wRow))
        .withColumn("col_total", sum(col("n")).over(wCol))
        .orderBy("vb", "hr")
    },

    // Cumulative distinct users per event type by day — "total uniques
    // to date" without ever re-scanning history: each (user, type)
    // collapses to its FIRST active day (one keyed aggregate), and the
    // running sum over the calendar-bounded (type, day) census is the
    // cumulative distinct count. The exact form of what HLL sketches
    // (q123) approximate.
    "q213_cumulative_uniques" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(col("ts").cast("date")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy("event_type", "day")
    },

    // Growth accounting: every week's actives decompose into NEW (first
    // week ever), RETAINED (also active the previous week) and
    // RESURRECTED (active before, but not last week); churned counts the
    // previous week's actives who went quiet. Pure set algebra on the
    // distinct (week, user) census — exact ints, two keyed self-joins.
    "q214_growth_accounting" -> { (s, d) =>
      val wk = Tables.events(s, d)
        .select(floor(
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            / lit(7)).as("w"), col("user_id"))
        .distinct()
      val first = wk.groupBy(col("user_id")).agg(min(col("w")).as("_fw"))
      val prev = wk.select((col("w") + 1).as("w"),
        col("user_id"), lit(1L).as("_inPrev"))
      val cur = wk.join(broadcast(first), Seq("user_id"))
        .join(prev, Seq("w", "user_id"), "left")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("_fw") === col("w"), 1L).otherwise(0L)).as("n_new"),
          sum(when(col("_inPrev").isNotNull
            && col("_fw") =!= col("w"), 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("_inPrev").isNull
            && col("_fw") =!= col("w"), 1L).otherwise(0L))
            .as("n_resurrected"))
        .select(col("w").as("week"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"))
      val churned = wk.join(wk.select((col("w") - 1).as("w"),
          col("user_id"), lit(1L).as("_inNext")),
          Seq("w", "user_id"), "left")
        .groupBy((col("w") + 1).as("week"))
        .agg(sum(when(col("_inNext").isNull, 1L).otherwise(0L))
          .as("churned_from_prev"))
      cur.join(churned, Seq("week"), "left")
        .withColumn("churned_from_prev",
          coalesce(col("churned_from_prev"), lit(0L)))
        .orderBy("week")
    },

    // DAU/WAU stickiness per day: exact daily actives over the exact
    // trailing-7-day actives via the q151 cover-explode (each (user, day)
    // covers [d, d+6]; re-distinct gives rolling distinct without a range
    // join). One gridded ratio per day.
    "q215_stickiness" -> { (s, d) =>
      val days = Tables.events(s, d)
        .select(col("user_id"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("_day"))
        .distinct()
      val dau = days.groupBy(col("_day").as("day"))
        .agg(count(lit(1)).as("dau"))
      // uncapped cover: days past the horizon drop in the inner dau join
      val wau = days
        .select(col("user_id"),
          explode(sequence(col("_day"), col("_day") + 6)).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .filter(col("day") >= 6)
        .select(col("day"), col("dau"), col("wau"),
          fr(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
        .orderBy("day")
    },

    // Power-user concentration: the event share of the top decile of
    // users by activity. The per-user count census cumulates DESCENDING
    // (heaviest first), the top-⌈n/10⌉ rank range splits tied-count runs
    // by exact integer overlap (the q205 rule), and the share is one
    // double division over exact int64 mass.
    "q216_power_users" -> { (s, d) =>
      val counts = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("_c"))
      val census = rankedCensus(counts.select(lit("all").as("_g"),
          col("_c")), col("_g"), col("_c"))
      census
        .withColumn("_k", expr("(_n + 9) div 10"))
        // descending-rank span of this run: (n-cum-f, n-cum]
        .withColumn("_ovl", greatest(
          least(col("_k"), col("_n") - col("_cum"))
            - greatest(lit(0L), col("_n") - col("_cum") - col("_f")),
          lit(0L)))
        .groupBy(col("_key"))
        .agg(max(col("_n")).as("n_users"), max(col("_k")).as("top_users"),
          sum(col("_ovl") * col("_v")).as("_topEvents"),
          sum(col("_f") * col("_v")).as("_allEvents"))
        .select(col("n_users"), col("top_users"),
          col("_topEvents").as("top_events"),
          col("_allEvents").as("all_events"),
          fr(col("_topEvents").cast("double")
            / col("_allEvents").cast("double"), 6).as("top_decile_share"))
    },

    // Hierarchical share-of-parent: nation revenue as a share of its
    // region and of the world, via three explicit aggregates joined back
    // (NOT grouping-sets output — GROUPING() id semantics differ across
    // engines, so the portable form materializes each level). Revenue is
    // exact DECIMAL end to end; region/world totals broadcast.
    "q217_share_of_parent" -> { (s, d) =>
      val base = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("o_totalprice"))
      val byNation = base.groupBy(col("r_name"), col("n_name"))
        .agg(decSum(col("o_totalprice")).as("_nrev"),
          count(lit(1)).as("n_orders"))
      val byRegion = base.groupBy(col("r_name").as("_rr"))
        .agg(decSum(col("o_totalprice")).as("_rrev"))
      val world = base.agg(decSum(col("o_totalprice")).as("_wrev"))
      byNation
        .join(broadcast(byRegion), col("r_name") === col("_rr"))
        .crossJoin(broadcast(world))
        .select(col("r_name"), col("n_name"), col("n_orders"),
          fr(col("_nrev").cast("double"), 2).as("revenue"),
          fr(col("_nrev").cast("double") / col("_rrev").cast("double"), 6)
            .as("share_of_region"),
          fr(col("_nrev").cast("double") / col("_wrev").cast("double"), 6)
            .as("share_of_world"))
        .orderBy("r_name", "n_name")
    },

    // ABC inventory classification: parts rank by DESC revenue under the
    // (revenue, partkey) total order, and the cumulative revenue share
    // buckets them A (≤80%), B (≤95%), C (rest). Revenue is exact
    // DECIMAL; the running share divides two decimals cast to double in
    // one written order. The ranking window runs over the bounded part
    // domain (items, not order lines).
    "q218_abc_analysis" -> { (s, d) =>
      val parts = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(decSum(col("l_extendedprice")).as("_rev"))
      // Sizing-gated cumulative share (r17 — q330's range-decomposition
      // template): below the at-scale threshold the census cumulates
      // through the lazy single window; above it the census
      // range-partitions by the same (_rev desc, l_partkey) total order
      // (one localCheckpoint snapshot so offsets and rows see identical
      // sampled boundaries), within-range running sums run parallel, and
      // the exclusive range offsets cumulate over the bounded per-range
      // census. Row-identical on both sides — ScaleWindowGateSpec.
      val cum =
        if (graft.core.Sizing.leafScanBytes(Tables.lineitem(s, d)) <=
            graft.core.Sizing.fanoutCkptBytes) {
          val w = Window.orderBy(col("_rev").desc, col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          parts.withColumn("_cum", sum(col("_rev")).over(w))
        } else {
          val ranged = parts
            .repartitionByRange(col("_rev").desc, col("l_partkey"))
            .withColumn("_pid", spark_partition_id())
            .localCheckpoint()
          val wP = Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val offsets = ranged.groupBy(col("_pid"))
            .agg(sum(col("_rev")).as("_pr"))
            .select(col("_pid"),
              coalesce(sum(col("_pr")).over(wP), lit(0)).as("_poff"))
          val wIn = Window.partitionBy(col("_pid"))
            .orderBy(col("_rev").desc, col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          ranged
            .withColumn("_rs", sum(col("_rev")).over(wIn))
            .join(broadcast(offsets), Seq("_pid"))
            .withColumn("_cum", col("_poff") + col("_rs"))
        }
      cum
        .crossJoin(broadcast(parts.agg(sum(col("_rev")).as("_tot"))))
        .withColumn("_cs",
          col("_cum").cast("double") / col("_tot").cast("double"))
        .withColumn("abc", when(col("_cs") <= 0.8, "A")
          .when(col("_cs") <= 0.95, "B").otherwise("C"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_parts"),
          fr(sum(col("_rev")).cast("double"), 2).as("class_revenue"))
        .orderBy("abc")
    },

    // Provenance-aware dedup stats: within-source exact duplicates vs
    // texts shared ACROSS sources — the census a curation team reads to
    // decide whether dedup should be per-source or global. Pure set
    // algebra on the (md5, source) census; "cross" marks every doc whose
    // text also appears under another source.
    "q219_provenance_dups" -> { (s, d) =>
      val census = Tables.documents(s, d)
        .groupBy(md5(col("text")).as("_h"), col("source"))
        .agg(count(lit(1)).as("_f"))
      val spread = census.groupBy(col("_h").as("_sh"))
        .agg(countDistinct(col("source")).as("_nsrc"))
      census.join(spread, col("_h") === col("_sh"))
        .groupBy(col("source"))
        .agg(sum(col("_f")).as("n_docs"),
          sum(greatest(col("_f") - 1, lit(0L))).as("n_dup_in_source"),
          sum(when(col("_nsrc") >= 2, col("_f")).otherwise(0L))
            .as("n_cross_source"))
        .orderBy("source")
    },

    // Vocabulary concentration for tokenizer design: the share of all
    // corpus word-bigram occurrences covered by the top-100 bigrams
    // (pinned (count DESC, gram) order) — how much a small merge table
    // buys, beside the real BPE induction (q126). The rank window runs
    // over the bigram CENSUS (vocabulary-bounded), never occurrences.
    "q220_bigram_coverage" -> { (s, d) =>
      val toks = graft.operators.TextAnalysis.tokens(col("text"))
      val bigrams = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
      val census = Tables.documents(s, d)
        .filter(size(toks) >= 2)
        .select(explode(bigrams).as("_bg"))
        .groupBy(col("_bg")).agg(count(lit(1)).as("_c"))
      val w = Window.orderBy(col("_c").desc, col("_bg"))
      // Sizing-gated two-phase top-100 (r17, q274's device): the bigram
      // census grows with the vocabulary square — above the threshold the
      // ranking pre-ranks inside 64 hash sub-buckets (every global
      // top-100 is within its bucket's top-100 under the same total
      // order), the keyless window ranks ≤ 64·100 survivors, and the
      // full-census totals come from a plain aggregate.
      val agg =
        if (graft.core.Sizing.leafScanBytes(census) <=
            graft.core.Sizing.fanoutCkptBytes)
          census
            .withColumn("_rn", row_number().over(w))
            .agg(count(lit(1)).as("n_grams"),
              sum(col("_c")).as("total_occurrences"),
              sum(when(col("_rn") <= 100, col("_c")).otherwise(0L))
                .as("top100_occurrences"))
        else {
          val wSub = Window.partitionBy(col("_sb"))
            .orderBy(col("_c").desc, col("_bg"))
          val top = census
            .withColumn("_sb", pmod(xxhash64(col("_bg")), lit(64)))
            .withColumn("_srn", row_number().over(wSub))
            .filter(col("_srn") <= 100)
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") <= 100)
          census
            .agg(count(lit(1)).as("n_grams"),
              sum(col("_c")).as("total_occurrences"))
            .crossJoin(broadcast(top.agg(
              sum(col("_c")).as("top100_occurrences"))))
        }
      agg.select(col("n_grams"), col("total_occurrences"),
          col("top100_occurrences"),
          fr(col("top100_occurrences").cast("double")
            / col("total_occurrences").cast("double"), 6).as("coverage"))
    },

    // Conditional next-event entropy H(next | current) in nats — how
    // predictable the event stream is, the scalar summary of q122's
    // transition matrix: H = (Σ_a n_a·ln n_a − Σ_ab c_ab·ln c_ab)/N over
    // the ≤25-cell transition census, every ln() argument an exact
    // integer, both folds in fixed census order (the q161 rule).
    "q221_conditional_entropy" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .withColumn("_next", lead(col("event_type"), 1).over(w))
        .filter(col("_next").isNotNull)
        .groupBy(col("event_type").as("_a"), col("_next").as("_b"))
        .agg(count(lit(1)).as("_c"))
      val byA = trans.groupBy(col("_a").as("_aa"))
        .agg(sum(col("_c")).as("_na"))
        .withColumn("_ta",
          col("_na").cast("double") * log(col("_na").cast("double")))
      val cellTerms = trans
        .withColumn("_tc",
          col("_c").cast("double") * log(col("_c").cast("double")))
      val aggA = byA.agg(sum(col("_na")).as("_n"),
        aggregate(transform(array_sort(collect_list(struct(col("_aa"),
          col("_ta")))), e => e.getField("_ta")),
          lit(0.0), (acc, x) => acc + x).as("_sa"))
      val aggC = cellTerms.agg(
        aggregate(transform(array_sort(collect_list(struct(col("_a"),
          col("_b"), col("_tc")))), e => e.getField("_tc")),
          lit(0.0), (acc, x) => acc + x).as("_sc"),
        count(lit(1)).as("n_cells"))
      aggA.crossJoin(aggC)
        .select(col("_n").as("n_transitions"), col("n_cells"),
          fr((col("_sa") - col("_sc")) / col("_n").cast("double"), 6)
            .as("h_next_given_cur"))
    },

    // Wald-Wolfowitz runs test on the daily up/down moves per type: runs
    // R, up/down counts and the normal-approximation z — randomness of
    // the direction sequence, beside the magnitude-level tests. Runs
    // count by lag-compare on the integer sign sequence; the z chain is
    // one literal double sequence from (R, n+, n−).
    "q222_runs_test" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val moves = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_d", col("_v") - lag(col("_v"), 1).over(w))
        .filter(col("_d").isNotNull && col("_d") =!= 0L)
        .withColumn("_s", when(col("_d") > 0, 1L).otherwise(-1L))
        .withColumn("_prev", lag(col("_s"), 1).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
      val stats = moves.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"),
          sum(when(col("_s") === 1, 1L).otherwise(0L)).as("_np"),
          sum(when(col("_s") === -1, 1L).otherwise(0L)).as("_nm"),
          (sum(when(col("_prev").isNull
            || col("_prev") =!= col("_s"), 1L).otherwise(0L))).as("_r"))
      val mu = lit(2.0) * col("_np").cast("double") *
        col("_nm").cast("double") / col("_n").cast("double") + lit(1.0)
      stats
        .select(col("event_type"), col("_n").as("n_moves"),
          col("_np").as("n_up"), col("_nm").as("n_down"),
          col("_r").as("runs"),
          when(col("_np") > 0 && col("_nm") > 0 && col("_n") > 1,
            fr((col("_r").cast("double") - mu)
              / sqrt((mu - lit(1.0)) * (mu - lit(2.0))
                / (col("_n").cast("double") - lit(1.0))), 4)).as("z"))
        .orderBy("event_type")
    },

    // KL divergence between the click and view value distributions —
    // the directed companion to PSI (q163) and KS (q143): 20 equi-width
    // bins, add-one smoothing so empty bins stay finite, every term from
    // exact integer counts, folded in bin order.
    "q223_kl_divergence" -> { (s, d) =>
      val binned = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          least(floor(col("value") / lit(25.0)), lit(19L)).as("_b"))
        .groupBy(col("_b"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("_p"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("_q"))
      val wAll = Window.partitionBy()
      val t = binned
        .withColumn("_np", sum(col("_p")).over(wAll))
        .withColumn("_nq", sum(col("_q")).over(wAll))
        .withColumn("_t",
          ((col("_p") + 1).cast("double") / (col("_np") + 20).cast("double"))
            * log(((col("_p") + 1).cast("double")
                / (col("_np") + 20).cast("double"))
              / ((col("_q") + 1).cast("double")
                / (col("_nq") + 20).cast("double"))))
      t.agg(max(col("_np")).as("n_click"), max(col("_nq")).as("n_view"),
          aggregate(transform(array_sort(collect_list(struct(col("_b"),
            col("_t")))), e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_kl"))
        .select(col("n_click"), col("n_view"), fr(col("_kl"), 6).as("kl"))
    },

    // Lorenz curve of customer revenue: cumulative revenue share at each
    // ascending rank decile, read off the cumulated revenue census with
    // the q170 partial-run mass identity — tied revenues split by exact
    // integer rank overlap, so the curve is deterministic under ties.
    // Gini (q137) integrates this curve; here the 10 points themselves.
    "q224_lorenz_curve" -> { (s, d) =>
      val rev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(floor(decSum(col("o_totalprice")).cast("double")
          * lit(100.0) + lit(0.5)).as("_r"))
      val census = rankedCensus(rev.select(lit("all").as("_g"), col("_r")),
        col("_g"), col("_r"))
      val deciles = s.range(1, 11).select(col("id").as("_d"))
      census.crossJoin(broadcast(deciles))
        .withColumn("_k", expr("(_d * _n) div 10"))
        .withColumn("_mass", col("_v") * greatest(
          least(col("_k"), col("_cum") + col("_f")) - col("_cum"), lit(0L)))
        .groupBy(col("_d").as("decile"))
        .agg(sum(col("_mass")).as("_below"),
          sum(col("_v") * col("_f")).as("_total"),
          max(col("_n")).as("n_customers"))
        .select(col("decile"), col("n_customers"),
          fr(col("_below").cast("double") / col("_total").cast("double"), 6)
            .as("cum_share"))
        .orderBy("decile")
    },

    // Peak session concurrency: gap-based sessions (30-minute quiet, the
    // q47 rule) unpivot to +1/−1 boundary events and the global running
    // sum's maximum is the capacity peak; starts order before ends at
    // equal stamps so touching sessions count as concurrent. The ordered
    // scan runs over SESSION BOUNDARIES (2 rows per session — orders of
    // magnitude below raw events); at 100 TB this partitions by day with
    // carry-in counts, the CrossPartitionSpec seed pattern.
    "q225_peak_concurrency" -> { (s, d) =>
      val wUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val runUser = wUser.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sessions = Tables.events(s, d)
        .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(wUser))
        .withColumn("_brk", when(col("_prev").isNull
          || unix_micros(col("ts")) - col("_prev") > lit(1800000000L), 1L)
          .otherwise(0L))
        .withColumn("_sid", sum(col("_brk")).over(runUser))
        .groupBy(col("user_id"), col("_sid"))
        .agg(min(unix_micros(col("ts"))).as("_start"),
          max(unix_micros(col("ts"))).as("_end"))
      val bounds = sessions
        .select(col("user_id"), col("_start").as("_t"), lit(1L).as("_delta"))
        .unionByName(sessions.select(col("user_id"),
          col("_end").as("_t"), lit(-1L).as("_delta")))
      // Decomposed global sweep (r17, guide §2.5): the running concurrency
      // used to ride ONE keyless window over every session bound — the
      // single-task trap, invisible at gate scale and a straggler at 100 TB
      // (bounds scale with users × time). The UTC day of _t is a PREFIX of
      // the (_t, _delta desc, user_id) sweep order, so the global running
      // sum decomposes exactly like deterministicShuffle's rank: a
      // day-partitioned (parallel) running sum plus each day's exclusive
      // prefix offset, where the offset cumsum's only keyless window runs
      // over the CALENDAR-BOUNDED day census (the accepted
      // window-over-bounded-census shape, q224/q226's class). Identical
      // per-row sums by construction: same order within a day, days
      // ordered by value.
      val keyed = bounds.withColumn("_bkt",
        floor(col("_t") / lit(86400000000L)).cast("long"))
      val wDayCensus = Window.orderBy(col("_bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = keyed.groupBy(col("_bkt"))
        .agg(sum(col("_delta")).as("_dsum"))
        .withColumn("_off", coalesce(sum(col("_dsum")).over(wDayCensus),
          lit(0L)))
        .select(col("_bkt"), col("_off"))
      val wDay = Window.partitionBy(col("_bkt"))
        .orderBy(col("_t"), col("_delta").desc, col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val run = keyed
        .withColumn("_rs", sum(col("_delta")).over(wDay))
        .join(broadcast(offsets), Seq("_bkt"))
        .withColumn("_conc", col("_off") + col("_rs"))
      // One pass over run replaces the old three-branch assembly (max agg
      // ⋈ per-conc min ⋈ session count): the lexicographic max of
      // (_conc, -_t) IS (peak, -earliest peak time), and every session
      // contributes exactly two bound rows so n_sessions = rows / 2.
      run.agg(count(lit(1)).as("_n2"),
          max(struct(col("_conc"), (-col("_t")).as("_nt"))).as("_m"))
        .select((col("_n2") / 2).cast("long").as("n_sessions"),
          col("_m._conc").as("peak_concurrency"),
          timestamp_micros(-col("_m._nt")).cast("timestamp_ntz")
            .as("peak_at"))
    },

    // Kaplan-Meier survival curve of user tenure (first→last active
    // day; users still active in the final week are CENSORED, not
    // events — the distinction naive churn averages get wrong). At-risk
    // counts come off the duration census by suffix mass; S(t) is
    // exp(Σ ln((n−d)/n)) with the running sum sequential over ≤31
    // census rows, every ln() argument a ratio of exact ints.
    "q226_survival_curve" -> { (s, d) =>
      val wAsc = Window.orderBy(col("_t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.orderBy(col("_t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val users = Tables.events(s, d)
        .withColumn("_day",
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")))
        .groupBy(col("user_id"))
        .agg(min(col("_day")).as("_fd"), max(col("_day")).as("_ld"))
        .select((col("_ld") - col("_fd")).cast("long").as("_t"),
          when(col("_ld") <= 22, 1L).otherwise(0L).as("_e"))
      users.groupBy(col("_t"))
        .agg(sum(col("_e")).as("_d"), count(lit(1)).as("_m"))
        .withColumn("_cumBefore",
          coalesce(sum(col("_m")).over(wAsc), lit(0L)))
        .withColumn("_N", sum(col("_m")).over(wAll))
        .withColumn("_nrisk", col("_N") - col("_cumBefore"))
        .withColumn("_term", log((col("_nrisk") - col("_d")).cast("double")
          / col("_nrisk").cast("double")))
        .withColumn("_s", exp(sum(col("_term")).over(wRun)))
        .select(col("_t").as("tenure_days"), col("_nrisk").as("n_risk"),
          col("_d").as("n_events"), (col("_m") - col("_d")).as("n_censored"),
          fr(col("_s"), 6).as("survival"))
        .orderBy("tenure_days")
    },

    // Average order value by basket size — the merchandising staple:
    // line counts per order census, DECIMAL-exact AOV per size bucket.
    "q227_basket_aov" -> { (s, d) =>
      val sizes = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("basket_size"))
      Tables.orders(s, d)
        .join(sizes, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("basket_size"))
        .agg(count(lit(1)).as("n_orders"),
          fr(decSum(col("o_totalprice")).cast("double")
            / count(lit(1)), 2).as("aov"))
        .orderBy("basket_size")
    },

    // Language-ID evaluation: per-language precision/recall/F1 from the
    // q40 confusion census — the metrics layer over the heuristic
    // classifier, all ratios from exact integer cells with zero-guarded
    // divisions mirrored literal-for-literal.
    "q228_langid_prf" -> { (s, d) =>
      val conf = graft.operators.TextAnalysis
        .languageId(Tables.documents(s, d), textCol = "text")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("_c"))
      val byTrue = conf.groupBy(col("lang").as("_lt"))
        .agg(sum(col("_c")).as("_nTrue"))
      val byPred = conf.groupBy(col("lang_pred").as("_lp"))
        .agg(sum(col("_c")).as("_nPred"))
      val tp = conf.filter(col("lang") === col("lang_pred"))
        .select(col("lang").as("_l"), col("_c").as("_tp"))
      val prf = byTrue
        .join(byPred, col("_lt") === col("_lp"), "full")
        .withColumn("_lang", coalesce(col("_lt"), col("_lp")))
        .join(tp, col("_lang") === col("_l"), "left")
        .withColumn("_tp2", coalesce(col("_tp"), lit(0L)))
        .withColumn("_nt", coalesce(col("_nTrue"), lit(0L)))
        .withColumn("_np", coalesce(col("_nPred"), lit(0L)))
      val p = col("_tp2").cast("double") / col("_np").cast("double")
      val r = col("_tp2").cast("double") / col("_nt").cast("double")
      prf.select(col("_lang").as("lang"), col("_nt").as("n_true"),
          col("_np").as("n_pred"), col("_tp2").as("n_correct"),
          when(col("_np") > 0, fr(p, 6)).as("precision"),
          when(col("_nt") > 0, fr(r, 6)).as("recall"),
          when(col("_np") > 0 && col("_nt") > 0 && col("_tp2") > 0,
            fr(lit(2.0) * p * r / (p + r), 6)).as("f1"))
        .orderBy("lang")
    },

    // Referential-integrity audit of every foreign key in the star
    // schema: orphan rows per relationship via anti-join counts — the
    // cross-table data contract beside q125's single-table constraints.
    // Each relationship is one broadcast-ish anti-join aggregate; the
    // five single-row results union into the report.
    "q229_fk_audit" -> { (s, d) =>
      // One LAZY scan per child table (r17): the old form ran child.count()
      // plus a left_anti count EAGERLY per relationship — 10 sequential
      // driver-blocking jobs and every child table scanned twice (guide
      // §5: the driver should do no data work; §1.2: remove passes). A
      // left join against the DISTINCT parent keys is value-identical to
      // the anti-join census (≤1 match per child row by construction, a
      // null/unmatched FK surfaces as a null parent key either way), reads
      // each child once, and the final union keeps the whole audit one
      // Spark job with its five branches scheduled concurrently.
      def audit(name: String, child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame =
        child.join(parent.select(col(parentKey)).distinct(),
            child(childKey) === col(parentKey), "left")
          .agg(count(lit(1)).as("n_rows"),
            count(when(col(parentKey).isNull, 1)).as("n_orphans"))
          .select(lit(name).as("relationship"),
            col("n_rows"), col("n_orphans"))
      audit("customer.c_nationkey->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey")
        .unionByName(audit("lineitem.l_orderkey->orders",
          Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"))
        .unionByName(audit("lineitem.l_partkey->part",
          Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(audit("lineitem.l_suppkey->supplier",
          Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .unionByName(audit("orders.o_custkey->customer",
          Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy("relationship")
    },

    // Warehouse-health fingerprint — the relational bookend to q200's
    // corpus dashboard: table row counts, the DECIMAL revenue checksum,
    // the lineitem/order fanout and orders-per-customer mean — one row a
    // scheduler diffs run-over-run to catch silent ingestion drift.
    "q230_warehouse_health" -> { (s, d) =>
      val li = Tables.lineitem(s, d).agg(count(lit(1)).as("n_lineitem"),
        decSum(col("l_extendedprice")).as("_rev"))
      val o = Tables.orders(s, d).agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("_activeCust"))
      val c = Tables.customer(s, d).agg(count(lit(1)).as("n_customers"))
      val p = Tables.part(s, d).agg(count(lit(1)).as("n_parts"))
      val sup = Tables.supplier(s, d).agg(count(lit(1)).as("n_suppliers"))
      li.crossJoin(o).crossJoin(c).crossJoin(p).crossJoin(sup)
        .select(col("n_lineitem"), col("n_orders"), col("n_customers"),
          col("n_parts"), col("n_suppliers"),
          fr(col("_rev").cast("double"), 2).as("revenue_checksum"),
          fr(col("n_lineitem").cast("double")
            / col("n_orders").cast("double"), 6).as("lines_per_order"),
          fr(col("n_orders").cast("double")
            / col("_activeCust").cast("double"), 6)
            .as("orders_per_active_customer"))
    },

    // Additive seasonal decomposition (STL-lite, one fixed sweep):
    // trend = centered 7-day mean (full windows only, exact int sums ÷
    // 7.0), seasonality = the day-of-week mean of the detrended series
    // (per-dow ordered folds over ≤5 values), residual = the rest. All
    // windows ride the calendar-bounded daily grid.
    "q231_seasonal_decompose" -> { (s, d) =>
      val w7 = Window.partitionBy(col("event_type")).orderBy(col("_dn"))
        .rowsBetween(-3, 3)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_dn",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
      val trended = daily
        .withColumn("_w7n", count(lit(1)).over(w7))
        .withColumn("_w7s", sum(col("_v")).over(w7))
        .withColumn("_trend", when(col("_w7n") === 7,
          col("_w7s").cast("double") / lit(7.0)))
        .withColumn("_det", when(col("_trend").isNotNull,
          col("_v").cast("double") - col("_trend")))
        .withColumn("_dow", pmod(col("_dn"), lit(7)))
      val seasonal = trended.filter(col("_det").isNotNull)
        .groupBy(col("event_type").as("_et2"), col("_dow").as("_dow2"))
        .agg(count(lit(1)).as("_ns"),
          aggregate(transform(array_sort(collect_list(struct(col("_dn"),
            col("_det")))), e => e.getField("_det")),
            lit(0.0), (acc, x) => acc + x).as("_sdet"))
        .withColumn("_seas", col("_sdet") / col("_ns").cast("double"))
        .select(col("_et2"), col("_dow2"), col("_seas"))
      trended.join(broadcast(seasonal),
          col("event_type") === col("_et2") && col("_dow") === col("_dow2"),
          "left")
        .select(col("event_type"), col("day"),
          fr(col("_v").cast("double") / lit(10000.0), 4).as("value"),
          fr(col("_trend") / lit(10000.0), 4).as("trend"),
          fr(col("_seas") / lit(10000.0), 4).as("seasonal"),
          fr((col("_det") - col("_seas")) / lit(10000.0), 4).as("residual"))
        .orderBy("event_type", "day")
    },

    // Rolling 10-day correlation between the click and view daily
    // series: day-aligned integer values, window moment sums exact in
    // int64, the Pearson combine per day once the window is full. The
    // rolling twin of q190's whole-period matrix.
    "q232_rolling_corr" -> { (s, d) =>
      val w10 = Window.orderBy(col("day")).rowsBetween(-9, Window.currentRow)
      val daily = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(floor(sum(when(col("event_type") === "click",
            col("value").cast("decimal(18,4)"))).cast("double")
          * lit(100.0) + lit(0.5)).as("_x"),
          floor(sum(when(col("event_type") === "view",
            col("value").cast("decimal(18,4)"))).cast("double")
          * lit(100.0) + lit(0.5)).as("_y"))
      daily
        .withColumn("_n", count(lit(1)).over(w10))
        .withColumn("_sx", sum(col("_x")).over(w10))
        .withColumn("_sy", sum(col("_y")).over(w10))
        .withColumn("_sxy", sum(col("_x") * col("_y")).over(w10))
        .withColumn("_sxx", sum(col("_x") * col("_x")).over(w10))
        .withColumn("_syy", sum(col("_y") * col("_y")).over(w10))
        .filter(col("_n") === 10)
        .select(col("day"),
          fr((col("_n") * col("_sxy") - col("_sx") * col("_sy"))
            .cast("double")
            / (sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx"))
                .cast("double"))
              * sqrt((col("_n") * col("_syy") - col("_sy") * col("_sy"))
                .cast("double"))), 6).as("rolling_r"))
        .orderBy("day")
    },

    // Bot-likeness segmentation by activity-hour entropy: each user's
    // hour-of-day distribution collapses to Shannon entropy (the
    // char_entropy identity — integer ln arguments, per-user folds over
    // ≤24 cells), then users bucket by entropy half-nats. Low entropy =
    // clockwork automation, high = human-diffuse; the census is the
    // triage table.
    "q233_hour_entropy_segments" -> { (s, d) =>
      val perHour = Tables.events(s, d)
        .groupBy(col("user_id"), hour(col("ts")).as("_h"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_t",
          col("_c").cast("double") * log(col("_c").cast("double")))
      val perUser = perHour.groupBy(col("user_id"))
        .agg(sum(col("_c")).as("_n"),
          aggregate(transform(array_sort(collect_list(struct(col("_h"),
            col("_t")))), e => e.getField("_t")),
            lit(0.0), (acc, x) => acc + x).as("_s"))
        .withColumn("_ent", log(col("_n").cast("double"))
          - col("_s") / col("_n").cast("double"))
      perUser
        .withColumn("bucket", floor(col("_ent") / lit(0.5)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"),
          fr(min(col("_ent")), 4).as("min_entropy"),
          fr(max(col("_ent")), 4).as("max_entropy"))
        .orderBy("bucket")
    },

    // Binary-segmentation changepoint: the split of each daily series
    // maximizing the between-segment sum of squares — the split-POINT
    // estimator beside q152's CUSUM screen. Prefix sums are exact int64;
    // the score combine casts them to double in one written order, and
    // the argmax tie-breaks to the earliest split via a pinned
    // (score DESC, day ASC) row_number.
    "q234_changepoint_binseg" -> { (s, d) =>
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("_dn"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).as("_v"))
        .withColumn("_dn",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
        .withColumn("_k", row_number().over(wOrd).cast("long"))
        .withColumn("_cum", sum(col("_v")).over(wCum))
        .withColumn("_n", count(lit(1)).over(wAll))
        .withColumn("_S", sum(col("_v")).over(wAll))
      val scored = daily.filter(col("_k") < col("_n"))
        .withColumn("_m1",
          col("_cum").cast("double") / col("_k").cast("double"))
        .withColumn("_m2", (col("_S") - col("_cum")).cast("double")
          / (col("_n") - col("_k")).cast("double"))
        .withColumn("_score", (col("_m1") - col("_m2"))
          * (col("_m1") - col("_m2"))
          * (col("_k") * (col("_n") - col("_k"))).cast("double")
          / col("_n").cast("double"))
      val wBest = Window.partitionBy(col("event_type"))
        .orderBy(col("_score").desc, col("day"))
      scored.withColumn("_rn", row_number().over(wBest))
        .filter(col("_rn") === 1)
        .select(col("event_type"), col("day").as("split_after_day"),
          fr(col("_score") / lit(1.0e8), 4).as("score"),
          fr(col("_m1") / lit(10000.0), 4).as("mean_before"),
          fr(col("_m2") / lit(10000.0), 4).as("mean_after"))
        .orderBy("event_type")
    },

    // Inter-event gap percentiles per type (telemetry latency triage):
    // exact p50/p90/p99 of the µs gaps off the cumulated gap census —
    // rank thresholds ⌈p·n⌉ in pure integers, windows over distinct gap
    // values only (the rankedCensus substrate).
    "q235_gap_percentiles" -> { (s, d) =>
      val wOrd = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, d)
        .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(wOrd))
        .filter(col("_prev").isNotNull)
        .select(col("event_type"),
          (unix_micros(col("ts")) - col("_prev")).as("_g"))
      val census = rankedCensus(gaps, col("event_type"), col("_g"))
        .withColumn("_k50", expr("(50 * _n + 99) div 100"))
        .withColumn("_k90", expr("(90 * _n + 99) div 100"))
        .withColumn("_k99", expr("(99 * _n + 99) div 100"))
      def sel(k: String): Column =
        max(when(col("_cum") < col(k)
          && col("_cum") + col("_f") >= col(k), col("_v")))
      census.groupBy(col("_key").as("event_type"))
        .agg(max(col("_n")).as("n_gaps"),
          fr(sel("_k50").cast("double") / lit(1000000.0), 3).as("p50_sec"),
          fr(sel("_k90").cast("double") / lit(1000000.0), 3).as("p90_sec"),
          fr(sel("_k99").cast("double") / lit(1000000.0), 3).as("p99_sec"))
        .orderBy("event_type")
    },

    // Sample-ratio-mismatch guardrail for the q193 A/B split: assignment
    // counts against the designed 50/50 via z = (n_a−n_b)/√(n_a+n_b) —
    // the experimentation sanity check that must pass before any lift
    // readout is trusted. |z| > 3 flags the split as broken.
    "q236_srm_check" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id")).distinct()
        .withColumn("_variant", pmod(col("user_id"), lit(2)))
        .agg(sum(when(col("_variant") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("_variant") === 1, 1L).otherwise(0L)).as("n_b"))
        .select(col("n_a"), col("n_b"),
          fr((col("n_a") - col("n_b")).cast("double")
            / sqrt((col("n_a") + col("n_b")).cast("double")), 4).as("z"),
          (abs((col("n_a") - col("n_b")).cast("double")
            / sqrt((col("n_a") + col("n_b")).cast("double"))) > 3.0)
            .as("srm_flag"))
    },

    // Standardized Pearson residuals per (type, hour) cell — the
    // cell-level diagnostic under q162's global chi-square: which cells
    // actually drive the dependence. Observed and marginal counts are
    // exact ints; e = row·col/n and r = (o−e)/√e are one written double
    // sequence per cell.
    "q237_chisq_residuals" -> { (s, d) =>
      val wR = Window.partitionBy(col("_t"))
      val wC = Window.partitionBy(col("_h"))
      val wAll = Window.partitionBy()
      Tables.events(s, d)
        .select(col("event_type").as("_t"), hour(col("ts")).as("_h"))
        .groupBy(col("_t"), col("_h")).agg(count(lit(1)).as("_o"))
        .withColumn("_rt", sum(col("_o")).over(wR))
        .withColumn("_ct", sum(col("_o")).over(wC))
        .withColumn("_n", sum(col("_o")).over(wAll))
        .withColumn("_e", col("_rt").cast("double")
          * col("_ct").cast("double") / col("_n").cast("double"))
        .select(col("_t").as("event_type"), col("_h").as("hr"),
          col("_o").as("observed"), fr(col("_e"), 4).as("expected"),
          fr((col("_o").cast("double") - col("_e")) / sqrt(col("_e")), 4)
            .as("std_residual"))
        .orderBy("event_type", "hr")
    },

    // Welch's unequal-variance t-test: weekday vs weekend value means
    // per type, t and the Welch-Satterthwaite df from exact integer
    // moment sums (values cent-gridded), every double op mirrored. The
    // two-sample location test beside KS (shape) and the z-test
    // (proportions).
    "q238_welch_ttest" -> { (s, d) =>
      val grouped = Tables.events(s, d)
        .withColumn("_we", pmod(
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")),
          lit(7)) >= 5)
        .withColumn("_v", floor(col("value") * lit(100.0) + lit(0.5)))
        .groupBy(col("event_type"), col("_we"))
        .agg(count(lit(1)).as("_n"), sum(col("_v")).as("_s"),
          sum(col("_v") * col("_v")).as("_ss"))
      val p = grouped.groupBy(col("event_type"))
        .agg(max(when(!col("_we"), col("_n"))).as("_n1"),
          max(when(!col("_we"), col("_s"))).as("_s1"),
          max(when(!col("_we"), col("_ss"))).as("_ss1"),
          max(when(col("_we"), col("_n"))).as("_n2"),
          max(when(col("_we"), col("_s"))).as("_s2"),
          max(when(col("_we"), col("_ss"))).as("_ss2"))
      def mean(s: String, n: String) =
        col(s).cast("double") / col(n).cast("double") / lit(100.0)
      // sample variance over cents², then /100² to value units. The
      // n·Σv² cross-product overflows int64 at row scale, so the combine
      // casts the EXACT sums to double first — identical on both engines.
      def va(ss: String, ssum: String, n: String) =
        (col(n).cast("double") * col(ss).cast("double")
          - col(ssum).cast("double") * col(ssum).cast("double")) /
          (col(n) * (col(n) - 1)).cast("double") / lit(10000.0)
      val se1 = va("_ss1", "_s1", "_n1") / col("_n1").cast("double")
      val se2 = va("_ss2", "_s2", "_n2") / col("_n2").cast("double")
      p.select(col("event_type"), col("_n1").as("n_weekday"),
          col("_n2").as("n_weekend"),
          fr(mean("_s1", "_n1"), 4).as("mean_weekday"),
          fr(mean("_s2", "_n2"), 4).as("mean_weekend"),
          fr((mean("_s1", "_n1") - mean("_s2", "_n2"))
            / sqrt(se1 + se2), 4).as("t"),
          fr((se1 + se2) * (se1 + se2)
            / (se1 * se1 / (col("_n1") - 1).cast("double")
              + se2 * se2 / (col("_n2") - 1).cast("double")), 2).as("df"))
        .orderBy("event_type")
    },

    // Min-max feature scaling audit per type: the exact integer min/max
    // plus a checksum of the scaled column (each row's (v−min)/(max−min)
    // gridded to 6 dp int BEFORE summing) — proves the normalize step
    // replays bit-identically without shipping every row.
    "q239_minmax_scaling" -> { (s, d) =>
      val wAll = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .withColumn("_v", floor(col("value") * lit(100.0) + lit(0.5)))
        .withColumn("_min", min(col("_v")).over(wAll))
        .withColumn("_max", max(col("_v")).over(wAll))
        .withColumn("_sc", floor((col("_v") - col("_min")).cast("double")
          / (col("_max") - col("_min")).cast("double")
          * lit(1000000.0) + lit(0.5)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          fr(max(col("_min")).cast("double") / lit(100.0), 2).as("v_min"),
          fr(max(col("_max")).cast("double") / lit(100.0), 2).as("v_max"),
          fr(sum(col("_sc")).cast("double") / count(lit(1))
            / lit(1000000.0), 6).as("scaled_mean"))
        .orderBy("event_type")
    },

    // Null/NaN profile across every column of the three fact-side
    // tables — the completeness half of data profiling next to q98's
    // distinct censuses. One aggregate pass per table, unioned into the
    // (table, column) report; NaN counted separately for doubles (a NaN
    // is NOT null and silently poisons sums).
    "q240_null_profile" -> { (s, d) =>
      def profile(table: String, df: DataFrame): DataFrame = {
        val total = count(lit(1))
        val rows = df.schema.fields.map { f =>
          val nulls = total - count(col(f.name))
          val nans = f.dataType match {
            case org.apache.spark.sql.types.DoubleType =>
              sum(when(isnan(col(f.name)), 1L).otherwise(0L))
            case _ => lit(0L)
          }
          struct(lit(f.name).as("column"), nulls.as("n_nulls"),
            nans.as("n_nan"))
        }
        df.agg(total.as("_n"), array(rows: _*).as("_cols"))
          .select(lit(table).as("table_name"), col("_n"),
            explode(col("_cols")).as("_c"))
          .select(col("table_name"), col("_c.column").as("column_name"),
            col("_n").as("n_rows"), col("_c.n_nulls").as("n_nulls"),
            col("_c.n_nan").as("n_nan"))
      }
      profile("events", Tables.events(s, d))
        .unionByName(profile("orders", Tables.orders(s, d)))
        .unionByName(profile("customer", Tables.customer(s, d)))
        .orderBy("table_name", "column_name")
    },

    // Point-in-time-correct training-set assembly — the capstone ML
    // shape: per user, features computed STRICTLY before the day-20
    // cutoff (7-day activity, totals, DECIMAL mean value, distinct
    // active days, last event type under the (ts, event_id) total
    // order), the label from the NEXT 7 days only, and a deterministic
    // md5 train/val/test split. Nothing after the cutoff can leak into
    // a feature; the label window never feeds a feature. One scan,
    // keyed aggregates, one row_number window per user.
    "q208_training_assembly" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("_day",
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")))
      val pre = ev.filter(col("_day") < 20)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastType = pre.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("event_type").as("last_event_type"))
      val feats = pre.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("_day") >= 13, 1L).otherwise(0L)).as("n_events_7d"),
          fr(decSum(col("value")).cast("double") / count(lit(1)), 6)
            .as("mean_value"),
          countDistinct(col("_day")).as("days_active"))
      val labels = ev.filter(col("_day") >= 20 && col("_day") < 27
          && col("event_type") === "purchase")
        .select(col("user_id").as("_lu")).distinct()
        .withColumn("label", lit(1L))
      feats
        .join(lastType, Seq("user_id"))
        .join(labels, col("user_id") === col("_lu"), "left")
        .withColumn("label", coalesce(col("label"), lit(0L)))
        .withColumn("_u",
          conv(substring(md5(concat_ws(":", lit("split"), col("user_id"))),
            1, 6), 16, 10).cast("long").cast("double") / lit(16777216.0))
        .withColumn("split", when(col("_u") < 0.8, "train")
          .when(col("_u") < 0.9, "val").otherwise("test"))
        .select(col("user_id"), col("n_events"), col("n_events_7d"),
          col("mean_value"), col("days_active"), col("last_event_type"),
          col("label"), col("split"))
        .orderBy("user_id")
    },

    // Closeness centrality + eccentricity of the q132 BFS seed: the
    // recursive walk's min-distance frontier reduces to the two classic
    // per-node centrality numbers — closeness = (reached−1)/Σdist over
    // the reachable set, eccentricity = max dist. Same UnionLoop
    // recursion and checkpointed edge snapshot as q132 (the lineage
    // lever), one more aggregate on top.
    "q207_closeness" -> { (s, d) =>
      val act = Tables.events(s, d)
        .filter(col("user_id") % 7 === 0)
        .select(col("user_id"), col("event_type"),
          date_trunc("minute", col("ts")).as("_h"))
        .distinct()
      val edges = act
        .join(act.select(col("user_id").as("_v"), col("event_type"),
          col("_h")), Seq("event_type", "_h"))
        .filter(col("user_id") =!= col("_v"))
        .select(col("user_id").as("s"), col("_v").as("d"))
        .distinct()
        .localCheckpoint()
      edges.createOrReplaceTempView("graft_close_edges")
      s.sql("""
        WITH RECURSIVE walk(node, lvl) AS (
          SELECT min(s) AS node, 0 AS lvl FROM graft_close_edges
          UNION ALL
          SELECT DISTINCT e.d, w.lvl + 1
          FROM walk w JOIN graft_close_edges e ON e.s = w.node
          WHERE w.lvl < 4),
        dist AS (SELECT node, min(lvl) AS dist FROM walk GROUP BY node)
        SELECT count(*) AS n_reached,
          CAST(max(dist) AS BIGINT) AS eccentricity,
          CASE WHEN sum(dist) = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(floor(CAST(count(*) - 1 AS DOUBLE)
              / CAST(sum(dist) AS DOUBLE)
              * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)
              / CAST(1000000 AS DOUBLE) END AS closeness
        FROM dist""")
    },

    // Day-of-week × type activity heatmap. The dow index is pure integer
    // math off the epoch-day number ((daynum + 0) % 7 with 2024-01-01 a
    // Monday → 0=Mon..6=Sun) — engine dow() builtins disagree on week
    // start, so the portable form never calls them. Value mass in exact
    // DECIMAL beside the count.
    "q204_dow_heatmap" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("_dow", pmod(
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")),
          lit(7)))
        .groupBy(col("event_type"), col("_dow").as("dow"))
        .agg(count(lit(1)).as("n"),
          fr(decSum(col("value")).cast("double"), 2).as("value_sum"))
        .orderBy("event_type", "dow")
    },

    // Decile lift table for the q80 quality classifier — the gains chart
    // beside q164's AUC and q165's calibration. Docs order by score DESC
    // into ten rank-deciles; tied-score runs split across decile
    // boundaries by exact integer rank overlap, with each run's
    // positives weighted by overlap mass (N_d = Σ pos·overlap,
    // D_d = Σ f·overlap — a well-defined exact-integer tie rule). Lift
    // is the decile rate over the overall rate, two double divisions.
    "q205_decile_lift" -> { (s, d) =>
      val scored = graft.operators.TextAnalysis
        .qualityClassifier(Tables.documents(s, d), "text")
        .select(fr(col("quality_score"), 4).as("_s"),
          when(col("lang") === "en", 1L).otherwise(0L).as("_y"))
      val census = rankedCensus(scored.select(lit("all").as("_g"),
          col("_s"), col("_y")),
          col("_g"), col("_s"))
      // re-attach positives per score value (rankedCensus keeps only f)
      val pos = scored.groupBy(col("_s").as("_ps"))
        .agg(sum(col("_y")).as("_pos"))
      val deciles = s.range(0, 10).select(col("id").as("_d"))
      census.join(broadcast(pos), col("_v") === col("_ps"))
        .crossJoin(broadcast(deciles))
        // descending-rank span of this run: (n-cum-f, n-cum]
        .withColumn("_lo", expr("(_d * _n) div 10"))
        .withColumn("_hi", expr("((_d + 1) * _n) div 10"))
        .withColumn("_overlap", greatest(
          least(col("_hi"), col("_n") - col("_cum"))
            - greatest(col("_lo"), col("_n") - col("_cum") - col("_f")),
          lit(0L)))
        .groupBy(col("_d").as("decile"))
        .agg(sum(col("_overlap")).as("n_docs"),
          sum(col("_pos") * col("_overlap")).as("_nw"),
          sum(col("_f") * col("_overlap")).as("_dw"),
          max(col("_n")).as("_tot"))
        .crossJoin(broadcast(scored.agg(sum(col("_y")).as("_allPos"),
          count(lit(1)).as("_allN"))))
        .select(col("decile"), col("n_docs"),
          fr(col("_nw").cast("double") / col("_dw").cast("double"), 6)
            .as("rate"),
          fr((col("_nw").cast("double") / col("_dw").cast("double"))
            / (col("_allPos").cast("double") / col("_allN").cast("double")),
            4).as("lift"))
        .orderBy("decile")
    },

    // Cohort LTV curve: users cohort by their first active week, and the
    // per-user cumulative purchase revenue unfolds by week offset — the
    // product-analytics LTV staple. Revenue sums are exact DECIMAL on
    // the (cohort, offset) grid (≤ weeks² rows); the cumulative window
    // runs over that grid only.
    "q206_cohort_ltv" -> { (s, d) =>
      val weeks = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"),
          floor(datediff(col("ts").cast("date"),
            lit("2024-01-01").cast("date")) / lit(7)).as("_w"))
      val cohorts = weeks.groupBy(col("user_id"))
        .agg(min(col("_w")).as("_cw"))
      val sizes = cohorts.groupBy(col("_cw").as("_sc"))
        .agg(count(lit(1)).as("_nu"))
      val rev = weeks.filter(col("event_type") === "purchase")
        .join(broadcast(cohorts), Seq("user_id"))
        .groupBy(col("_cw"), (col("_w") - col("_cw")).as("week_offset"))
        .agg(decSum(col("value")).as("_rev"))
      val wCum = Window.partitionBy(col("_cw")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("_cumRev", sum(col("_rev")).over(wCum))
        .join(broadcast(sizes), col("_cw") === col("_sc"))
        .select(col("_cw").as("cohort_week"), col("week_offset"),
          col("_nu").as("n_users"),
          fr(col("_cumRev").cast("double") / col("_nu").cast("double"), 4)
            .as("cum_rev_per_user"))
        .orderBy("cohort_week", "week_offset")
    },

    // Corpus-health dashboard: the single-row summary a data-curation
    // team reads before a training run — exact-dup rate (md5 census),
    // token budget, mean quality (per-doc 4 dp-gridded scores summed in
    // int64), language diversity and the modal language under a pinned
    // tie-break. One scan plus a 20-row language census; every number is
    // exact, so the row doubles as a pipeline regression fingerprint.
    "q200_corpus_health" -> { (s, d) =>
      val base = graft.operators.TextAnalysis
        .qualityClassifier(Tables.documents(s, d), "text")
        .select(md5(col("text")).as("_h"),
          floor(col("quality_score") * lit(10000.0) + lit(0.5)).as("_q"),
          size(split(trim(col("text")), "\\s+")).as("_tok"),
          col("lang"))
      val top = base.groupBy(col("lang")).agg(count(lit(1)).as("_lc"))
        .withColumn("_rn", row_number().over(
          Window.orderBy(col("_lc").desc, col("lang"))))
        .filter(col("_rn") === 1)
        .select(col("lang").as("top_lang"), col("_lc").as("top_lang_docs"))
      base.agg(count(lit(1)).as("n_docs"),
          countDistinct(col("_h")).as("_dh"),
          sum(col("_q")).as("_sq"),
          sum(col("_tok").cast("long")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .crossJoin(broadcast(top))
        .select(col("n_docs"),
          fr((col("n_docs") - col("_dh")).cast("double")
            / col("n_docs").cast("double"), 6).as("dup_rate"),
          col("total_tokens"),
          fr(col("_sq").cast("double") / col("n_docs") / lit(10000.0), 6)
            .as("mean_quality"),
          col("n_langs"), col("top_lang"), col("top_lang_docs"))
    },

    // Item-item co-occurrence cosine (the collaborative-filtering prep
    // step): parts pair within an order via a self-join on the order key
    // — bounded by order width, never parts² — and cosine =
    // c_ij/√(c_i·c_j) comes from exact distinct-order counts. Top-10
    // under the (cosine DESC, part_a, part_b) total order, taken with
    // rounded cosines so the ordering is engine-stable.
    "q197_item_cooccurrence" -> { (s, d) =>
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("_o"), col("l_partkey").as("_p"))
        .distinct()
      val cnt = op.groupBy(col("_p").as("_pc"))
        .agg(count(lit(1)).as("_ci"))
      // Pair generation without the self-join (r17, guide §2.4): one
      // exchange by order key, collect_set dedups the parts per order
      // map-side, and the i<j pairs are expanded from the SORTED distinct
      // array — value-identical to the old op⋈op on (_o, _p < _q) (sorted
      // + distinct ⇒ every emitted (x, y) has x < y, same pair multiset
      // per order) with no second exchange of op and no sort-merge join.
      // Per-order part lists are catalog-bounded (≤ lines per order), so
      // the expanded array is never a quadratic blow-up. The isNotNull
      // filter pins the old equi-join's null semantics (a null order key
      // never joined itself); collect_set drops null parts like _p < _q
      // did.
      val pairs = Tables.lineitem(s, d)
        .filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("_ps"))
        .select(explode(flatten(transform(col("_ps"), (x, i) =>
          transform(slice(col("_ps"), i + lit(2),
              greatest(size(col("_ps")) - i - 1, lit(0))),
            y => struct(x.as("part_a"), y.as("part_b")))))).as("_pr"))
        .groupBy(col("_pr.part_a").as("part_a"),
          col("_pr.part_b").as("part_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(cnt), col("part_a") === col("_pc"))
        .withColumnRenamed("_ci", "_ca").drop("_pc")
        .join(broadcast(cnt), col("part_b") === col("_pc"))
        .withColumnRenamed("_ci", "_cb").drop("_pc")
        .select(col("part_a"), col("part_b"), col("n_both"),
          fr(col("n_both").cast("double")
            / sqrt(col("_ca").cast("double") * col("_cb").cast("double")),
            6).as("cosine"))
        .orderBy(col("cosine").desc, col("part_a"), col("part_b"))
        .limit(10)
    },

    // Degree distribution power-law fit over the supplier→part bipartite
    // graph: per-supplier distinct-part degrees census, then the
    // continuous MLE α = 1 + n / Σ f·ln(d/(dmin−½)) with the log fold in
    // degree order over the bounded census. The graph-health twin of
    // q195/q196's corpus laws.
    "q198_degree_powerlaw" -> { (s, d) =>
      val degrees = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_partkey")).distinct()
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("_deg"))
        .groupBy(col("_deg")).agg(count(lit(1)).as("_f"))
        .withColumn("_t", col("_f").cast("double")
          * log(col("_deg").cast("double") / lit(0.5)))
      degrees.agg(sum(col("_f")).as("_n"), min(col("_deg")).as("_dmin"),
          max(col("_deg")).as("_dmax"),
          aggregate(transform(array_sort(collect_list(struct(col("_deg"),
            col("_t")))), e => e.getField("_t")),
            lit(0.0), (a, x) => a + x).as("_sl"))
        .select(col("_n").as("n_nodes"), col("_dmin").as("d_min"),
          col("_dmax").as("d_max"),
          fr(lit(1.0) + col("_n").cast("double") / col("_sl"), 4)
            .as("alpha"))
    },

    // Week-over-week audience overlap: Jaccard of consecutive weekly
    // active-user sets — intersection via a keyed self-join on the
    // distinct (week, user) census, union by inclusion-exclusion, all
    // exact ints. The retention-overlap complement to q151's rolling WAU.
    "q199_week_overlap" -> { (s, d) =>
      val wk = Tables.events(s, d)
        .select(floor(
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            / lit(7)).as("_w"), col("user_id"))
        .distinct()
      val sizes = wk.groupBy(col("_w")).agg(count(lit(1)).as("_n"))
      val common = wk.join(wk.select((col("_w") - 1).as("_w"),
          col("user_id")), Seq("_w", "user_id"))
        .groupBy(col("_w")).agg(count(lit(1)).as("_common"))
      sizes
        .join(sizes.select((col("_w") - 1).as("_w"), col("_n").as("_n2")),
          Seq("_w"))
        .join(common, Seq("_w"), "left")
        .withColumn("_c", coalesce(col("_common"), lit(0L)))
        .select(col("_w").as("week_a"), (col("_w") + 1).as("week_b"),
          col("_n").as("n_a"), col("_n2").as("n_b"),
          col("_c").as("n_common"),
          fr(col("_c").cast("double")
            / (col("_n") + col("_n2") - col("_c")).cast("double"), 6)
            .as("jaccard"))
        .orderBy("week_a")
    },

    // Cross-series correlation of daily returns between event-type pairs,
    // aligned by day: the 6 dp-scaled integer returns (q169's base) join
    // on the calendar day and the Pearson combine runs off exact int64
    // sums — the portfolio-style co-movement matrix, bounded by
    // (types × days), never raw rows.
    "q190_cross_corr" -> { (s, d) =>
      val r = dailyReturns(s, d)
      val a = r.select(col("event_type").as("type_a"), col("day"),
        col("_r").as("_x"))
      val b = r.select(col("event_type").as("type_b"),
        col("day").as("_day2"), col("_r").as("_y"))
      a.join(b, col("day") === col("_day2")
          && col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_days"), sum(col("_x")).as("_sx"),
          sum(col("_y")).as("_sy"), sum(col("_x") * col("_y")).as("_sxy"),
          sum(col("_x") * col("_x")).as("_sxx"),
          sum(col("_y") * col("_y")).as("_syy"))
        .select(col("type_a"), col("type_b"), col("n_days"),
          fr((col("n_days") * col("_sxy") - col("_sx") * col("_sy"))
            .cast("double")
            / (sqrt((col("n_days") * col("_sxx")
                - col("_sx") * col("_sx")).cast("double"))
              * sqrt((col("n_days") * col("_syy")
                - col("_sy") * col("_sy")).cast("double"))), 6).as("r"))
        .orderBy("type_a", "type_b")
    },

    // Gini-impurity decision stump: the optimal binary hour-of-day
    // split for predicting purchases — the one-node CART search behind
    // every feature-importance screen. The 24-cell (hour, label) census
    // carries exact BIGINT counts; candidate thresholds are the hours
    // present (prefix sums over the ≤24-row census, never rows); each
    // side's Gini 1−(pos/n)²−(neg/n)² is one identical double sequence;
    // the winner is the fr-snapped max gain with the earliest-hour
    // tie-break — a total order both engines replay.
    "q241_decision_stump" -> { (s, d) =>
      val census = Tables.events(s, d)
        .withColumn("_h", hour(col("ts")).cast("long"))
        .groupBy(col("_h"))
        .agg(count(lit(1)).as("_n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("_p"))
      val wCum = Window.orderBy(col("_h"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy()
      def gini(pos: Column, n: Column): Column = {
        val pp = pos.cast("double") / n.cast("double")
        val pn = (n - pos).cast("double") / n.cast("double")
        lit(1.0) - pp * pp - pn * pn
      }
      census
        .withColumn("_nl", sum(col("_n")).over(wCum))
        .withColumn("_pl", sum(col("_p")).over(wCum))
        .withColumn("_nt", sum(col("_n")).over(wAll))
        .withColumn("_pt", sum(col("_p")).over(wAll))
        .filter(col("_nt") - col("_nl") > 0)
        .withColumn("_gain", fr(gini(col("_pt"), col("_nt"))
          - (col("_nl").cast("double") / col("_nt").cast("double"))
            * gini(col("_pl"), col("_nl"))
          - ((col("_nt") - col("_nl")).cast("double")
            / col("_nt").cast("double"))
            * gini(col("_pt") - col("_pl"), col("_nt") - col("_nl")), 6))
        .select(col("_h").as("split_hour"), col("_nl").as("n_left"),
          (col("_nt") - col("_nl")).as("n_right"),
          fr(gini(col("_pt"), col("_nt")), 6).as("gini_parent"),
          col("_gain").as("gain"))
        .orderBy(col("gain").desc, col("split_hour"))
        .limit(1)
    },

    // Per-source lexical richness: type-token ratio and hapax-legomena
    // share — the vocabulary-health probe beside Zipf (q196) and
    // vocabulary drift (q79). Tokens use the q35/q50 whitespace
    // convention; everything reduces to the (source, token) count
    // aggregate (map-side combinable, never the occurrence explode
    // downstream), and the two ratios are the only double math.
    "q245_lexical_richness" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("_t"))
        .filter(col("_t") =!= "")
        .groupBy(col("source"), col("_t")).agg(count(lit(1)).as("_c"))
      counts.groupBy(col("source"))
        .agg(sum(col("_c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          fr(col("n_types").cast("double")
            / col("n_tokens").cast("double"), 6).as("ttr"),
          fr(col("n_hapax").cast("double")
            / col("n_types").cast("double"), 6).as("hapax_ratio"))
        .orderBy("source")
    },

    // Jensen-Shannon divergence between the weekday and weekend
    // event-type mixes — the symmetric, bounded companion to KL (q223):
    // both distributions from ONE (type, weekday-flag) census with the
    // engine-neutral epoch-day dow (q204's rule), zero-count sides
    // contribute exactly 0 by the 0·ln 0 convention, and each side's
    // term list folds in event-type order through the q161 pattern.
    "q246_jsd" -> { (s, d) =>
      val cells = Tables.events(s, d)
        .withColumn("_dw", expr(
          "datediff(cast(ts as date), date'2024-01-01') % 7"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("_dw") < 5, 1L).otherwise(0L)).as("_cp"),
          sum(when(col("_dw") >= 5, 1L).otherwise(0L)).as("_cq"))
      val wAll = Window.partitionBy()
      val t = cells
        .withColumn("_np", sum(col("_cp")).over(wAll))
        .withColumn("_nq", sum(col("_cq")).over(wAll))
        .withColumn("_p", col("_cp").cast("double") / col("_np"))
        .withColumn("_q", col("_cq").cast("double") / col("_nq"))
        .withColumn("_tp", when(col("_cp") > 0, col("_p")
          * log(col("_p") / ((col("_p") + col("_q")) / lit(2.0))))
          .otherwise(lit(0.0)))
        .withColumn("_tq", when(col("_cq") > 0, col("_q")
          * log(col("_q") / ((col("_p") + col("_q")) / lit(2.0))))
          .otherwise(lit(0.0)))
      t.agg(max(col("_np")).as("n_weekday"), max(col("_nq")).as("n_weekend"),
          aggregate(transform(array_sort(collect_list(
            struct(col("event_type"), col("_tp")))),
            e => e.getField("_tp")), lit(0.0), (a, x) => a + x).as("_kp"),
          aggregate(transform(array_sort(collect_list(
            struct(col("event_type"), col("_tq")))),
            e => e.getField("_tq")), lit(0.0), (a, x) => a + x).as("_kq"))
        .select(col("n_weekday"), col("n_weekend"),
          fr((col("_kp") + col("_kq")) / lit(2.0), 6).as("jsd_nats"))
    },

    // Bipartite degree assortativity of the supplier↔part graph: do
    // high-degree suppliers stock high-degree parts? Pearson over the
    // edge list's (supplier-degree, part-degree) pairs — degrees are
    // exact counts off the distinct edge set, the join is edge-keyed
    // (never all-pairs), and the exact int64 moment sums cast to double
    // BEFORE the n·Σxy cross-products per the q238 overflow rule. The
    // mixing-structure probe beside the degree power law (q198).
    "q247_assortativity" -> { (s, d) =>
      val edges = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("_s"), col("l_partkey").as("_p"))
        .distinct()
      val ds = edges.groupBy(col("_s")).agg(count(lit(1)).as("_degs"))
      val dp = edges.groupBy(col("_p")).agg(count(lit(1)).as("_degp"))
      def D(c: Column) = c.cast("double")
      edges.join(ds, Seq("_s")).join(dp, Seq("_p"))
        .agg(count(lit(1)).as("_m"),
          sum(col("_degs")).as("_sx"), sum(col("_degp")).as("_sy"),
          sum(col("_degs") * col("_degp")).as("_sxy"),
          sum(col("_degs") * col("_degs")).as("_sxx"),
          sum(col("_degp") * col("_degp")).as("_syy"))
        .select(col("_m").as("n_edges"),
          fr((D(col("_m")) * D(col("_sxy")) - D(col("_sx")) * D(col("_sy")))
            / (sqrt(D(col("_m")) * D(col("_sxx"))
                - D(col("_sx")) * D(col("_sx")))
              * sqrt(D(col("_m")) * D(col("_syy"))
                - D(col("_sy")) * D(col("_sy")))), 6).as("assortativity"))
    },

    // Wilson 95% score interval for per-type DAILY reach — the
    // small-sample-safe CI the naive Wald interval gets wrong near 0
    // and 1: reach = distinct (user, day) pairs with the type over all
    // distinct active user-days (exact BIGINTs — per-user reach is
    // degenerate at 100% in this corpus, user-days discriminate), and
    // the score-interval algebra is one literal double sequence
    // (z = 1.96) mirrored token-for-token in the oracle. The
    // uncertainty companion to the A/B z-test (q193).
    "q248_wilson_ci" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("_day", col("ts").cast("date"))
      val total = ev.agg(countDistinct(col("user_id"), col("_day"))
        .as("_n"))
      val z = lit(1.96)
      val z2 = z * z
      ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id"), col("_day")).as("_k"))
        .crossJoin(total)
        .withColumn("_nd", col("_n").cast("double"))
        .withColumn("_ph", col("_k").cast("double") / col("_nd"))
        .withColumn("_den", lit(1.0) + z2 / col("_nd"))
        .withColumn("_ctr",
          (col("_ph") + z2 / (lit(2.0) * col("_nd"))) / col("_den"))
        .withColumn("_half", z * sqrt(col("_ph") * (lit(1.0) - col("_ph"))
          / col("_nd") + z2 / (lit(4.0) * col("_nd") * col("_nd")))
          / col("_den"))
        .select(col("event_type"), col("_n").as("n_users"),
          col("_k").as("k_users"),
          fr(col("_ph"), 6).as("p_hat"),
          fr(col("_ctr") - col("_half"), 6).as("ci_lo"),
          fr(col("_ctr") + col("_half"), 6).as("ci_hi"))
        .orderBy("event_type")
    },

    // Cohen's kappa between two deterministic document-quality rules
    // (length ≥ 400 chars vs ≥ 80 whitespace tokens) — chance-corrected
    // agreement off the 2×2 census: po and pe are exact integer
    // cross-products over n and n² with ONE double division each. The
    // rater-agreement metric beside the eval family (q164–q166).
    "q249_cohens_kappa" -> { (s, d) =>
      val c = Tables.documents(s, d)
        .withColumn("_a", (col("n_chars") >= 400).cast("long"))
        .withColumn("_b", (size(split(trim(col("text")), "\\s+"))
          .cast("long") >= 80).cast("long"))
        .agg(count(lit(1)).as("_n"),
          sum(when(col("_a") === 1 && col("_b") === 1, 1L).otherwise(0L))
            .as("_n11"),
          sum(when(col("_a") === 1 && col("_b") === 0, 1L).otherwise(0L))
            .as("_n10"),
          sum(when(col("_a") === 0 && col("_b") === 1, 1L).otherwise(0L))
            .as("_n01"),
          sum(when(col("_a") === 0 && col("_b") === 0, 1L).otherwise(0L))
            .as("_n00"))
      val po = (col("_n11") + col("_n00")).cast("double") /
        col("_n").cast("double")
      val pe = ((col("_n11") + col("_n10")) * (col("_n11") + col("_n01"))
        + (col("_n01") + col("_n00")) * (col("_n10") + col("_n00")))
        .cast("double") / (col("_n") * col("_n")).cast("double")
      c.select(col("_n").as("n_docs"),
        (col("_n11") + col("_n00")).as("n_agree"),
        fr(po, 6).as("po"), fr(pe, 6).as("pe"),
        fr((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    },

    // Partial autocorrelation (lags 1..3) of the daily event-value
    // series per type, via Durbin-Levinson — the AR-order
    // identification statistic beside the raw ACF (q167). Unlike
    // q167's per-lag Pearson, this uses the STANDARD time-series ACF
    // estimator (one global mean, full-series denominator), computed
    // exactly: multiplying through by n² turns every centered moment
    // into pure int64 sums over the 4 dp-gridded daily means (n is the
    // calendar-bounded day count, so n²·Σxy stays far inside int64 at
    // the gate and the 100 TB path swaps the combine to DECIMAL(38,0)
    // per the q153 rule); the DL recursion is literal double math from
    // those identical ratios. Everything after the daily aggregate is
    // census-scale — bounded by types × days.
    "q250_pacf" -> { (s, d) =>
      acf123(s, d)
        .withColumn("_p22", (col("_r2") - col("_r1") * col("_r1"))
          / (lit(1.0) - col("_r1") * col("_r1")))
        .withColumn("_p21", col("_r1") - col("_p22") * col("_r1"))
        .withColumn("_p33",
          (col("_r3") - col("_p21") * col("_r2")
            - col("_p22") * col("_r1"))
          / (lit(1.0) - col("_p21") * col("_r1")
            - col("_p22") * col("_r2")))
        .select(col("event_type"), col("_n").as("n_days"),
          fr(col("_r1"), 6).as("acf_1"), fr(col("_r2"), 6).as("acf_2"),
          fr(col("_r3"), 6).as("acf_3"),
          fr(col("_r1"), 6).as("pacf_1"), fr(col("_p22"), 6).as("pacf_2"),
          fr(col("_p33"), 6).as("pacf_3"))
        .orderBy("event_type")
    },

    // "Waiting suppliers" — the TPC-H Q21 relational shape on this
    // schema: suppliers who were the SOLE late shipper (> 30 days after
    // the order date) on multi-supplier orders. Two layered keyed
    // aggregates replace the classic double correlated EXISTS/NOT
    // EXISTS: per-(order, supplier) late flags collapse map-side, the
    // per-order supplier/late censuses join back by order key, and the
    // blame count ranks under a (count DESC, suppkey) total order.
    "q251_waiting_suppliers" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("_late", (col("l_shipdate") >
          date_add(col("o_orderdate").cast("date"), 30)).cast("long"))
      val perSupp = li.groupBy(col("l_orderkey").as("_ok"),
          col("l_suppkey").as("_sk"))
        .agg(max(col("_late")).as("_slate"))
      val perOrder = perSupp.groupBy(col("_ok"))
        .agg(count(lit(1)).as("_nsupp"), sum(col("_slate")).as("_nlate"))
      perSupp
        .join(perOrder, Seq("_ok"))
        .filter(col("_nsupp") >= 2 && col("_nlate") === 1
          && col("_slate") === 1)
        .groupBy(col("_sk").as("s_suppkey"))
        .agg(count(lit(1)).as("n_blamed_orders"))
        .orderBy(col("n_blamed_orders").desc, col("s_suppkey"))
        .limit(10)
    },

    // Jarque-Bera normality test per event type: skewness and excess
    // kurtosis from raw power sums over integer cents. x² and x³ fit
    // int64 per term; x⁴ does NOT (56021⁴ ≈ 9.9e18 overflowed the
    // sf0.1 gate), so the fourth power squares the int64 square in
    // DECIMAL(19,0)×DECIMAL(19,0) (Spark) / HUGEINT (oracle) — every
    // sum exact, so the central-moment algebra starts from
    // bit-identical doubles. The engines' built-in skewness()/
    // kurtosis() disagree on bias correction (why q97 excluded them);
    // explicit literal math sidesteps that entirely.
    // JB = n/6·(S² + (K−3)²/4).
    "q252_jarque_bera" -> { (s, d) =>
      val x = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
      val dec = "decimal(38,0)"
      val g = Tables.events(s, d)
        .withColumn("_x", x)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"),
          sum(col("_x").cast(dec)).as("_s1"),
          sum((col("_x") * col("_x")).cast(dec)).as("_s2"),
          sum((col("_x") * col("_x") * col("_x")).cast(dec)).as("_s3"),
          sum((col("_x") * col("_x")).cast("decimal(19,0)")
            * (col("_x") * col("_x")).cast("decimal(19,0)")).as("_s4"))
      val nD = col("_n").cast("double")
      val mu = col("_s1").cast("double") / nD
      val m2 = col("_s2").cast("double") / nD - mu * mu
      val m3 = col("_s3").cast("double") / nD -
        lit(3.0) * mu * (col("_s2").cast("double") / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = col("_s4").cast("double") / nD -
        lit(4.0) * mu * (col("_s3").cast("double") / nD) +
        lit(6.0) * mu * mu * (col("_s2").cast("double") / nD) -
        lit(3.0) * mu * mu * mu * mu
      val sk = m3 / (m2 * sqrt(m2))
      val ku = m4 / (m2 * m2)
      g.select(col("event_type"), col("_n").as("n"),
          fr(sk, 6).as("skewness"), fr(ku, 6).as("kurtosis"),
          fr(nD / lit(6.0) * (sk * sk
            + (ku - lit(3.0)) * (ku - lit(3.0)) / lit(4.0)), 4).as("jb"))
        .orderBy("event_type")
    },

    // Spearman footrule distance between the revenue ranking and the
    // quantity ranking of parts — do the two business orderings agree?
    // Ranks are row_numbers under (metric DESC, partkey) total orders —
    // deterministic under ties on both engines; the ranking windows run
    // over the PART aggregate (bounded by catalog size, documented as
    // census-scale — never lineitem rows). Footrule Σ|r₁−r₂| and the
    // no-ties Spearman on the two permutations are exact int64.
    "q253_rank_footrule" -> { (s, d) =>
      val parts = Tables.lineitem(s, d)
        .withColumn("_cents",
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
            .cast("long"))
        .withColumn("_q100",
          floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("_cents")).as("_rev"), sum(col("_q100")).as("_qty"))
      // Sizing-gated rankings (r17): the part census grows with the
      // catalog — below the threshold the two lazy row_number windows,
      // above it both global ranks come from gatedCensusCumsum (a running
      // count of ones under the same total order IS the row_number).
      val r =
        if (graft.core.Sizing.leafScanBytes(parts) <=
            graft.core.Sizing.fanoutCkptBytes)
          parts
            .withColumn("_r1", row_number().over(
              Window.orderBy(col("_rev").desc, col("l_partkey"))).cast("long"))
            .withColumn("_r2", row_number().over(
              Window.orderBy(col("_qty").desc, col("l_partkey"))).cast("long"))
        else
          gatedCensusCumsum(
            gatedCensusCumsum(parts.withColumn("_one", lit(1L)),
              keys = Nil, order = Seq(col("_rev").desc, col("l_partkey")),
              valueCol = "_one", inclusive = true, cumName = "_r1",
              totName = None),
            keys = Nil, order = Seq(col("_qty").desc, col("l_partkey")),
            valueCol = "_one", inclusive = true, cumName = "_r2",
            // the inner call's localCheckpoint leaf counts zero scan
            // bytes — force the second ranking's decomposition too
            totName = None, force = true)
      r.agg(count(lit(1)).as("_n"),
          sum(abs(col("_r1") - col("_r2"))).as("_fr"),
          sum((col("_r1") - col("_r2")) * (col("_r1") - col("_r2")))
            .as("_d2"))
        .select(col("_n").as("n_parts"), col("_fr").as("footrule"),
          fr(col("_fr").cast("double") * lit(2.0)
            / (col("_n") * col("_n")).cast("double"), 6)
            .as("footrule_norm"),
          fr(lit(1.0) - lit(6.0) * col("_d2").cast("double")
            / (col("_n") * (col("_n") * col("_n") - 1)).cast("double"), 6)
            .as("spearman_rho"))
    },

    // Geometric mean retail price per brand — the right average for
    // multiplicative quantities like prices: exp of the mean log over
    // the (brand, cents) census, each census row contributing
    // f·ln(cents/100) with the term list folded in cents order (the
    // q161 rule — a bare double SUM of logs would drift with
    // aggregation order), one exp per brand at the end.
    "q254_geomean_price" -> { (s, d) =>
      val census = Tables.part(s, d)
        .withColumn("_c",
          floor(col("p_retailprice") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("p_brand"), col("_c"))
        .agg(count(lit(1)).as("_f"))
        .withColumn("_t", col("_f").cast("double")
          * log(col("_c").cast("double") / lit(100.0)))
      census.groupBy(col("p_brand"))
        .agg(sum(col("_f")).as("n_parts"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_c"), col("_t")))), e => e.getField("_t")),
            lit(0.0), (a, x) => a + x).as("_sl"))
        .select(col("p_brand"), col("n_parts"),
          fr(exp(col("_sl") / col("n_parts").cast("double")), 4)
            .as("geo_mean_price"))
        .orderBy("p_brand")
    },

    // Herfindahl-Hirschman revenue concentration by nation + the
    // effective number of markets 1/HHI — the antitrust-style
    // concentration scalar beside Gini (q137) and Lorenz (q224).
    // Revenue is an exact DECIMAL census per nation (≤ 25 rows);
    // shares and their squares fold in nation order per the q161 rule.
    "q255_hhi" -> { (s, d) =>
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(decSum(col("o_totalprice")).as("_rev"))
      val wAll = Window.partitionBy()
      val t = rev
        .withColumn("_tot", sum(col("_rev")).over(wAll))
        .withColumn("_sh", col("_rev").cast("double")
          / col("_tot").cast("double"))
        .withColumn("_t", col("_sh") * col("_sh"))
      t.agg(count(lit(1)).as("n_nations"),
          aggregate(transform(array_sort(collect_list(
            struct(col("n_name"), col("_t")))), e => e.getField("_t")),
            lit(0.0), (a, x) => a + x).as("_hhi"))
        .select(col("n_nations"), fr(col("_hhi"), 6).as("hhi"),
          fr(lit(1.0) / col("_hhi"), 4).as("effective_n"))
    },

    // Theil index of per-user activity inequality — the entropy-based
    // decomposable inequality measure beside Gini (q137) and HHI
    // (q255): T = Σ (x/X)·ln(x·n/X) over the count-of-counts census
    // (bounded by distinct activity levels, never users), terms folded
    // in count order per the q161 rule; every input to the double math
    // is an exact BIGINT.
    "q257_theil" -> { (s, d) =>
      val census = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("_x"))
        .groupBy(col("_x")).agg(count(lit(1)).as("_f"))
      val wAll = Window.partitionBy()
      val t = census
        .withColumn("_n", sum(col("_f")).over(wAll))
        .withColumn("_tot", sum(col("_f") * col("_x")).over(wAll))
        .withColumn("_t", col("_f").cast("double")
          * (col("_x").cast("double") / col("_tot").cast("double"))
          * log(col("_x").cast("double") * col("_n").cast("double")
            / col("_tot").cast("double")))
      t.agg(max(col("_n")).as("n_users"),
          max(col("_tot")).as("total_events"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_x"), col("_t")))), e => e.getField("_t")),
            lit(0.0), (a, x) => a + x).as("_th"))
        .select(col("n_users"), col("total_events"),
          fr(col("_th"), 6).as("theil"))
    },

    // Kendall tau-b between daily event volume and daily revenue — the
    // pair-sign rank correlation beside Spearman (q242), preferred at
    // small n and heavy ties: concordant/discordant pair counts over
    // the days² pair space (calendar-bounded), tie corrections n1/n2
    // from the per-metric censuses, everything integer until the final
    // sqrt denominator.
    "q258_kendall_tau" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .withColumn("_cents",
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("_x"), sum(col("_cents")).as("_y"))
      val a = daily.select(col("day").as("_d1"), col("_x").as("_x1"),
        col("_y").as("_y1"))
      val b = daily.select(col("day").as("_d2"), col("_x").as("_x2"),
        col("_y").as("_y2"))
      val cd = a.join(b, col("_d1") < col("_d2"))
        .withColumn("_p", (col("_x2") - col("_x1"))
          * (col("_y2") - col("_y1")))
        .agg(sum(when(col("_p") > 0, 1L).otherwise(0L)).as("_c"),
          sum(when(col("_p") < 0, 1L).otherwise(0L)).as("_dd"))
      def tiePairs(vc: String): DataFrame =
        daily.groupBy(col(vc)).agg(count(lit(1)).as("_f"))
          .agg(sum(expr("(_f * (_f - 1)) div 2")).as(vc + "_ties"),
            sum(col("_f")).as(vc + "_n"))
      cd.crossJoin(tiePairs("_x")).crossJoin(tiePairs("_y"))
        .withColumn("_n0", expr("(_x_n * (_x_n - 1)) div 2"))
        .select(col("_x_n").as("n_days"), col("_c").as("concordant"),
          col("_dd").as("discordant"),
          fr((col("_c") - col("_dd")).cast("double")
            / sqrt((col("_n0") - col("_x_ties")).cast("double")
              * (col("_n0") - col("_y_ties")).cast("double")), 6)
            .as("tau_b"))
    },

    // Ljung-Box portmanteau whiteness test at lags 1..3 on the daily
    // series — the standard "is there ANY autocorrelation" gate run
    // before trusting q103's regressions or q168's smoothing: Q =
    // n(n+2)·Σ r_k²/(n−k) over the same exact-ACF base as q250
    // (shared `acf123` helper — identical doubles by construction).
    "q256_ljung_box" -> { (s, d) =>
      val nD = col("_n").cast("double")
      acf123(s, d)
        .select(col("event_type"), col("_n").as("n_days"),
          fr(nD * (nD + lit(2.0))
            * (col("_r1") * col("_r1") / (nD - lit(1.0))
              + col("_r2") * col("_r2") / (nD - lit(2.0))
              + col("_r3") * col("_r3") / (nD - lit(3.0))), 4)
            .as("q_lb"),
          lit(3L).as("dof"))
        .orderBy("event_type")
    },

    // Spearman rank correlation between daily event volume and daily
    // exact revenue: tie-aware average ranks computed on the bounded
    // value census as DOUBLED integers (2·cumBefore + f + 1 — the ½ in
    // an average rank never becomes a float), joined back by value, and
    // the Pearson combine over the doubled ranks runs entirely in exact
    // int64 (the common 2× scale cancels in the correlation). The only
    // keyless windows run over the per-metric censuses, bounded by
    // distinct daily values, never rows.
    "q242_spearman" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .withColumn("_cents",
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("_x"), sum(col("_cents")).as("_y"))
      def ranks(vc: String): DataFrame = {
        val w = Window.orderBy(col(vc))
          .rowsBetween(Window.unboundedPreceding, -1)
        daily.groupBy(col(vc)).agg(count(lit(1)).as("_f"))
          .withColumn("_cum", coalesce(sum(col("_f")).over(w), lit(0L)))
          .select(col(vc),
            (lit(2) * col("_cum") + col("_f") + lit(1)).as("_r2" + vc))
      }
      daily.join(ranks("_x"), Seq("_x")).join(ranks("_y"), Seq("_y"))
        .agg(count(lit(1)).as("_n"),
          sum(col("_r2_x")).as("_sx"), sum(col("_r2_y")).as("_sy"),
          sum(col("_r2_x") * col("_r2_y")).as("_sxy"),
          sum(col("_r2_x") * col("_r2_x")).as("_sxx"),
          sum(col("_r2_y") * col("_r2_y")).as("_syy"))
        .select(col("_n").as("n_days"),
          fr((col("_n") * col("_sxy") - col("_sx") * col("_sy"))
            .cast("double")
            / (sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx"))
                .cast("double"))
              * sqrt((col("_n") * col("_syy") - col("_sy") * col("_sy"))
                .cast("double"))), 6).as("rho"))
    },

    // Mann-Kendall monotonic-trend test on daily revenue — the
    // distribution-free companion to the Theil-Sen slope (q179): S =
    // Σ sign(v_j − v_i) over day pairs i<j (pair space bounded by
    // days², never rows), tie-corrected variance n(n−1)(2n+5) −
    // Σ t(t−1)(2t+5) all in exact int64, continuity-corrected z with
    // the single /18 division and sqrt as the only double math.
    "q243_mann_kendall" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .withColumn("_cents",
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(col("_cents")).as("_v"))
      val a = daily.select(col("day").as("_d1"), col("_v").as("_v1"))
      val b = daily.select(col("day").as("_d2"), col("_v").as("_v2"))
      val sStat = a.join(b, col("_d1") < col("_d2"))
        .agg(sum(when(col("_v2") > col("_v1"), 1L)
          .when(col("_v2") < col("_v1"), -1L).otherwise(0L)).as("s_stat"))
      val ties = daily.groupBy(col("_v")).agg(count(lit(1)).as("_t"))
        .agg(sum(col("_t")).as("_n"),
          sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
            .as("_tt"))
      val varS = ((col("_n") * (col("_n") - 1)
        * (lit(2) * col("_n") + 5) - col("_tt")).cast("double")
        / lit(18.0))
      sStat.crossJoin(ties)
        .select(col("_n").as("n_days"), col("s_stat"),
          fr(varS, 4).as("var_s"),
          fr(when(col("s_stat") > 0,
              (col("s_stat") - 1).cast("double") / sqrt(varS))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") / sqrt(varS))
            .otherwise(lit(0.0)), 4).as("z"))
    },

    // RFM customer segmentation: per-user recency (days from last
    // activity to the day-30 anchor), frequency (events) and monetary
    // (exact integer dollars from cent sums). Quintile fences are exact
    // type-1 order statistics located on each metric's census by the
    // integer threshold cum·5 ≥ q·n — never NTILE, whose tie placement
    // engines leave undefined; every user in a tie run lands in the
    // same bucket on both engines. R is inverted (most recent = 5).
    // Censuses are bounded by the day span, the activity range and the
    // dollar domain respectively, not by user count.
    "q244_rfm" -> { (s, d) =>
      val anchor = lit("2024-01-31").cast("date")
      val users = Tables.events(s, d)
        .withColumn("_cents",
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("user_id"))
        .agg(datediff(anchor, max(col("ts").cast("date"))).cast("long")
            .as("_rec"),
          count(lit(1)).as("_freq"),
          sum(col("_cents")).as("_cents_sum"))
        .withColumn("_mon", expr("_cents_sum div 100"))
      def fences(vc: String): DataFrame = {
        val w = Window.orderBy(col(vc))
          .rowsBetween(Window.unboundedPreceding, -1)
        val census = users.groupBy(col(vc)).agg(count(lit(1)).as("_f"))
        census
          .withColumn("_cumi",
            coalesce(sum(col("_f")).over(w), lit(0L)) + col("_f"))
          .crossJoin(census.agg(sum(col("_f")).as("_nn")))
          .agg(
            min(when(col("_cumi") * 5 >= col("_nn") * 1, col(vc)))
              .as(vc + "_t1"),
            min(when(col("_cumi") * 5 >= col("_nn") * 2, col(vc)))
              .as(vc + "_t2"),
            min(when(col("_cumi") * 5 >= col("_nn") * 3, col(vc)))
              .as(vc + "_t3"),
            min(when(col("_cumi") * 5 >= col("_nn") * 4, col(vc)))
              .as(vc + "_t4"))
      }
      def bucket(vc: String): Column =
        lit(1) + when(col(vc) > col(vc + "_t1"), 1).otherwise(0) +
          when(col(vc) > col(vc + "_t2"), 1).otherwise(0) +
          when(col(vc) > col(vc + "_t3"), 1).otherwise(0) +
          when(col(vc) > col(vc + "_t4"), 1).otherwise(0)
      users
        .crossJoin(fences("_rec")).crossJoin(fences("_freq"))
        .crossJoin(fences("_mon"))
        .withColumn("_r", lit(6) - bucket("_rec"))
        .withColumn("_f2", bucket("_freq"))
        .withColumn("_m", bucket("_mon"))
        .groupBy(concat(col("_r"), col("_f2"), col("_m")).as("segment"))
        .agg(count(lit(1)).as("n_users"),
          fr(sum(col("_mon")).cast("double")
            / count(lit(1)).cast("double"), 2).as("mean_monetary"),
          fr(sum(col("_freq")).cast("double")
            / count(lit(1)).cast("double"), 2).as("mean_frequency"))
        .orderBy("segment")
    },

    // Mann-Whitney U rank-sum test: do 'click' and 'view' event values
    // come from the same distribution? Tie-aware average ranks over the
    // POOLED cents census as DOUBLED integers (2·cumBefore + f + 1, the
    // q242 device — the ½ of an average rank never becomes a float), so
    // the rank sum R, the U statistic, and its null mean all stay in
    // exact int64 at 2× scale; the tie-corrected variance n₁n₂/12·
    // [(N+1) − Σ(t³−t)/N(N−1)] is assembled in double from exact integer
    // sums only at the end. No continuity correction (documented). The
    // keyless cumulation runs over the value census — bounded by the
    // cents grid, never rows.
    "q262_mann_whitney" -> { (s, d) =>
      val two = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
      // Sizing-gated census cumsum (r17): the cents grid of `value` is
      // data-dependent, not calendar-bounded — decompose past the gate.
      val g = gatedCensusCumsum(
        two.groupBy(col("_x")).agg(count(lit(1)).as("_f")),
        keys = Nil, order = Seq(col("_x")), valueCol = "_f",
        inclusive = false, cumName = "_cum", totName = None)
        .select(col("_x"),
          (lit(2) * col("_cum") + col("_f") + lit(1)).as("_r2"),
          (col("_f") * col("_f") * col("_f") - col("_f")).as("_t3"))
      val perGroup = two.groupBy(col("event_type"), col("_x"))
        .agg(count(lit(1)).as("_fg"))
        .join(g.select(col("_x"), col("_r2")), Seq("_x"))
        .groupBy(col("event_type"))
        .agg(sum(col("_fg")).as("_n"),
          sum(col("_fg") * col("_r2")).as("_R2"))
      val wide = perGroup.agg(
        sum(when(col("event_type") === "click", col("_n"))).as("_n1"),
        sum(when(col("event_type") === "view", col("_n"))).as("_n2"),
        sum(when(col("event_type") === "click", col("_R2"))).as("_R2c"))
      val ties = g.agg(sum(col("_t3")).as("_T"))
      val nD = (col("_n1") + col("_n2")).cast("double")
      val u2 = col("_R2c") - col("_n1") * (col("_n1") + lit(1))
      val sigma = sqrt(
        (col("_n1") * col("_n2")).cast("double") / lit(12.0)
          * ((nD + lit(1.0)) - col("_T").cast("double")
            / (nD * (nD - lit(1.0)))))
      wide.crossJoin(ties)
        .select(col("_n1").as("n_click"), col("_n2").as("n_view"),
          fr(u2.cast("double") / lit(2.0), 1).as("u_click"),
          fr((u2.cast("double")
            - (col("_n1") * col("_n2")).cast("double"))
            / (lit(2.0) * sigma), 6).as("z"))
    },

    // Kruskal-Wallis H across all five event types — the k-group
    // generalization of q262 (and the rank-based analog of a one-way
    // ANOVA): H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1) over the same
    // doubled-integer pooled ranks (R_j² computed in double from the
    // exact int64 doubled rank sums — the 2² rescale divides out
    // explicitly), per-group terms folded in event_type order, and the
    // tie-correction divisor 1 − Σ(t³−t)/(N³−N) from exact integer
    // census sums.
    "q263_kruskal_wallis" -> { (s, d) =>
      val rows = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
      // Sizing-gated census cumsum (r17): q262's grid, q262's treatment.
      val g = gatedCensusCumsum(
        rows.groupBy(col("_x")).agg(count(lit(1)).as("_f")),
        keys = Nil, order = Seq(col("_x")), valueCol = "_f",
        inclusive = false, cumName = "_cum", totName = None)
        .select(col("_x"),
          (lit(2) * col("_cum") + col("_f") + lit(1)).as("_r2"),
          (col("_f") * col("_f") * col("_f") - col("_f")).as("_t3"))
      val perGroup = rows.groupBy(col("event_type"), col("_x"))
        .agg(count(lit(1)).as("_fg"))
        .join(g.select(col("_x"), col("_r2")), Seq("_x"))
        .groupBy(col("event_type"))
        .agg(sum(col("_fg")).as("_n"),
          sum(col("_fg") * col("_r2")).as("_R2"))
        .withColumn("_term",
          col("_R2").cast("double") * col("_R2").cast("double")
            / (lit(4.0) * col("_n").cast("double")))
      val agg = perGroup.agg(
        sum(col("_n")).as("_N"), count(lit(1)).as("n_groups"),
        aggregate(transform(array_sort(collect_list(
          struct(col("event_type"), col("_term")))),
          e => e.getField("_term")), lit(0.0), (a, x) => a + x)
          .as("_sumterm"))
      val ties = g.agg(sum(col("_t3")).as("_T"))
      val nD = col("_N").cast("double")
      val h = lit(12.0) / (nD * (nD + lit(1.0))) * col("_sumterm") -
        lit(3.0) * (nD + lit(1.0))
      val corr = lit(1.0) - col("_T").cast("double") /
        (nD * nD * nD - nD)
      agg.crossJoin(ties)
        .select(col("_N").as("n_total"), col("n_groups"),
          (col("n_groups") - lit(1)).as("dof"),
          fr(h, 6).as("h"), fr(h / corr, 6).as("h_tie_corrected"))
    },

    // Brown-Forsythe Levene test: are the five event types' value
    // variances equal? One-way ANOVA F on |cents − group median| — the
    // robust median-centered variant. Group centers are the LOWER
    // medians (rank ⌈n/2⌉, documented — an exact census order statistic,
    // no even-n interpolation to disagree on), deviations are exact
    // int64, per-group Σz/Σz² are exact int64, and the between/within
    // sum-of-squares assembly runs in double from those integers with
    // the 5 per-group terms folded in event_type order.
    "q264_levene" -> { (s, d) =>
      val rows = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
      val med = rankedCensus(rows, col("event_type"), col("_x"))
        .withColumn("_k", expr("(_n + 1) div 2"))
        .filter(col("_cum") < col("_k")
          && col("_cum") + col("_f") >= col("_k"))
        .select(col("_key").as("event_type"), col("_v").as("_med"))
      val z = rows.join(med, Seq("event_type"))
        .select(col("event_type"), abs(col("_x") - col("_med")).as("_z"))
      onewayF(z, "f_bf")
    },

    // Sortino ratio + Calmar ratio per event type — the downside-risk
    // companions to Sharpe (q169), on the same 6 dp integer daily-return
    // base: downside deviation from Σ min(r,0)² (exact int64 — the µ²
    // products stay under 3e15 for the ±10-winsorized returns), and the
    // drawdown leg measured on the ADDITIVE cumulative-return path
    // (documented: cumsum of integer micro-returns, running peak, both
    // windows in day order — every intermediate is exact int64, so the
    // max drawdown is bit-identical by construction, unlike a compounded
    // wealth product which would need an ordered float fold).
    "q265_sortino_calmar" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val path = dailyReturns(s, d)
        .withColumn("_cum", sum(col("_r")).over(w))
        .withColumn("_peak", max(col("_cum")).over(w))
        .withColumn("_down",
          when(col("_r") < 0, col("_r") * col("_r")).otherwise(lit(0L)))
      path.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_ret"), sum(col("_r")).as("_s"),
          sum(col("_down")).as("_sd"),
          max(col("_peak") - col("_cum")).as("_mdd"))
        .select(col("event_type"), col("n_ret"),
          fr(col("_s").cast("double") / col("n_ret") / lit(1000000.0), 6)
            .as("mean_ret"),
          fr(sqrt(col("_sd").cast("double") / col("n_ret")) /
            lit(1000000.0), 6).as("downside_dev"),
          when(col("_sd") > 0,
            fr((col("_s").cast("double") / col("n_ret"))
              / sqrt(col("_sd").cast("double") / col("n_ret")), 6))
            .as("sortino"),
          fr(col("_mdd").cast("double") / lit(1000000.0), 6).as("max_dd"),
          when(col("_mdd") > 0,
            fr(col("_s").cast("double") / col("n_ret")
              / col("_mdd").cast("double"), 6)).as("calmar"))
        .orderBy("event_type")
    },

    // Lo-MacKinlay variance ratio VR(5) per event type: the
    // random-walk diagnostic — Var of overlapping 5-day return sums
    // over 5× the 1-day variance (VR≈1 under a random walk, >1 momentum,
    // <1 mean reversion). The 5-day sums are exact int64 window sums in
    // day order (full 5-day frames only); both variances are unbiased
    // sample variances from integer power sums via the n·Σx²−(Σx)²
    // identity, doubles only in the final ratios.
    "q266_variance_ratio" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val w5 = w.rowsBetween(-4, 0)
      val r = dailyReturns(s, d)
        .withColumn("_x5", sum(col("_r")).over(w5))
        .withColumn("_c5", count(lit(1)).over(w5))
      val oneDay = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_r")).as("_s"),
          sum(col("_r") * col("_r")).as("_ss"))
      val fiveDay = r.filter(col("_c5") === 5)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_m"), sum(col("_x5")).as("_s5"),
          sum(col("_x5") * col("_x5")).as("_ss5"))
      def sampleVar(n: Column, s: Column, ss: Column): Column =
        (n * ss - s * s).cast("double") /
          (n * (n - lit(1))).cast("double") / lit(1.0e12)
      val v1 = sampleVar(col("_n"), col("_s"), col("_ss"))
      val v5 = sampleVar(col("_m"), col("_s5"), col("_ss5"))
      oneDay.join(fiveDay, Seq("event_type"))
        .select(col("event_type"), col("_n").as("n_ret"),
          col("_m").as("n_overlap"),
          fr(v1, 8).as("var_1d"), fr(v5, 8).as("var_5d"),
          fr(v5 / (lit(5.0) * v1), 6).as("vr5"))
        .orderBy("event_type")
    },

    // Amihud illiquidity per event type: mean over days of
    // |daily return| / daily dollar volume, scaled ×1e6 for a readable
    // magnitude — the price-impact-per-dollar proxy. Return is the
    // exact 6 dp integer from `dailyReturns`; volume is the exact cents
    // sum; each day's term is one double division, and the 30-term mean
    // folds in day order per the q161 rule.
    "q267_amihud" -> { (s, d) =>
      val vol = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
          .as("_vol"))
      dailyReturns(s, d).join(vol, Seq("event_type", "day"))
        .filter(col("_vol") > 0)
        .withColumn("_t",
          abs(col("_r")).cast("double") / lit(1000000.0)
            / (col("_vol").cast("double") / lit(100.0)) * lit(1000000.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          aggregate(transform(array_sort(collect_list(
            struct(col("day"), col("_t")))), e => e.getField("_t")),
            lit(0.0), (a, x) => a + x).as("_sum"))
        .select(col("event_type"), col("n_days"),
          fr(col("_sum") / col("n_days").cast("double"), 6)
            .as("amihud_x1e6"))
        .orderBy("event_type")
    },

    // Garman-Klass and Parkinson range-based volatility per event type:
    // each day is an OHLC bar of the type's value ticks in cents (open/
    // close under the (ts, event_id) total order, the q18 device), and
    // the estimators need only log-ratios of exact integers — identical
    // doubles on both engines. The 2ln2−1 and 4ln2 constants are spelled
    // as decimal literals in BOTH engines (a runtime ln(2) could differ
    // in the last ulp between libm builds). GK per-day terms are
    // non-negative by construction (|ln C/O| ≤ ln H/L); day terms fold
    // in day order; zero-cent lows are excluded (documented guard).
    "q268_garman_klass" -> { (s, d) =>
      val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
      val bars = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          cents.as("_c"))
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(min_by(col("_c"), struct(col("ts"), col("event_id")))
            .as("_o"),
          max(col("_c")).as("_h"), min(col("_c")).as("_l"),
          max_by(col("_c"), struct(col("ts"), col("event_id")))
            .as("_cl"))
        .filter(col("_l") > 0)
      val lnHL = log(col("_h").cast("double") / col("_l").cast("double"))
      val lnCO = log(col("_cl").cast("double") / col("_o").cast("double"))
      val gkT = lit(0.5) * lnHL * lnHL -
        lit(0.3862943611198906) * lnCO * lnCO
      val parkT = lnHL * lnHL / lit(2.772588722239781)
      bars
        .withColumn("_gk", gkT).withColumn("_pk", parkT)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          aggregate(transform(array_sort(collect_list(
            struct(col("day"), col("_gk")))), e => e.getField("_gk")),
            lit(0.0), (a, x) => a + x).as("_sgk"),
          aggregate(transform(array_sort(collect_list(
            struct(col("day"), col("_pk")))), e => e.getField("_pk")),
            lit(0.0), (a, x) => a + x).as("_spk"))
        .select(col("event_type"), col("n_days"),
          fr(col("_sgk") / col("n_days").cast("double"), 6).as("gk_var"),
          fr(sqrt(col("_sgk") / col("n_days").cast("double")), 6)
            .as("gk_vol"),
          fr(sqrt(col("_spk") / col("n_days").cast("double")), 6)
            .as("parkinson_vol"))
        .orderBy("event_type")
    },

    // Local clustering coefficient per node over the q118 co-activity
    // graph: 2·triangles/(deg·(deg−1)) — the per-node closure density
    // that the global triangle census (q118) and degree assortativity
    // (q247) bracket. Reuses `Graph.triangleCount` (degree-oriented
    // wedge join — no hub blowup) plus a degree count on the deduped
    // undirected edge set; top-30 under the (coefficient DESC, node)
    // total order on the fr-gridded ratio.
    "q269_local_clustering" -> { (s, d) =>
      val edges = graft.operators.Graph.coActivityEdges(Tables.events(s, d))
      val tri = graft.operators.Graph.triangleCount(edges)
      val deg = edges.select(col("src").as("node"))
        .unionAll(edges.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      deg.join(tri, Seq("node"), "left")
        .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
        .filter(col("degree") >= 2)
        .select(col("node"), col("degree"), col("n_triangles"),
          fr(lit(2.0) * col("n_triangles").cast("double")
            / (col("degree") * (col("degree") - lit(1))).cast("double"),
            6).as("clustering"))
        .orderBy(col("clustering").desc, col("node"))
        .limit(30)
    },

    // Durbin-Watson serial-correlation statistic on the residuals of the
    // per-type daily-revenue linear trend — the classic "are the trend
    // residuals white?" companion to Ljung-Box (q256, which tests the
    // raw series): slope/intercept from exact int64 normal-equation
    // sums over (t, cents), residuals the identical double expression
    // on both engines, and the two residual sums (Σ(eₜ−eₜ₋₁)², Σeₜ²)
    // folded in day order per the q161 rule.
    "q270_durbin_watson" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
          .as("_y"))
        .withColumn("_t", row_number().over(w).cast("long"))
      val co = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_t")).as("_st"),
          sum(col("_t") * col("_t")).as("_stt"), sum(col("_y")).as("_sy"),
          sum(col("_t") * col("_y")).as("_sty"))
        .withColumn("_b",
          (col("_n") * col("_sty") - col("_st") * col("_sy"))
            .cast("double")
            / (col("_n") * col("_stt") - col("_st") * col("_st"))
              .cast("double"))
        .withColumn("_a",
          (col("_sy").cast("double") - col("_b") * col("_st")
            .cast("double")) / col("_n").cast("double"))
      val e = daily
        .join(co.select(col("event_type"), col("_a"), col("_b")),
          Seq("event_type"))
        .withColumn("_e", col("_y").cast("double") - col("_a")
          - col("_b") * col("_t").cast("double"))
        .withColumn("_ep", lag(col("_e"), 1).over(w))
        .withColumn("_d2", when(col("_ep").isNotNull,
          (col("_e") - col("_ep")) * (col("_e") - col("_ep")))
          .otherwise(lit(0.0)))
        .withColumn("_e2", col("_e") * col("_e"))
      def fold(termCol: String): Column =
        aggregate(transform(array_sort(collect_list(
          struct(col("day"), col(termCol)))),
          x => x.getField(termCol)), lit(0.0), (a, x) => a + x)
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          fold("_d2").as("_num"), fold("_e2").as("_den"))
        .select(col("event_type"), col("n_days"),
          fr(col("_num") / col("_den"), 6).as("dw"))
        .orderBy("event_type")
    },

    // Grubbs max-outlier statistic per event type: G = max(|x − x̄|)/s
    // over the cents values — the single-most-extreme-point screen
    // beside the z-score stream filter (q120) and IQR fences (q172).
    // Every moment is an exact int64 power sum (the n·Σx² product is
    // the same deliberate int64 expression on both engines); mean, s,
    // and both one-sided G's are assembled in double at the end.
    "q271_grubbs" -> { (s, d) =>
      val g = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
          sum(col("_x") * col("_x")).as("_ss"),
          min(col("_x")).as("_min"), max(col("_x")).as("_max"))
      val mean = col("_s").cast("double") / col("_n").cast("double")
      val sd = sqrt((col("_n") * col("_ss") - col("_s") * col("_s"))
        .cast("double")
        / (col("_n") * (col("_n") - lit(1))).cast("double"))
      g.select(col("event_type"), col("_n").as("n_obs"),
          fr(mean / lit(100.0), 4).as("mean_value"),
          fr(sd / lit(100.0), 4).as("sd_value"),
          fr((col("_max").cast("double") - mean) / sd, 6).as("g_max"),
          fr((mean - col("_min").cast("double")) / sd, 6).as("g_min"),
          fr(greatest((col("_max").cast("double") - mean) / sd,
            (mean - col("_min").cast("double")) / sd), 6).as("g"))
        .orderBy("event_type")
    },

    // Classic one-way ANOVA across the five event types on raw cents —
    // the equal-means F that generalizes Welch's two-group t (q238),
    // sharing the exact-integer F assembly with the Brown-Forsythe
    // variance test (q264) via `onewayF`.
    "q272_anova_f" -> { (s, d) =>
      onewayF(Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_z")), "f")
    },

    // Important-stock screen (TPC-H Q11 shape, on the tables we have):
    // per-nation part inventory value from exact DECIMAL revenue sums,
    // kept only where the part exceeds 2× ITS nation's mean part value —
    // the group-aggregate-vs-group-total HAVING pattern, with an
    // ADAPTIVE threshold (a fixed fraction-of-total goes empty as the
    // catalog widens; a mean multiple is scale-free). The nation
    // total/count is a window over the (nation, part) aggregate —
    // bounded by the catalog, never line items — and the threshold
    // compare is the identical double expression on both engines.
    "q275_important_stock" -> { (s, d) =>
      val v = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("l_partkey"))
        .agg(decSum(col("l_extendedprice"), 18, 2).as("_val"))
      val wN = Window.partitionBy(col("n_name"))
      v.withColumn("_tot", sum(col("_val")).over(wN))
        .withColumn("_cnt", count(lit(1)).over(wN))
        .filter(col("_val").cast("double")
          > lit(2.0) * col("_tot").cast("double")
            / col("_cnt").cast("double"))
        .select(col("n_name"), col("l_partkey"),
          fr(col("_val").cast("double"), 2).as("stock_value"))
        .orderBy(col("stock_value").desc, col("n_name"), col("l_partkey"))
        .limit(100)
    },

    // Minimum-cost supplier per part (TPC-H Q2 shape): the per-(part,
    // supplier) unit price is a ratio of exact DECIMAL sums fr-gridded
    // at 4 decimals, the per-part argmin is a row_number under the
    // (unit_price, suppkey) total order on the catalog-bounded pair
    // aggregate, and the result joins back to supplier/nation for the
    // procurement view — top-100 cheapest opportunities under a full
    // total order.
    "q276_min_cost_supplier" -> { (s, d) =>
      val unit = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(decSum(col("l_extendedprice"), 18, 2).as("_p"),
          decSum(col("l_quantity")).as("_q"))
        .filter(col("_q") > 0)
        .withColumn("_unit",
          fr(col("_p").cast("double") / col("_q").cast("double"), 4))
      val wP = Window.partitionBy(col("l_partkey"))
        .orderBy(col("_unit"), col("l_suppkey"))
      unit.withColumn("_rn", row_number().over(wP))
        .filter(col("_rn") === 1)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("n_name"),
          col("_unit").as("unit_price"))
        .orderBy(col("unit_price"), col("l_partkey"))
        .limit(100)
    },

    // ARCH-effect screen: Ljung-Box on SQUARED daily returns — q256
    // asks "is the series autocorrelated?", this asks "is its VOLATILITY
    // autocorrelated?" (the volatility-clustering stylized fact). x = r²
    // stays int64 (µ² ≤ 1e14) but its own squares and lag products need
    // the q252 decimal device — (a)₁₉ × (b)₁₉ products accumulate as
    // DECIMAL(38,0) (Spark) / HUGEINT (oracle), both exact, so the
    // centered-ACF algebra starts from identical doubles.
    "q277_arch_effect" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val d19 = "decimal(19,0)"
      val sq = dailyReturns(s, d)
        .withColumn("_x", col("_r") * col("_r"))
        .withColumn("_l1", lag(col("_x"), 1).over(w))
        .withColumn("_l2", lag(col("_x"), 2).over(w))
        .withColumn("_l3", lag(col("_x"), 3).over(w))
      def lagSums(k: Int): Seq[Column] = Seq(
        sum(when(col(s"_l$k").isNotNull,
          col("_x").cast(d19) * col(s"_l$k").cast(d19))).as(s"_sxy$k"),
        sum(when(col(s"_l$k").isNotNull, col("_x"))).as(s"_sx$k"),
        sum(col(s"_l$k")).as(s"_sy$k"))
      val aggs = Seq(sum(col("_x")).as("_s"),
        sum(col("_x").cast(d19) * col("_x").cast(d19)).as("_ss")) ++
        lagSums(1) ++ lagSums(2) ++ lagSums(3)
      val g = sq.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), aggs: _*)
      val nD = col("_n").cast("double")
      val sD = col("_s").cast("double")
      def rk(k: Int): Column =
        ((nD * nD) * col(s"_sxy$k").cast("double")
          - nD * sD * (col(s"_sx$k").cast("double")
            + col(s"_sy$k").cast("double"))
          + (col("_n") - lit(k)).cast("double") * sD * sD) /
          ((nD * nD) * col("_ss").cast("double") - nD * sD * sD)
      val (r1, r2, r3) = (rk(1), rk(2), rk(3))
      g.select(col("event_type"), col("_n").as("n_days"),
          fr(r1, 6).as("r1_sq"),
          fr(nD * (nD + lit(2.0))
            * (r1 * r1 / (nD - lit(1.0)) + r2 * r2 / (nD - lit(2.0))
              + r3 * r3 / (nD - lit(3.0))), 4).as("q_lb_sq"),
          lit(3L).as("dof"))
        .orderBy("event_type")
    },

    // Underwater (drawdown-spell) census per event type on the q265
    // additive cumulative-return path: how MANY drawdown spells, how
    // long is the longest, and what share of days are spent below the
    // running peak. Consecutive under-peak days group by the classic
    // rank-difference islands device (both row_numbers in day order over
    // the per-type daily series); every quantity is an exact integer.
    "q278_underwater_duration" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wCum = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wU = Window.partitionBy(col("event_type"), col("_under"))
        .orderBy(col("day"))
      val path = dailyReturns(s, d)
        .withColumn("_cum", sum(col("_r")).over(wCum))
        .withColumn("_peak", max(col("_cum")).over(wCum))
        .withColumn("_under", (col("_cum") < col("_peak")).cast("int"))
        .withColumn("_grp",
          row_number().over(w) - row_number().over(wU))
      val totals = path.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"))
      val spells = path.filter(col("_under") === 1)
        .groupBy(col("event_type"), col("_grp"))
        .agg(count(lit(1)).as("_len"))
        .groupBy(col("event_type"))
        .agg(sum(col("_len")).as("underwater_days"),
          count(lit(1)).as("n_spells"), max(col("_len")).as("longest_spell"))
      totals.join(spells, Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("underwater_days"), lit(0L)).as("underwater_days"),
          coalesce(col("n_spells"), lit(0L)).as("n_spells"),
          coalesce(col("longest_spell"), lit(0L)).as("longest_spell"))
        .orderBy("event_type")
    },

    // Cornish-Fisher modified VaR(95) per event type — the
    // moment-adjusted quantile that corrects q170's historical VaR for
    // skew and fat tails: z_cf = z + (z²−1)S/6 + (z³−3z)K/24 −
    // (2z³−5z)S²/36 with z the 5% normal quantile as a DECIMAL LITERAL
    // on both engines (no runtime inverse-CDF to disagree on). Return
    // moments: Σr/Σr² exact int64, Σr³/Σr⁴ through the q252 decimal
    // device (r³ up to 1e21 exceeds int64); central-moment algebra is
    // the identical literal double expression on both sides.
    "q279_cornish_fisher" -> { (s, d) =>
      val d19 = "decimal(19,0)"
      val g = dailyReturns(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_r")).as("_s1"),
          sum(col("_r") * col("_r")).as("_s2"),
          sum((col("_r") * col("_r")).cast(d19) * col("_r").cast(d19))
            .as("_s3"),
          sum((col("_r") * col("_r")).cast(d19)
            * (col("_r") * col("_r")).cast(d19)).as("_s4"))
      val nD = col("_n").cast("double")
      val mu = col("_s1").cast("double") / nD
      val m2 = col("_s2").cast("double") / nD - mu * mu
      val m3 = col("_s3").cast("double") / nD -
        lit(3.0) * mu * (col("_s2").cast("double") / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = col("_s4").cast("double") / nD -
        lit(4.0) * mu * (col("_s3").cast("double") / nD) +
        lit(6.0) * mu * mu * (col("_s2").cast("double") / nD) -
        lit(3.0) * mu * mu * mu * mu
      val sk = m3 / (m2 * sqrt(m2))
      val ek = m4 / (m2 * m2) - lit(3.0)
      val z = lit(-1.6448536269514722)
      val zcf = z + (z * z - lit(1.0)) * sk / lit(6.0) +
        (z * z * z - lit(3.0) * z) * ek / lit(24.0) -
        (lit(2.0) * z * z * z - lit(5.0) * z) * sk * sk / lit(36.0)
      g.select(col("event_type"), col("_n").as("n_ret"),
          fr(sk, 6).as("skew"), fr(ek, 6).as("excess_kurtosis"),
          fr(zcf, 6).as("z_cf"),
          fr((mu + zcf * sqrt(m2)) / lit(-1000000.0), 6).as("mvar95"))
        .orderBy("event_type")
    },

    // Order-to-ship lead-time percentiles per order priority: exact
    // p50/p90/p99 day counts read off the cumulated (priority, days)
    // census — the operational SLA view of the orders/lineitem join.
    // Rank fences are ceil(q·n) as pure integer arithmetic; everything
    // stays int64 (the rank windows cumulate the census, never line
    // items).
    "q280_lead_time_percentiles" -> { (s, d) =>
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("_days"))
      val census = rankedCensus(j, col("o_orderpriority"), col("_days"))
        .withColumn("_k50", expr("(_n + 1) div 2"))
        .withColumn("_k90", expr("(9 * _n + 9) div 10"))
        .withColumn("_k99", expr("(99 * _n + 99) div 100"))
      def fence(k: String): Column =
        max(when(col("_cum") < col(k)
          && col("_cum") + col("_f") >= col(k), col("_v")))
      census.groupBy(col("_key").as("o_orderpriority"))
        .agg(max(col("_n")).as("n_lines"),
          fence("_k50").as("p50_days"), fence("_k90").as("p90_days"),
          fence("_k99").as("p99_days"), max(col("_v")).as("max_days"))
        .orderBy("o_orderpriority")
    },

    // Kendall's coefficient of concordance W: do the five event types
    // agree on WHICH days are big? Each type ranks the 30 days by daily
    // revenue (tie-aware doubled census ranks, the q242 device); the
    // doubled rank-sum mean m(n+1) is an exact integer, so the spread
    // S = Σ(R₂ − m(n+1))² and the tie terms are exact int64 end to end
    // — one double division produces W. The m-judges generalization of
    // the pairwise rank correlations (q242/q258).
    "q281_kendall_w" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .withColumn("_c",
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(col("_c")).as("_y"))
      val wAsc = Window.partitionBy(col("event_type")).orderBy(col("_y"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val census = daily.groupBy(col("event_type"), col("_y"))
        .agg(count(lit(1)).as("_f"))
        .withColumn("_cum", coalesce(sum(col("_f")).over(wAsc), lit(0L)))
        .withColumn("_r2", lit(2) * col("_cum") + col("_f") + lit(1))
      val ranked = daily.join(census, Seq("event_type", "_y"))
      val ties = census.groupBy(col("event_type"))
        .agg(sum(col("_f") * col("_f") * col("_f") - col("_f")).as("_t"))
        .agg(sum(col("_t")).as("_T"), count(lit(1)).as("_m"))
      val perDay = ranked.groupBy(col("day"))
        .agg(sum(col("_r2")).as("_R2"))
      val spread = perDay.agg(count(lit(1)).as("_nd"),
        sum(col("_R2")).as("_sum"), sum(col("_R2") * col("_R2")).as("_ss"))
      spread.crossJoin(ties)
        .withColumn("_s2",
          col("_ss") - expr("(_sum * _sum) div _nd"))
        .select(col("_nd").as("n_days"), col("_m").as("n_judges"),
          fr((lit(3.0) * col("_s2").cast("double"))
            / ((col("_m") * col("_m")).cast("double")
              * (col("_nd") * col("_nd") * col("_nd") - col("_nd"))
                .cast("double")
              - (col("_m") * col("_T")).cast("double")), 6).as("w"))
    },

    // McNemar marginal-homogeneity test over two document-quality
    // screens (char-density ≥ 400 vs mean token length ≥ 5): does one
    // rule systematically flag MORE docs than the other? Where q249's
    // kappa scores agreement, McNemar tests the disagreement asymmetry
    // — χ² = (b−c)²/(b+c) over the discordant cells, with the
    // continuity-corrected variant beside it; the 2×2 census is exact
    // integers, two double divisions at the end.
    "q282_mcnemar" -> { (s, d) =>
      val g = Tables.documents(s, d)
        .withColumn("_a", (col("n_chars") >= 400).cast("long"))
        .withColumn("_toks", split(trim(col("text")), "\\s+"))
        .withColumn("_b",
          (size(col("_toks")).cast("long") * 5L <=
            length(concat_ws("", col("_toks")))).cast("long"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_a") === 1 && col("_b") === 0, 1L)
            .otherwise(0L)).as("_bb"),
          sum(when(col("_a") === 0 && col("_b") === 1, 1L)
            .otherwise(0L)).as("_cc"))
      val diff = (col("_bb") - col("_cc"))
      g.select(col("n_docs"), col("_bb").as("a_only"),
          col("_cc").as("b_only"),
          fr((diff * diff).cast("double")
            / (col("_bb") + col("_cc")).cast("double"), 6).as("chi2"),
          fr(((abs(diff) - lit(1)) * (abs(diff) - lit(1))).cast("double")
            / (col("_bb") + col("_cc")).cast("double"), 6)
            .as("chi2_corrected"))
    },

    // Forecast-evaluation metrics per event type: MASE of the naive-1
    // forecast scaled by the seasonal-naive-7 baseline, plus sMAPE of
    // naive-1 — the standard "is your forecast beating the calendar?"
    // scoreboard. Absolute errors are exact int64 cents; MASE needs no
    // float fold at all; the sMAPE terms (one double division per day)
    // fold in day order.
    "q283_mase_smape" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Tables.events(s, d)
        .withColumn("_c",
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(col("_c")).as("_y"))
        .withColumn("_l1", lag(col("_y"), 1).over(w))
        .withColumn("_l7", lag(col("_y"), 7).over(w))
      val terms = daily
        .withColumn("_e1", when(col("_l1").isNotNull,
          abs(col("_y") - col("_l1"))))
        .withColumn("_e7", when(col("_l7").isNotNull,
          abs(col("_y") - col("_l7"))))
        .withColumn("_sm", when(col("_l1").isNotNull,
          lit(2.0) * abs(col("_y") - col("_l1")).cast("double")
            / (col("_y") + col("_l1")).cast("double")))
      terms.groupBy(col("event_type"))
        .agg(count(col("_e1")).as("_n1"), sum(col("_e1")).as("_s1"),
          count(col("_e7")).as("_n7"), sum(col("_e7")).as("_s7"),
          aggregate(transform(array_sort(collect_list(when(
            col("_sm").isNotNull,
            struct(col("day"), col("_sm").as("_v"))))),
            e => e.getField("_v")), lit(0.0), (a, x) => a + x).as("_ss"))
        .select(col("event_type"), col("_n1").as("n_naive1"),
          col("_n7").as("n_naive7"),
          fr(col("_s1").cast("double") / col("_n1").cast("double")
            / lit(100.0), 4).as("mae_naive1"),
          fr(col("_s7").cast("double") / col("_n7").cast("double")
            / lit(100.0), 4).as("mae_naive7"),
          fr((col("_s1").cast("double") / col("_n1").cast("double"))
            / (col("_s7").cast("double") / col("_n7").cast("double")), 6)
            .as("mase"),
          fr(col("_ss") / col("_n1").cast("double"), 6).as("smape_naive1"))
        .orderBy("event_type")
    },

    // Cook's distance on the per-type daily-revenue trend fit — WHICH
    // days bend the regression line? Shares q270's exact
    // normal-equation fit; leverage h_t = 1/n + (t−t̄)²/Sxx is pure
    // rational arithmetic from integer sums, s² folds the squared
    // residuals in day order, and the top-3 influential days per type
    // come out under the (D DESC, day) total order on the fr-gridded
    // statistic.
    "q284_cooks_distance" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
          .as("_y"))
        .withColumn("_t", row_number().over(w).cast("long"))
      val co = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_t")).as("_st"),
          sum(col("_t") * col("_t")).as("_stt"), sum(col("_y")).as("_sy"),
          sum(col("_t") * col("_y")).as("_sty"))
        .withColumn("_b",
          (col("_n") * col("_sty") - col("_st") * col("_sy"))
            .cast("double")
            / (col("_n") * col("_stt") - col("_st") * col("_st"))
              .cast("double"))
        .withColumn("_a",
          (col("_sy").cast("double") - col("_b") * col("_st")
            .cast("double")) / col("_n").cast("double"))
      val e = daily
        .join(co, Seq("event_type"))
        .withColumn("_e", col("_y").cast("double") - col("_a")
          - col("_b") * col("_t").cast("double"))
        .withColumn("_h", lit(1.0) / col("_n").cast("double")
          + (col("_t").cast("double")
            - col("_st").cast("double") / col("_n").cast("double"))
            * (col("_t").cast("double")
              - col("_st").cast("double") / col("_n").cast("double"))
            / (col("_stt").cast("double")
              - col("_st").cast("double") * col("_st").cast("double")
                / col("_n").cast("double")))
      val s2 = e.groupBy(col("event_type"))
        .agg((aggregate(transform(array_sort(collect_list(
          struct(col("day"), (col("_e") * col("_e")).as("_v")))),
          x => x.getField("_v")), lit(0.0), (a, x) => a + x)
          / (max(col("_n")) - lit(2)).cast("double")).as("_s2"))
      val wTop = Window.partitionBy(col("event_type"))
        .orderBy(col("cook_d").desc, col("day"))
      e.join(s2, Seq("event_type"))
        .withColumn("cook_d",
          fr(col("_e") * col("_e") * col("_h")
            / (lit(2.0) * col("_s2")
              * (lit(1.0) - col("_h")) * (lit(1.0) - col("_h"))), 6))
        .withColumn("_rn", row_number().over(wTop))
        .filter(col("_rn") <= 3)
        .select(col("event_type"), col("day"),
          col("_rn").cast("long").as("rank"), col("cook_d"))
        .orderBy("event_type", "rank")
    },

    // Two-sample Anderson-Darling statistic, click vs view values — the
    // tail-sensitive companion to Kolmogorov-Smirnov (q143, which only
    // sees the single largest ECDF gap): A² = 1/(nm) Σ f·(M(n+m) −
    // nB)²/(B(n+m−B)) over the POOLED cents census (the standard
    // ties-aware computing form), B/M the inclusive pooled/click
    // cumulative counts. Every count is exact int64; the squared
    // deviation is one deterministic double square of an exact ≤2^53
    // integer; census terms fold in value order.
    "q288_anderson_darling" -> { (s, d) =>
      val two = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select((col("event_type") === "click").cast("long").as("_isc"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
      // Sizing-gated census cumsums (r17): q262's grid, one range
      // snapshot for both pooled and click cumulative counts.
      val c = gatedCensusCumsumMulti(
        two.groupBy(col("_x"))
          .agg(count(lit(1)).as("_f"), sum(col("_isc")).as("_fc")),
        keys = Nil, order = Seq(col("_x")),
        cols = Seq(("_f", "_B", None), ("_fc", "_M", None)),
        inclusive = true)
      val tot = two.agg(sum(col("_isc")).as("_n"),
        count(lit(1)).as("_NM"))
      val t = c.crossJoin(tot)
        .filter(col("_B") < col("_NM"))
        .withColumn("_diff",
          (col("_M") * col("_NM") - col("_n") * col("_B")).cast("double"))
        .withColumn("_t", col("_f").cast("double")
          * col("_diff") * col("_diff")
          / (col("_B") * (col("_NM") - col("_B"))).cast("double"))
      t.agg(max(col("_n")).as("_n2"), max(col("_NM")).as("_NM2"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_x"), col("_t").as("_v")))),
            e => e.getField("_v")), lit(0.0), (a, x) => a + x).as("_sum"))
        .select(col("_n2").as("n_click"),
          (col("_NM2") - col("_n2")).as("n_view"),
          fr(col("_sum") / (col("_n2").cast("double")
            * (col("_NM2") - col("_n2")).cast("double")), 6).as("a2"))
    },

    // Brand-switching matrix: each order's dominant part brand (max
    // total quantity, ties to the lexicographically smallest brand — a
    // census argmax, deterministic on both engines), customers' orders
    // sequenced by (orderdate, orderkey), and the (prev → next) brand
    // transition census — the retail loyalty view of the q122 Markov
    // shape, on the relational star instead of the event stream. Top-20
    // transitions under a full total order; all integer.
    "q289_brand_switching" -> { (s, d) =>
      // dominant brand = argmin of (-qty, brand): a two-level hash
      // aggregate (min_by over the (order, brand) partials) — no
      // per-order sort+window ever touches the pair relation (benched
      // 2.6× faster than the row_number form at sf0.1)
      val orderBrand = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .withColumn("_q100",
          floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long"))
        .groupBy(col("l_orderkey"), col("p_brand"))
        .agg(sum(col("_q100")).as("_qty"))
        .groupBy(col("l_orderkey"))
        .agg(min_by(col("p_brand"),
          struct((-col("_qty")).as("_nq"), col("p_brand"))).as("_dom"))
      val wSeq = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val seq = Tables.orders(s, d)
        .join(orderBrand, col("o_orderkey") === col("l_orderkey"))
        .withColumn("_prev", lag(col("_dom"), 1).over(wSeq))
        .filter(col("_prev").isNotNull)
      seq.groupBy(col("_prev").as("brand_from"),
          col("_dom").as("brand_to"))
        .agg(count(lit(1)).as("n_switches"))
        .orderBy(col("n_switches").desc, col("brand_from"),
          col("brand_to"))
        .limit(20)
    },

    // Tukey-HSD-style pairwise contrasts after the q272 ANOVA: the q
    // statistic (mean_i − mean_j)/√(MSW/2·(1/nᵢ+1/nⱼ)) for all ten type
    // pairs — which groups actually differ once the omnibus F fires.
    // Per-group moments are exact int64; MSW folds the five within-group
    // terms in type order; the pair frame is the 5×5 self-join of the
    // tiny aggregate.
    "q291_tukey_hsd" -> { (s, d) =>
      val g = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_z"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_z")).as("_s"),
          sum(col("_z") * col("_z")).as("_q"))
        .withColumn("_within",
          col("_q").cast("double") - col("_s").cast("double")
            * col("_s").cast("double") / col("_n").cast("double"))
      val msw = g.agg(sum(col("_n")).as("_N"),
          count(lit(1)).as("_k"),
          aggregate(transform(array_sort(collect_list(
            struct(col("event_type"), col("_within")))),
            e => e.getField("_within")), lit(0.0), (a, x) => a + x)
            .as("_ssw"))
        .select((col("_ssw") / (col("_N") - col("_k")).cast("double"))
          .as("_msw"))
      val a = g.select(col("event_type").as("type_a"),
        col("_n").as("_na"), col("_s").as("_sa"))
      val b = g.select(col("event_type").as("type_b"),
        col("_n").as("_nb"), col("_s").as("_sb"))
      val meanA = col("_sa").cast("double") / col("_na").cast("double")
      val meanB = col("_sb").cast("double") / col("_nb").cast("double")
      a.join(b, col("type_a") < col("type_b")).crossJoin(msw)
        .select(col("type_a"), col("type_b"),
          fr((meanA - meanB) / lit(100.0), 4).as("mean_diff"),
          fr((meanA - meanB) / sqrt(col("_msw") / lit(2.0)
            * (lit(1.0) / col("_na").cast("double")
              + lit(1.0) / col("_nb").cast("double"))), 6).as("q_stat"))
        .orderBy("type_a", "type_b")
    },

    // Process-capability indices per event type: Cp = (USL−LSL)/6σ and
    // Cpk = min(USL−μ, μ−LSL)/3σ, with the spec limits set at the
    // POOLED distribution's exact p1/p99 census order statistics
    // (ceil(q·n) fences — integer arithmetic) — the SPC view of which
    // event types' value spreads fit the corpus-wide band. Moments from
    // exact int64 power sums, doubles only in the final ratios.
    "q292_cpk" -> { (s, d) =>
      val rows = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
      // Sizing-gated census cumsum (r17): q262's grid, q262's treatment.
      val pooled = gatedCensusCumsum(
        rows.groupBy(col("_x")).agg(count(lit(1)).as("_f")),
        keys = Nil, order = Seq(col("_x")), valueCol = "_f",
        inclusive = false, cumName = "_cum", totName = Some("_n"))
      val limits = pooled
        .withColumn("_k1", expr("(_n + 99) div 100"))
        .withColumn("_k99", expr("(99 * _n + 99) div 100"))
        .agg(max(when(col("_cum") < col("_k1")
            && col("_cum") + col("_f") >= col("_k1"), col("_x")))
            .as("_lsl"),
          max(when(col("_cum") < col("_k99")
            && col("_cum") + col("_f") >= col("_k99"), col("_x")))
            .as("_usl"))
      val g = rows.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_gn"), sum(col("_x")).as("_gs"),
          sum(col("_x") * col("_x")).as("_gq"))
      val mu = col("_gs").cast("double") / col("_gn").cast("double")
      val sd = sqrt((col("_gn") * col("_gq") - col("_gs") * col("_gs"))
        .cast("double")
        / (col("_gn") * (col("_gn") - lit(1))).cast("double"))
      g.crossJoin(limits)
        .select(col("event_type"), col("_gn").as("n_obs"),
          fr(col("_lsl").cast("double") / lit(100.0), 2).as("lsl"),
          fr(col("_usl").cast("double") / lit(100.0), 2).as("usl"),
          fr((col("_usl") - col("_lsl")).cast("double")
            / (lit(6.0) * sd), 6).as("cp"),
          fr(least(col("_usl").cast("double") - mu,
            mu - col("_lsl").cast("double"))
            / (lit(3.0) * sd), 6).as("cpk"))
        .orderBy("event_type")
    },

    // Holt-Winters ADDITIVE-SEASONAL smoothing (period 7, α=.3 β=.2
    // γ=.3) per event type — q192's level+trend recursion extended with
    // the rotating weekly-seasonal queue. The whole recursion is ONE
    // ordered fold over the day-sorted array with a 9-slot double-array
    // state [level, trend, s₁..s₇]; both engines replay literally the
    // same arithmetic in the same order (DuckDB's list_reduce pads the
    // inputs to the state type; Spark's aggregate folds the raw
    // doubles), so the final state is bit-identical before rounding.
    "q293_holt_winters" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg((floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("_v"))
      val arr = daily.groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(
          struct(col("day"), col("_v")))), e => e.getField("_v"))
          .as("_a"))
        .filter(size(col("_a")) >= 3)
      def nl(a: Column, x: Column): Column =
        lit(0.3) * (x - element_at(a, 3)) +
          lit(0.7) * (element_at(a, 1) + element_at(a, 2))
      val folded = arr
        .withColumn("_init", array((Seq(
          element_at(col("_a"), 1),
          element_at(col("_a"), 2) - element_at(col("_a"), 1)) ++
          Seq.fill(7)(lit(0.0))): _*))
        .withColumn("_st", aggregate(
          slice(col("_a"), lit(3), size(col("_a")) - lit(2)), col("_init"),
          (a, x) => array(
            nl(a, x),
            lit(0.2) * (nl(a, x) - element_at(a, 1)) +
              lit(0.8) * element_at(a, 2),
            element_at(a, 4), element_at(a, 5), element_at(a, 6),
            element_at(a, 7), element_at(a, 8), element_at(a, 9),
            lit(0.3) * (x - nl(a, x)) + lit(0.7) * element_at(a, 3))))
      folded.select(col("event_type"),
          size(col("_a")).cast("long").as("n_days"),
          fr(element_at(col("_st"), 1), 6).as("level"),
          fr(element_at(col("_st"), 2), 6).as("trend"),
          fr(element_at(col("_st"), 1) + element_at(col("_st"), 2)
            + element_at(col("_st"), 3), 6).as("forecast_next"))
        .orderBy("event_type")
    },

    // Price elasticity per brand: the OLS slope of ln(total quantity) on
    // ln(unit price) across the brand's parts — the textbook log-log
    // demand regression, on (brand, part) aggregates bounded by the
    // catalog. Unit price and quantity are ratios/sums of exact DECIMALs
    // fr-gridded before the logs, and the four regression sums fold in
    // partkey order per the q161 rule.
    "q294_price_elasticity" -> { (s, d) =>
      val pp = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(decSum(col("l_extendedprice"), 18, 2).as("_rev"),
          decSum(col("l_quantity")).as("_qty"))
        .filter(col("_qty") > 0)
        .withColumn("_x", log(fr(col("_rev").cast("double")
          / col("_qty").cast("double"), 4)))
        .withColumn("_y", log(col("_qty").cast("double")))
      def fold(termCol: Column): Column =
        aggregate(transform(array_sort(collect_list(
          struct(col("l_partkey"), termCol.as("_t")))),
          e => e.getField("_t")), lit(0.0), (a, x) => a + x)
      pp.groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          fold(col("_x")).as("_sx"), fold(col("_y")).as("_sy"),
          fold(col("_x") * col("_y")).as("_sxy"),
          fold(col("_x") * col("_x")).as("_sxx"))
        .select(col("p_brand"), col("n_parts"),
          fr((col("n_parts").cast("double") * col("_sxy")
            - col("_sx") * col("_sy"))
            / (col("n_parts").cast("double") * col("_sxx")
              - col("_sx") * col("_sx")), 6).as("elasticity"))
        .orderBy("p_brand")
    },

    // Wilson-lower-bound ranking of brand return rates — the standard
    // "sort by the confidence interval's pessimistic edge, not the raw
    // rate" leaderboard (small-n brands can't fluke to the top). Return
    // counts are exact integers; the z=1.96 constant is cast to double
    // once on both engines; ranked under the (lb DESC, brand) total
    // order on the fr-gridded bound.
    "q295_wilson_ranking" -> { (s, d) =>
      val g = Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("_n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("_r"))
      val z = lit(1.96)
      val nD = col("_n").cast("double")
      val p = col("_r").cast("double") / nD
      val lb = (p + z * z / (lit(2.0) * nD)
        - z * sqrt(p * (lit(1.0) - p) / nD
          + z * z / (lit(4.0) * nD * nD))) /
        (lit(1.0) + z * z / nD)
      val ranked = g.select(col("p_brand"), col("_n").as("n_lines"),
        col("_r").as("n_returned"), fr(p, 6).as("return_rate"),
        fr(lb, 6).as("wilson_lb"))
      ranked.withColumn("rank", row_number().over(
          Window.orderBy(col("wilson_lb").desc, col("p_brand")))
          .cast("long"))
        .orderBy("rank")
    },

    // Partial correlation of daily click vs purchase volumes CONTROLLING
    // for total activity — does the click↔purchase co-movement survive
    // once "busy day" is partialed out? The three Pearson r's come from
    // exact int64 count sums over the 30-day grid; the partial-r combine
    // is the identical literal double expression on both engines.
    "q296_partial_corr" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("_x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("_y"),
          count(lit(1)).as("_z"))
      val g = daily.agg(count(lit(1)).as("_n"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_z")).as("_sz"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"),
        sum(col("_z") * col("_z")).as("_szz"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_z")).as("_sxz"),
        sum(col("_y") * col("_z")).as("_syz"))
      def r(sab: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column): Column =
        (col("_n") * sab - sa * sb).cast("double") /
          (sqrt((col("_n") * saa - sa * sa).cast("double"))
            * sqrt((col("_n") * sbb - sb * sb).cast("double")))
      val rxy = r(col("_sxy"), col("_sx"), col("_sy"),
        col("_sxx"), col("_syy"))
      val rxz = r(col("_sxz"), col("_sx"), col("_sz"),
        col("_sxx"), col("_szz"))
      val ryz = r(col("_syz"), col("_sy"), col("_sz"),
        col("_syy"), col("_szz"))
      g.select(col("_n").as("n_days"), fr(rxy, 6).as("r_click_buy"),
          fr(rxz, 6).as("r_click_total"), fr(ryz, 6).as("r_buy_total"),
          fr((rxy - rxz * ryz) /
            sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
            .as("partial_r"))
    },

    // Overdispersion screen per event type: the Fano factor (variance/
    // mean) of per-user event counts plus the χ² dispersion statistic
    // Σ(x−x̄)²/x̄ = (nΣx²−S²)/S with dof n−1 — "is user activity
    // Poisson, or do heavy users make it clumpy?" (the gate before
    // trusting any Poisson-rate model on this data). Counts and power
    // sums exact int64; two double divisions at the end.
    "q297_overdispersion" -> { (s, d) =>
      val g = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("_x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
          sum(col("_x") * col("_x")).as("_ss"))
      val nD = col("_n").cast("double")
      val mean = col("_s").cast("double") / nD
      val varP = (col("_n") * col("_ss") - col("_s") * col("_s"))
        .cast("double") / (col("_n") * (col("_n") - lit(1)))
        .cast("double")
      g.select(col("event_type"), col("_n").as("n_users"),
          fr(mean, 4).as("mean_events"),
          fr(varP / mean, 6).as("fano"),
          fr((col("_n") * col("_ss") - col("_s") * col("_s"))
            .cast("double") / col("_s").cast("double"), 4)
            .as("chi2_dispersion"),
          (col("_n") - lit(1)).as("dof"))
        .orderBy("event_type")
    },

    // Ruzicka (weighted Jaccard) similarity between source token
    // distributions: Σ min(fₐ, f_b) / Σ max(fₐ, f_b) over the shared
    // vocabulary grid — the count-weighted set overlap beside the
    // probability-space JSD (q246). The (source × token) grid is
    // census-bounded; sums are exact int64; top-10 most similar pairs
    // under the (similarity DESC, pair) total order.
    "q298_ruzicka_similarity" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("_t"))
        .filter(col("_t") =!= "")
        .groupBy(col("source"), col("_t")).agg(count(lit(1)).as("_n"))
      val vocab = counts.select(col("_t")).distinct()
      val srcs = counts.select(col("source")).distinct()
      val grid = vocab.crossJoin(srcs)
        .join(counts, Seq("source", "_t"), "left")
        .withColumn("_n", coalesce(col("_n"), lit(0L)))
      val a = grid.select(col("_t"), col("source").as("source_a"),
        col("_n").as("_na"))
      val b = grid.select(col("_t"), col("source").as("source_b"),
        col("_n").as("_nb"))
      a.join(b, Seq("_t")).filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(least(col("_na"), col("_nb"))).as("_min"),
          sum(greatest(col("_na"), col("_nb"))).as("_max"))
        .select(col("source_a"), col("source_b"),
          fr(col("_min").cast("double") / col("_max").cast("double"), 6)
            .as("ruzicka"))
        .orderBy(col("ruzicka").desc, col("source_a"), col("source_b"))
        .limit(10)
    },

    // Odds ratio + relative risk of purchasing given clicking on
    // USER-DAYS (per-user reach is ~100% over the month — the 2×2 only
    // discriminates at day granularity): OR = ad/bc, RR =
    // [a/(a+b)]/[c/(c+d)], and the Woolf log-OR standard error
    // √(1/a+1/b+1/c+1/d) — the epidemiology-style effect size beside
    // the chi-square independence test (q162). All four cells exact
    // integers.
    "q299_odds_ratio" -> { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy(col("user_id"), col("ts").cast("date").as("_day"))
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("_c"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("_p"))
      val g = users.agg(
        sum(when(col("_c") === 1 && col("_p") === 1, 1L).otherwise(0L))
          .as("_a"),
        sum(when(col("_c") === 1 && col("_p") === 0, 1L).otherwise(0L))
          .as("_b"),
        sum(when(col("_c") === 0 && col("_p") === 1, 1L).otherwise(0L))
          .as("_cc"),
        sum(when(col("_c") === 0 && col("_p") === 0, 1L).otherwise(0L))
          .as("_d"))
      val (aD, bD, cD, dD) = (col("_a").cast("double"),
        col("_b").cast("double"), col("_cc").cast("double"),
        col("_d").cast("double"))
      g.select(col("_a").as("both"), col("_b").as("click_only"),
          col("_cc").as("buy_only"), col("_d").as("neither"),
          fr((aD * dD) / (bD * cD), 6).as("odds_ratio"),
          fr((aD / (aD + bD)) / (cD / (cD + dD)), 6)
            .as("relative_risk"),
          fr(sqrt(lit(1.0) / aD + lit(1.0) / bD + lit(1.0) / cD
            + lit(1.0) / dD), 6).as("se_log_or"))
    },

    // Order-level SLA attainment per priority: an order counts as fully
    // shipped only at its LAST line's ship date (max lag — the q280
    // percentiles are line-level; this is the order-level contract
    // view). Share of orders fully shipped within 30/60/90 days, exact
    // integer counts, three double divisions per priority.
    "q300_order_sla" -> { (s, d) =>
      val lag = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(max(datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date"))).cast("long").as("_lag"))
      lag.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("_lag") <= 30, 1L).otherwise(0L)).as("_w30"),
          sum(when(col("_lag") <= 60, 1L).otherwise(0L)).as("_w60"),
          sum(when(col("_lag") <= 90, 1L).otherwise(0L)).as("_w90"))
        .select(col("o_orderpriority"), col("n_orders"),
          fr(col("_w30").cast("double")
            / col("n_orders").cast("double"), 6).as("sla_30d"),
          fr(col("_w60").cast("double")
            / col("n_orders").cast("double"), 6).as("sla_60d"),
          fr(col("_w90").cast("double")
            / col("n_orders").cast("double"), 6).as("sla_90d"))
        .orderBy("o_orderpriority")
    },

    // Promotion revenue share per ship month (TPC-H Q14 shape): the
    // conditional-aggregation share — discounted revenue is gridded to
    // exact cents PER LINE (one double multiply + floor, identical on
    // both engines), so the monthly share is a ratio of exact int64
    // sums. 84 months of output; one scan, map-side combined.
    "q302_promo_share" -> { (s, d) =>
      val revCents = floor(col("l_extendedprice")
        * (lit(1.0) - col("l_discount")) * lit(100.0) + lit(0.5))
        .cast("long")
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .withColumn("_rc", revCents)
        .groupBy(date_trunc("month", col("l_shipdate"))
          .cast("timestamp_ntz").as("ship_month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("p_type") === "PROMO", col("_rc"))
            .otherwise(0L)).as("_promo"),
          sum(col("_rc")).as("_total"))
        .select(col("ship_month"), col("n_lines"),
          fr(lit(100.0) * col("_promo").cast("double")
            / col("_total").cast("double"), 4).as("promo_share_pct"))
        .orderBy("ship_month")
    },

    // Customer order-count distribution (TPC-H Q13 shape): LEFT join so
    // zero-order customers land in the 0 bucket, then the count-of-
    // counts histogram — the classic "how engaged is the customer base"
    // distribution. All integer.
    "q303_cust_order_histogram" -> { (s, d) =>
      val perCust = Tables.customer(s, d)
        .join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
      perCust.groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("n_orders"))
    },

    // User lifespan census: active span (last − first active day) and
    // distinct active days per user, with exact p50/p90 span order
    // statistics off the cumulated span census plus exact int64 means —
    // the engagement-window profile beside survival (q226) and growth
    // accounting (q214).
    "q304_user_lifespan" -> { (s, d) =>
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(datediff(max(col("ts").cast("date")),
            min(col("ts").cast("date"))).cast("long").as("_span"),
          countDistinct(col("ts").cast("date")).as("_days"))
      val census = rankedCensus(users, lit(1), col("_span"))
        .withColumn("_k50", expr("(_n + 1) div 2"))
        .withColumn("_k90", expr("(9 * _n + 9) div 10"))
      def fence(k: String): Column =
        max(when(col("_cum") < col(k)
          && col("_cum") + col("_f") >= col(k), col("_v")))
      val pct = census.agg(max(col("_n")).as("n_users"),
        fence("_k50").as("p50_span_days"),
        fence("_k90").as("p90_span_days"))
      val means = users.agg(sum(col("_span")).as("_ss"),
        sum(col("_days")).as("_sd"), count(lit(1)).as("_nu"))
      pct.crossJoin(means)
        .select(col("n_users"), col("p50_span_days"),
          col("p90_span_days"),
          fr(col("_ss").cast("double") / col("_nu").cast("double"), 4)
            .as("mean_span_days"),
          fr(col("_sd").cast("double") / col("_nu").cast("double"), 4)
            .as("mean_active_days"))
    },

    // Hampel filter: robust outlier detection on the per-type daily
    // series via a ±3-day rolling window's median and MAD — the robust
    // sibling of the z-score screen (q120), immune to the outliers it
    // hunts. Window values are 4 dp-gridded int64; median and MAD use
    // the lower-median convention (element (m+1) div 2 of the sorted
    // window) so every order statistic is an exact integer on both
    // engines; the single 3·1.4826 = 4.4478 Gaussian-consistency
    // threshold is written as one literal so both engines compare the
    // identical double product. The rolling frame is a bounded 7 rows
    // per day — scan-shaped at any scale.
    "q305_hampel_filter" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x"))
        .withColumn("_w", array_sort(collect_list(col("_x")).over(w)))
        .withColumn("_med", expr("element_at(_w, cast((size(_w) + 1) div 2 as int))"))
        .withColumn("_devs", array_sort(
          transform(col("_w"), v => abs(v - col("_med")))))
        .withColumn("_mad",
          expr("element_at(_devs, cast((size(_devs) + 1) div 2 as int))"))
        .withColumn("_dev", abs(col("_x") - col("_med")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("_dev").cast("double")
            > lit(4.4478) * col("_mad").cast("double"), 1L)
            .otherwise(0L)).as("n_outliers"),
          fr(max(col("_dev")).cast("double") / lit(10000.0), 4)
            .as("max_abs_dev"))
        .orderBy("event_type")
    },

    // Permutation entropy (Bandt-Pompe, order 3): the ordinal-pattern
    // complexity of the per-type daily series — how predictable is the
    // day-over-day shape, the model-free cousin of ACF (q167) and
    // burstiness (q153). Each consecutive triple of 4 dp-gridded ints
    // maps to one of 27 tie-aware comparison codes (3 three-way signs,
    // base-3); pattern counts are exact ints and the Shannon fold runs
    // in pattern-code order (q161 rule), normalized by ln 6 — the 6
    // tie-free patterns of order 3.
    "q306_permutation_entropy" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      def sgn(a: Column, b: Column): Column =
        when(a > b, 2L).when(a === b, 1L).otherwise(0L)
      val pat = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x2"))
        .withColumn("_x0", lag(col("_x2"), 2).over(w))
        .withColumn("_x1", lag(col("_x2"), 1).over(w))
        .filter(col("_x0").isNotNull)
        .withColumn("_p", sgn(col("_x1"), col("_x0")) * 9
          + sgn(col("_x2"), col("_x1")) * 3 + sgn(col("_x2"), col("_x0")))
        .groupBy(col("event_type"), col("_p"))
        .agg(count(lit(1)).as("_np"))
      val tn = pat.groupBy(col("event_type")).agg(sum(col("_np")).as("_n"))
      pat.join(tn, Seq("event_type"))
        .withColumn("_term",
          -(col("_np").cast("double") / col("_n").cast("double"))
            * log(col("_np").cast("double") / col("_n").cast("double")))
        .groupBy(col("event_type"))
        .agg(max(col("_n")).as("n_triples"), count(lit(1)).as("n_patterns"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_p"), col("_term")))), e => e.getField("_term")),
            lit(0.0), (a, x) => a + x).as("_h"))
        .select(col("event_type"), col("n_triples"), col("n_patterns"),
          fr(col("_h"), 6).as("perm_entropy"),
          fr(col("_h") / log(lit(6.0)), 6).as("norm_entropy"))
        .orderBy("event_type")
    },

    // Cochran's Q: do the k event types occur with equal probability
    // within user-day blocks? The repeated-measures extension of
    // McNemar (q282) to k binary treatments — blocks are user-days
    // (user-level reach saturates at 100%), x_bj = "type j occurred
    // that user-day". Q = (k-1)·Σ_j(kC_j - N)² / (k·(kΣR - ΣR²)) keeps
    // every sum exact int64 (column/row totals ≤ user-days; the squared
    // deviations ≤ ~1e12); the single division is the only double. Two
    // scans of the distinct (user, day, type) triples — scan-shaped,
    // fixed-size aggregates only.
    "q307_cochran_q" -> { (s, d) =>
      val x = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"),
          col("event_type")).distinct()
      val kdf = x.agg(countDistinct(col("event_type")).as("_k"))
      val rsum = x.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("_r"))
        .agg(count(lit(1)).as("_nb"), sum(col("_r")).as("_n"),
          sum(col("_r") * col("_r")).as("_rr"))
      val csum = x.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_c"))
        .crossJoin(kdf).crossJoin(rsum)
        .agg(sum((col("_k") * col("_c") - col("_n"))
          * (col("_k") * col("_c") - col("_n"))).as("_devsq"))
      kdf.crossJoin(rsum).crossJoin(csum)
        .select(col("_k").as("k_treatments"), col("_nb").as("n_blocks"),
          (col("_k") - lit(1)).as("dof"),
          fr((col("_k") - lit(1)).cast("double") * col("_devsq")
            .cast("double")
            / (col("_k").cast("double")
              * (col("_k") * col("_n") - col("_rr")).cast("double")), 6)
            .as("q_stat"))
    },

    // Croston's method: intermittent-demand forecasting over the sparse
    // per-part daily demand series — the forecasting shape warehouses
    // actually need for slow movers, where Holt (q192) on the raw
    // (mostly-zero) series is biased. Demand sizes and inter-demand
    // gaps each get an α=0.2 EWMA over NONZERO demand days only (the
    // q168 fold, exact ints in, identical IEEE sequence on both
    // engines); the forecast per period is their ratio. Per-part
    // ordered lists are bounded by that part's demand days — the fold
    // never sees the calendar grid.
    "q308_croston" -> { (s, d) =>
      val wp = Window.partitionBy(col("l_partkey")).orderBy(col("day"))
      def ewma(c: Column): Column = {
        val vs = transform(array_sort(c), e => e.getField("_v"))
        aggregate(
          slice(vs, lit(2), greatest(size(vs) - 1, lit(0))),
          element_at(vs, 1),
          (acc, x) => lit(0.2) * x + lit(0.8) * acc)
      }
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_shipdate").as("day"))
        .agg((decSum(col("l_quantity")) * lit(10000))
          .cast("long").as("_q"))
        .withColumn("_gap",
          datediff(col("day"), lag(col("day"), 1).over(wp)).cast("long"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_demands"),
          ewma(collect_list(struct(col("day"),
            col("_q").cast("double").as("_v")))).as("_z"),
          ewma(collect_list(when(col("_gap").isNotNull,
            struct(col("day"), col("_gap").cast("double").as("_v")))))
            .as("_p"))
        .filter(col("n_demands") >= 2)
        .select(col("l_partkey"), col("n_demands"),
          fr(col("_z") / lit(10000.0), 6).as("z_smooth"),
          fr(col("_p"), 6).as("p_smooth"),
          fr(col("_z") / lit(10000.0) / col("_p"), 6)
            .as("croston_forecast"))
        .orderBy("l_partkey")
    },

    // Two-group log-rank test on time-to-first-purchase: do the A/B
    // arms (user_id parity, the q193 split) convert at the same rate?
    // The hypothesis-test companion to the Kaplan-Meier curve (q226):
    // at each distinct conversion day, observed arm-1 conversions vs
    // the at-risk-proportional expectation, with the hypergeometric
    // variance. At-risk counts come from a reverse-cumulative census
    // over distinct times (never a per-user correlated scan); E and V
    // terms fold in time order (q161 rule). Censoring: users who never
    // purchase are censored at their last active day.
    "q310_logrank" -> { (s, d) =>
      val su = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("_d0"),
          max(col("ts").cast("date")).as("_dmax"),
          min(when(col("event_type") === "purchase",
            col("ts").cast("date"))).as("_dp"))
        .select((col("user_id") % 2).as("_arm"),
          when(col("_dp").isNotNull, datediff(col("_dp"), col("_d0")))
            .otherwise(datediff(col("_dmax"), col("_d0")))
            .cast("long").as("_t"),
          when(col("_dp").isNotNull, 1L).otherwise(0L).as("_death"))
      val census = su.groupBy(col("_t"))
        .agg(count(lit(1)).as("_f"),
          sum(when(col("_arm") === 1, 1L).otherwise(0L)).as("_f1"),
          sum(col("_death")).as("_dt"),
          sum(when(col("_arm") === 1, col("_death")).otherwise(0L))
            .as("_d1t"))
      val wDesc = Window.orderBy(col("_t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val atrisk = census
        .withColumn("_nt", sum(col("_f")).over(wDesc))
        .withColumn("_n1t", sum(col("_f1")).over(wDesc))
        .filter(col("_dt") > 0)
      val terms = atrisk
        .withColumn("_e1", col("_dt").cast("double")
          * col("_n1t").cast("double") / col("_nt").cast("double"))
        .withColumn("_v", when(col("_nt") > 1,
          col("_dt").cast("double")
            * (col("_n1t").cast("double") / col("_nt").cast("double"))
            * (lit(1.0) - col("_n1t").cast("double")
              / col("_nt").cast("double"))
            * ((col("_nt") - col("_dt")).cast("double")
              / (col("_nt") - lit(1)).cast("double"))).otherwise(lit(0.0)))
      def fold(c: String): Column =
        aggregate(transform(array_sort(collect_list(
          struct(col("_t"), col(c)))), e => e.getField(c)),
          lit(0.0), (a, x) => a + x)
      val nu = su.agg(count(lit(1)).as("n_users"))
      terms.agg(sum(col("_dt")).as("n_events"), sum(col("_d1t")).as("o1"),
          fold("_e1").as("_se"), fold("_v").as("_sv"))
        .crossJoin(nu)
        .select(col("n_users"), col("n_events"), col("o1"),
          fr(col("_se"), 6).as("e1"),
          fr((col("o1").cast("double") - col("_se"))
            * (col("o1").cast("double") - col("_se")) / col("_sv"), 6)
            .as("logrank_chi2"))
    },

    // Turning-point randomness test per event type: count strict local
    // extrema of the daily series and compare with the i.i.d.
    // expectation E[T] = 2(n-2)/3, Var[T] = (16n-29)/90 — the
    // peak/trough complement to the sign-based runs test (q222). Counts
    // are exact ints off lag/lead over the bounded daily grid; the z is
    // the only double math.
    "q311_turning_points" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x"))
        .withColumn("_xp", lag(col("_x"), 1).over(w))
        .withColumn("_xn", lead(col("_x"), 1).over(w))
        .filter(col("_xp").isNotNull && col("_xn").isNotNull)
        .groupBy(col("event_type"))
        .agg((count(lit(1)) + lit(2)).as("_n"),
          sum(when((col("_x") > col("_xp") && col("_x") > col("_xn"))
            || (col("_x") < col("_xp") && col("_x") < col("_xn")), 1L)
            .otherwise(0L)).as("_t"))
        .select(col("event_type"), col("_n").as("n_days"),
          col("_t").as("turning_points"),
          fr(lit(2.0) * (col("_n") - lit(2)).cast("double") / lit(3.0), 4)
            .as("expected_tp"),
          fr((col("_t").cast("double")
            - lit(2.0) * (col("_n") - lit(2)).cast("double") / lit(3.0))
            / sqrt((lit(16.0) * col("_n").cast("double") - lit(29.0))
              / lit(90.0)), 4).as("z"))
        .orderBy("event_type")
    },

    // Gumbel fit on weekly block maxima (extreme value theory): method-
    // of-moments location/scale from the exact integer maxima of the
    // daily grid, plus the 99% return level — the tail-risk view beside
    // historical VaR (q170), which never extrapolates past the sample.
    // γ and √6/π enter as single literals so both engines multiply the
    // identical constants; sqrt is IEEE-correctly-rounded, so the only
    // libm risk is absorbed by the 4 dp grid.
    "q312_gumbel_maxima" -> { (s, d) =>
      val c6pi = lit(0.7796968012336761)  // sqrt(6)/pi
      val gamma = lit(0.5772156649015329) // Euler-Mascheroni
      val q99 = lit(4.600149226776579)    // -ln(-ln 0.99)
      val mom = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x"))
        .groupBy(col("event_type"),
          floor(datediff(col("day"), lit("2024-01-01").cast("date"))
            / lit(7)).cast("long").as("_w"))
        .agg(max(col("_x")).as("_m"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("_nb"), sum(col("_m")).as("_s"),
          sum(col("_m") * col("_m")).as("_ss"))
      val fit = mom
        .withColumn("_mean", col("_s").cast("double")
          / col("_nb").cast("double") / lit(10000.0))
        .withColumn("_sd", sqrt((col("_nb") * col("_ss")
          - col("_s") * col("_s")).cast("double")
          / (col("_nb") * (col("_nb") - 1)).cast("double")) / lit(10000.0))
      fit.select(col("event_type"), col("_nb").as("n_blocks"),
          fr(col("_mean") - gamma * (col("_sd") * c6pi), 4)
            .as("gumbel_mu"),
          fr(col("_sd") * c6pi, 4).as("gumbel_beta"),
          fr(col("_mean") - gamma * (col("_sd") * c6pi)
            + col("_sd") * c6pi * q99, 4).as("ret_level_p99"))
        .orderBy("event_type")
    },

    // Record-day census per event type: strict running-maximum days of
    // the daily series vs the i.i.d. expectation H_n (records in a
    // random permutation) — "is the metric still setting highs at the
    // rate chance predicts, or trending?" The harmonic sum folds over
    // sequence(1..n) in index order on both engines.
    "q313_record_days" -> { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x"))
        .withColumn("_pm", max(col("_x")).over(w))
        .withColumn("_rec",
          col("_pm").isNull || col("_x") > col("_pm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("_rec"), 1L).otherwise(0L)).as("n_records"),
          max(when(col("_rec"), col("day"))).as("last_record_day"))
        .withColumn("expected_records",
          fr(aggregate(transform(sequence(lit(1), col("n_days").cast("int")),
            i => lit(1.0) / i.cast("double")), lit(0.0), (a, x) => a + x),
            6))
        .select(col("event_type"), col("n_days"), col("n_records"),
          col("expected_records"), col("last_record_day"))
        .orderBy("event_type")
    },

    // Weibull reliability fit on time-to-first-purchase (t = days + 1 so
    // day-one converters stay in the log domain): Bernard median ranks
    // F_i = (i - 0.3)/(n + 0.4) over the cumulated census, then the
    // Weibull-plot OLS of ln(-ln(1-F)) on ln t gives shape k and scale
    // λ = exp(-b/k) — the parametric companion to the nonparametric
    // KM/log-rank pair (q226/q310). Regression sums fold in t order
    // over the bounded distinct-time census.
    "q315_weibull_fit" -> { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts").cast("date")).as("_d0"),
          min(when(col("event_type") === "purchase",
            col("ts").cast("date"))).as("_dp"))
        .filter(col("_dp").isNotNull)
        .select((datediff(col("_dp"), col("_d0")) + lit(1))
          .cast("long").as("_t"))
      val wAsc = Window.orderBy(col("_t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cc = u.groupBy(col("_t")).agg(count(lit(1)).as("_f"))
        .withColumn("_i", sum(col("_f")).over(wAsc))
        .withColumn("_n", sum(col("_f")).over(
          Window.orderBy(col("_t"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
      val pts = cc
        .withColumn("_lx", log(col("_t").cast("double")))
        .withColumn("_ly", log(-log(lit(1.0)
          - (col("_i").cast("double") - lit(0.3))
            / (col("_n").cast("double") + lit(0.4)))))
      def fold(c: Column): Column =
        aggregate(transform(array_sort(collect_list(
          struct(col("_t"), c.as("_v")))), e => e.getField("_v")),
          lit(0.0), (a, x) => a + x)
      val sums = pts.agg(count(lit(1)).as("_m"), max(col("_n")).as("_nu"),
        fold(col("_lx")).as("_sx"), fold(col("_ly")).as("_sy"),
        fold(col("_lx") * col("_ly")).as("_sxy"),
        fold(col("_lx") * col("_lx")).as("_sxx"))
      sums
        .withColumn("_k", (col("_m").cast("double") * col("_sxy")
          - col("_sx") * col("_sy"))
          / (col("_m").cast("double") * col("_sxx")
            - col("_sx") * col("_sx")))
        .withColumn("_b", (col("_sy") - col("_k") * col("_sx"))
          / col("_m").cast("double"))
        .select(col("_nu").as("n_users"), col("_m").as("n_points"),
          fr(col("_k"), 4).as("weibull_shape"),
          fr(exp(-col("_b") / col("_k")), 4).as("weibull_scale"))
    },

    // Backlog aging snapshot: orders placed by 1997-06-30 with any line
    // still unshipped at that date, bucketed by order age × priority
    // with exact cent totals — the point-in-time WIP census beside the
    // blame view (q251) and the SLA contract view (q300). One semi-join
    // (EXISTS) against the late lines, then pure aggregates.
    "q316_backlog_aging" -> { (s, d) =>
      val snap = lit("1997-06-30").cast("date")
      val late = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > snap)
        .select(col("l_orderkey"))
      val open = Tables.orders(s, d)
        .filter(col("o_orderdate") <= snap)
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .withColumn("_age", datediff(snap, col("o_orderdate")))
      open
        .withColumn("bucket",
          when(col("_age") <= 30, "a_0_30")
            .when(col("_age") <= 90, "b_31_90")
            .when(col("_age") <= 180, "c_91_180")
            .otherwise("d_180_plus"))
        .groupBy(col("o_orderpriority"), col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
            .cast("long")).as("value_cents"))
        .orderBy("o_orderpriority", "bucket")
    },

    // Schuster periodogram per event type: spectral power of the daily
    // series at candidate periods 2..15 days, reporting the dominant
    // period — the frequency-domain seasonality detector beside the
    // time-domain ACF (q167) and STL (q231) views (it finds the weekly
    // cycle q178 assumes). cos/sin values snap to a 1e-12 grid before
    // use so a last-ulp libm difference can't reorder the argmax; the
    // centered series is exact rationals, folds run in day-index order,
    // and the peak pick is a scalar min(struct(-power, p)) aggregate.
    "q317_periodogram" -> { (s, d) =>
      val wt = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      def snap12(c: Column): Column =
        floor(c * lit(1000000000000.0) + lit(0.5)) / lit(1000000000000.0)
      val idx = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x"))
        .withColumn("_t", row_number().over(wt).cast("long"))
        .withColumn("_n", count(lit(1)).over(wAll))
        .withColumn("_s", sum(col("_x")).over(wAll))
        .withColumn("_c", (col("_n") * col("_x") - col("_s"))
          .cast("double") / col("_n").cast("double"))
      val theta = (lit(2.0) * lit(math.Pi) * col("_t").cast("double")
        / col("_p").cast("double"))
      val terms = idx
        .withColumn("_p", explode(sequence(lit(2), lit(15))))
        .withColumn("_ct", col("_c") * snap12(cos(theta)))
        .withColumn("_st", col("_c") * snap12(sin(theta)))
      def fold(c: Column): Column =
        aggregate(transform(array_sort(collect_list(
          struct(col("_t"), c.as("_v")))), e => e.getField("_v")),
          lit(0.0), (a, x) => a + x)
      terms.groupBy(col("event_type"), col("_p"))
        .agg(max(col("_n")).as("_nn"),
          fold(col("_ct")).as("_sc"), fold(col("_st")).as("_ss"))
        .withColumn("_pw", lit(2.0) / col("_nn").cast("double")
          * (col("_sc") * col("_sc") + col("_ss") * col("_ss"))
          / lit(100000000.0))
        .groupBy(col("event_type"))
        .agg(max(col("_nn")).as("n_days"),
          min(struct((-col("_pw")).as("np"), col("_p").as("p"),
            col("_pw").as("pw"))).as("_m"))
        .select(col("event_type"), col("n_days"),
          col("_m.p").cast("long").as("peak_period"),
          fr(col("_m.pw"), 4).as("peak_power"))
        .orderBy("event_type")
    },

    // Jonckheere-Terpstra ordered-alternative trend test: is event value
    // stochastically increasing across the 5 event types in their fixed
    // (alphabetical) order? J = Σ_{g<h} U_gh via per-group value-census
    // joins on the shared distinct-cents grid — never a row-level pair
    // join; ties add ½ (J is kept doubled so everything stays int64).
    // The z uses the classic no-ties moments, documented as the normal
    // approximation. Distinct from Mann-Kendall (time trend, q243) and
    // Kruskal-Wallis (unordered groups, q263).
    "q318_jonckheere" -> { (s, d) =>
      jonckheereZ(Tables.events(s, d)
        .select(col("event_type").as("_g"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x")))
    },

    // Safety stock + reorder point per part (lead time 7 days, 95%
    // service level): the operational consumer of the demand statistics
    // Croston (q308) smooths — ROP = μ_d·L + z·σ_d·√L from exact int64
    // demand-day sums, z and √7 as shared literals. Per-part fixed-size
    // aggregates; the bounded HAVING keeps σ defined.
    "q319_safety_stock" -> { (s, d) =>
      val z95 = lit(1.6448536269514722)
      val sqL = lit(2.6457513110645907) // sqrt(7)
      val st = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_shipdate").as("day"))
        .agg((decSum(col("l_quantity")) * lit(10000)).cast("long").as("_q"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("_nd"), sum(col("_q")).as("_s"),
          sum(col("_q") * col("_q")).as("_ss"))
        .filter(col("_nd") >= 2)
      val sd = (sqrt((col("_nd") * col("_ss") - col("_s") * col("_s"))
        .cast("double")
        / (col("_nd") * (col("_nd") - 1)).cast("double")) / lit(10000.0))
      val mean = (col("_s").cast("double") / col("_nd").cast("double")
        / lit(10000.0))
      st.select(col("l_partkey"), col("_nd").as("n_demand_days"),
          fr(mean, 4).as("mean_daily_qty"),
          fr(sd, 4).as("sd_daily_qty"),
          fr(z95 * sd * sqL, 4).as("safety_stock"),
          fr(mean * lit(7.0) + z95 * sd * sqL, 4).as("reorder_point"))
        .orderBy("l_partkey")
    },

    // Large-volume customers, TPC-H Q18 shape: orders whose total line
    // quantity exceeds 2.5× the mean order quantity (adaptive — a fixed
    // Q18-style constant returns nothing or everything as the catalog
    // scales), joined back to orders and customer, top-100 under a
    // total order. The grouped-HAVING-against-a-scalar + join-back
    // signature completes the Q1/Q13/Q14/Q21 family; quantities and the
    // threshold come from exact int64 sums.
    "q321_large_orders" -> { (s, d) =>
      val oq = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(decSum(col("l_quantity")).cast("long").as("total_qty"))
      val thr = oq.agg(sum(col("total_qty")).as("_sq"),
        count(lit(1)).as("_no"))
      oq.crossJoin(thr)
        .filter(col("total_qty").cast("double")
          > lit(2.5) * (col("_sq").cast("double") / col("_no")
            .cast("double")))
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
            .as("price_cents"),
          col("total_qty"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(100)
    },

    // Dormant high-balance prospects per nation, TPC-H Q22 shape:
    // customers with an account balance above the average POSITIVE
    // balance and no order since 2000 (left-anti join on the recency
    // window — the catalog's last 20 months), censused per nation: the
    // scalar-subquery + anti-join signature. Balances in exact cents;
    // the single threshold division is the only double.
    "q322_dormant_customers" -> { (s, d) =>
      val cust = Tables.customer(s, d)
        .withColumn("_cents",
          floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long"))
      val thr = cust.filter(col("_cents") > 0)
        .agg(sum(col("_cents")).as("_sb"), count(lit(1)).as("_nb"))
      cust.crossJoin(thr)
        .filter(col("_cents").cast("double")
          > col("_sb").cast("double") / col("_nb").cast("double"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("date")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("_cents")).as("balance_cents"))
        .orderBy("n_name")
    },

    // Capture-recapture population estimate (Chapman's bias-corrected
    // Lincoln-Petersen): estimate the total user population from two
    // disjoint 3-hour activity samples and their overlap — the ecology
    // estimator data teams reuse to size dedup coverage and hidden
    // populations. Sampled beside the known truth so the output
    // demonstrates estimator quality (145.4 vs 150 at sf0.01, 1498.6 vs
    // 1500 at sf0.1). All counts exact; the estimate and SE are the
    // only doubles.
    "q324_capture_recapture" -> { (s, d) =>
      def window(from: String, to: String) =
        Tables.events(s, d)
          .filter(col("ts") >= lit(from).cast("timestamp")
            && col("ts") < lit(to).cast("timestamp"))
          .select(col("user_id")).distinct()
      val w1 = window("2024-01-10 09:00:00", "2024-01-10 12:00:00")
      val w2 = window("2024-01-20 15:00:00", "2024-01-20 18:00:00")
      val m = w1.agg(count(lit(1)).as("n1"))
        .crossJoin(w2.agg(count(lit(1)).as("n2")))
        .crossJoin(w1.join(w2, Seq("user_id"))
          .agg(count(lit(1)).as("m12")))
        .crossJoin(Tables.events(s, d)
          .agg(countDistinct(col("user_id")).as("true_users")))
      m.select(col("n1"), col("n2"), col("m12"), col("true_users"),
        fr(((col("n1") + lit(1)) * (col("n2") + lit(1))).cast("double")
          / (col("m12") + lit(1)).cast("double") - lit(1.0), 4)
          .as("chapman_estimate"),
        fr(sqrt(((col("n1") + lit(1)) * (col("n2") + lit(1)))
          .cast("double")
          * ((col("n1") - col("m12")) * (col("n2") - col("m12")))
            .cast("double")
          / ((col("m12") + lit(1)).cast("double")
            * (col("m12") + lit(1)).cast("double")
            * (col("m12") + lit(2)).cast("double"))), 4).as("se"))
    },

    // Wilcoxon signed-rank test: did per-user activity change between
    // week 1 and week 2? The PAIRED nonparametric test beside unpaired
    // Mann-Whitney (q262) — zero diffs drop, |diff| ties take average
    // ranks off the cumulated census (kept doubled so every rank sum
    // stays int64), and the normal approximation carries the exact tie
    // correction Σ(t³−t)/48.
    "q325_wilcoxon_signed_rank" -> { (s, d) =>
      wilcoxonSignedRank(Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg((sum(when(col("ts").cast("date")
            .between(lit("2024-01-01"), lit("2024-01-07")), 1L)
            .otherwise(0L))
          - sum(when(col("ts").cast("date")
            .between(lit("2024-01-08"), lit("2024-01-14")), 1L)
            .otherwise(0L))).as("_d")))
    },

    // Hill tail-index estimator on order values: γ̂ = (1/k)Σ ln(x_i /
    // x_(k+1)) over the k = ⌊n/20⌋ largest observations, located by
    // cumulating the value census from the top (the q170 VaR device) —
    // the peaks-over-threshold EVT companion to the block-maxima Gumbel
    // fit (q312). Exact cents everywhere; the log fold runs in value
    // order over the bounded top-k census.
    "q326_hill_tail" -> { (s, d) =>
      val c = Tables.orders(s, d)
        .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
          .cast("long").as("_x"))
        .groupBy(col("_x")).agg(count(lit(1)).as("_f"))
      val k0 = c.agg(sum(col("_f")).as("_n"))
        .withColumn("_k", expr("_n div 20"))
      // Sizing-gated census cumsum (r17): the order-value cents census
      // grows with the catalog; the top-down cumulation decomposes too.
      val cc = gatedCensusCumsum(c, keys = Nil,
          order = Seq(col("_x").desc), valueCol = "_f",
          inclusive = false, cumName = "_above", totName = None)
        .crossJoin(k0)
      val thr = cc
        .filter(col("_above") + col("_f") >= col("_k") + 1
          && col("_above") < col("_k") + 1)
        .agg(max(col("_x")).as("_xk1"))
      val topk = cc.filter(col("_above") < col("_k"))
        .withColumn("_fk", least(col("_f"), col("_k") - col("_above")))
        .crossJoin(thr)
        .withColumn("_term", col("_fk").cast("double")
          * log(col("_x").cast("double") / col("_xk1").cast("double")))
      topk
        .agg(max(col("_n")).as("n_orders"), sum(col("_fk")).as("k_tail"),
          max(col("_xk1")).as("threshold_cents"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_x"), col("_term")))), e => e.getField("_term")),
            lit(0.0), (a, x) => a + x).as("_sl"))
        .select(col("n_orders"), col("k_tail"), col("threshold_cents"),
          fr(col("_sl") / col("k_tail").cast("double"), 4)
            .as("hill_gamma"),
          fr(col("k_tail").cast("double") / col("_sl"), 4)
            .as("tail_alpha"))
    },

    // Mood's median test: do the k event types share one median? Count
    // per-type observations above the exact grand median (census fence,
    // the q17 device) and chi-square them against the pooled
    // above-share — the coarser, outlier-immune cousin of
    // Kruskal-Wallis (q263). All counts exact; per-group chi terms fold
    // in type order (q161 rule).
    "q327_mood_median" -> { (s, d) =>
      val v = Tables.events(s, d)
        .select(col("event_type").as("_g"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
            .as("_x"))
      // Sizing-gated census cumsum (r17): q262's grid; totOrdered keeps
      // the one-Window gate-scale plan (cum + total share the spec)
      val med = gatedCensusCumsum(
        v.groupBy(col("_x")).agg(count(lit(1)).as("_f")),
        keys = Nil, order = Seq(col("_x")), valueCol = "_f",
        inclusive = false, cumName = "_cum", totName = Some("_n"),
        totOrdered = true)
        .agg(max(when(col("_cum") < expr("(_n + 1) div 2")
          && col("_cum") + col("_f") >= expr("(_n + 1) div 2"),
          col("_x"))).as("_m"))
      val cnt = v.crossJoin(med)
        .groupBy(col("_g"))
        .agg(count(lit(1)).as("_gn"),
          sum(when(col("_x") > col("_m"), 1L).otherwise(0L)).as("_a"),
          max(col("_m")).as("_m"))
      val tot = cnt.agg(sum(col("_gn")).as("_nt"), sum(col("_a")).as("_at"))
      val terms = cnt.crossJoin(tot)
        .withColumn("_e", col("_gn").cast("double")
          * col("_at").cast("double") / col("_nt").cast("double"))
        .withColumn("_t", (col("_a").cast("double") - col("_e"))
          * (col("_a").cast("double") - col("_e"))
          / (col("_e") * (lit(1.0) - col("_at").cast("double")
            / col("_nt").cast("double"))))
      terms.agg(max(col("_nt")).as("n_total"), max(col("_m"))
          .as("grand_median_cents"),
          (count(lit(1)) - lit(1)).as("dof"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_g"), col("_t")))), e => e.getField("_t")),
            lit(0.0), (a, x) => a + x).as("_x2"))
        .select(col("n_total"), col("grand_median_cents"), col("dof"),
          fr(col("_x2"), 4).as("chi2"))
    },

    // Price-volume bridge per brand, 1997 → 1998: decompose each
    // brand's revenue change into volume effect (Δq · p₀) and price
    // effect (Δp · q₁) — the FP&A waterfall behind every "why did
    // revenue move" review. The two effects close the bridge EXACTLY
    // (vol + price = ΔR, float-residue only); inputs are exact int64
    // cents/quantities, the two average prices the only divisions.
    // One grouped scan of the two-year slice, then a 25-brand pivot.
    "q328_price_volume_bridge" -> { (s, d) =>
      val y = Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(lit("1997-01-01"),
          lit("1998-12-31")))
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          when(col("l_shipdate") <= lit("1997-12-31"), 0L).otherwise(1L)
            .as("_yr"))
        .agg(decSum(col("l_quantity")).cast("long").as("_q"),
          sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
            .cast("long")).as("_rev"))
      val w = y.groupBy(col("p_brand"))
        .agg(max(when(col("_yr") === 0, col("_q"))).as("q0"),
          max(when(col("_yr") === 0, col("_rev"))).as("r0"),
          max(when(col("_yr") === 1, col("_q"))).as("q1"),
          max(when(col("_yr") === 1, col("_rev"))).as("r1"))
        .filter(col("q0").isNotNull && col("q1").isNotNull)
      w.select(col("p_brand"), col("q0"), col("q1"), col("r0"), col("r1"),
          fr((col("q1").cast("double") - col("q0").cast("double"))
            * (col("r0").cast("double") / col("q0").cast("double")), 2)
            .as("volume_effect_cents"),
          fr((col("r1").cast("double") / col("q1").cast("double")
            - col("r0").cast("double") / col("q0").cast("double"))
            * col("q1").cast("double"), 2).as("price_effect_cents"),
          (col("r1") - col("r0")).as("delta_cents"))
        .orderBy("p_brand")
    },

    // SAX symbolization (Lin/Keogh): z-score each type's daily series
    // against its own exact-moment mean/sd and map to a 4-letter
    // alphabet at the N(0,1) quartile breakpoints — the discretization
    // under time-series motif/anomaly mining, beside the numeric views
    // (ACF q167, periodogram q317). z values come from identical
    // int-exact arithmetic on both engines, so the letter comparisons
    // cannot straddle an ulp; the word concatenates in day order.
    "q329_sax_words" -> { (s, d) =>
      val bp = lit(0.6744897501960817) // N(0,1) upper quartile
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
          * lit(10000.0) + lit(0.5)).cast("long").as("_x"))
      val mom = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
          sum(col("_x") * col("_x")).as("_ss"))
      daily.join(mom, Seq("event_type"))
        .withColumn("_z",
          (col("_n") * col("_x") - col("_s")).cast("double")
            / col("_n").cast("double")
            / sqrt((col("_n") * col("_ss") - col("_s") * col("_s"))
              .cast("double")
              / (col("_n") * (col("_n") - 1)).cast("double")))
        .withColumn("_sym", when(col("_z") < -bp, "a")
          .when(col("_z") < 0.0, "b")
          .when(col("_z") < bp, "c").otherwise("d"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          concat_ws("", transform(array_sort(collect_list(
            struct(col("day"), col("_sym")))), e => e.getField("_sym")))
            .as("sax_word"),
          countDistinct(col("_sym")).as("n_symbols"))
        .orderBy("event_type")
    },

    // ABC-XYZ planning matrix: cross the q218 revenue-concentration
    // classes (A ≤80% cum share, B ≤95%, C rest) with demand-
    // variability classes off the q319 statistics (X: CV<0.5 steady,
    // Y: CV<1, Z: erratic) — the 9-cell census inventory planners
    // actually steer by (AX = automate, CZ = make-to-order). Exact
    // int64 revenue/demand sums; the CV and share cuts are the only
    // doubles, identical literal arithmetic both engines.
    "q330_abc_xyz" -> { (s, d) =>
      // One scan, no join (r17, guide §1.2/§2.4): the revenue census and
      // the per-day demand census used to be two separate lineitem scans
      // joined back on l_partkey. Per-part revenue is the sum of the
      // per-(part, day) cent sums (exact associative int64), so both
      // censuses fall out of ONE (part, day) grouping regrouped by part —
      // the join disappears and lineitem is read once. The day-level
      // cents regrouped per part equal the old direct per-part sum row
      // for row, so the window classing downstream is untouched.
      val dem = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_shipdate"))
        .agg((decSum(col("l_quantity")) * lit(10000)).cast("long")
          .as("_q"),
          sum(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
            .cast("long")).as("_rd"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("_nd"), sum(col("_q")).as("_s"),
          sum(col("_q") * col("_q")).as("_ss"), sum(col("_rd")).as("_r"))
        .filter(col("_nd") >= 2)
      val cv = (sqrt((col("_nd") * col("_ss") - col("_s") * col("_s"))
        .cast("double")
        / (col("_nd") * (col("_nd") - 1)).cast("double"))
        / (col("_s").cast("double") / col("_nd").cast("double")))
      // Sizing-gated cumulative-share windows (r17, guide §2.5): the ABC
      // classing cumulates revenue over the PART census in (_r desc,
      // l_partkey) order — at gate scale a cheap single window, at 100 TB
      // a single task over ~10⁹ parts. Past the at-scale threshold the
      // census is RANGE-partitioned by the same total order (boundaries
      // come from sampling, but every row of range i precedes every row
      // of range j>i, and (_r, l_partkey) has no ties — so per-row sums
      // are boundary-independent): within-range windows run parallel,
      // exclusive range offsets cumulate over the bounded per-range
      // totals census, and the grand total rides the same census.
      // ScaleWindowGateSpec proves both sides row-identical.
      val classed =
        if (graft.core.Sizing.leafScanBytes(Tables.lineitem(s, d)) <=
            graft.core.Sizing.fanoutCkptBytes) {
          val wCum = Window.orderBy(col("_r").desc, col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val wAll = Window.orderBy(col("_r").desc, col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)
          dem
            .withColumn("_cumr", sum(col("_r")).over(wCum))
            .withColumn("_totr", sum(col("_r")).over(wAll))
        } else {
          // one materialized snapshot: offsets and the main branch must
          // see the SAME range boundaries (two instantiations of a range
          // exchange sample independently — exchange reuse is an
          // optimization, not a contract), and _pid must be stable
          // across both reads
          val ranged = dem
            .repartitionByRange(col("_r").desc, col("l_partkey"))
            .withColumn("_pid", spark_partition_id())
            .localCheckpoint()
          val wP = Window.orderBy(col("_pid"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val wPAll = Window.partitionBy()
          val offsets = ranged.groupBy(col("_pid"))
            .agg(sum(col("_r")).as("_pr"))
            .select(col("_pid"),
              coalesce(sum(col("_pr")).over(wP), lit(0L)).as("_off"),
              sum(col("_pr")).over(wPAll).as("_totr"))
          val wIn = Window.partitionBy(col("_pid"))
            .orderBy(col("_r").desc, col("l_partkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          ranged
            .withColumn("_rs", sum(col("_r")).over(wIn))
            .join(broadcast(offsets), Seq("_pid"))
            .withColumn("_cumr", col("_off") + col("_rs"))
        }
      classed
        .withColumn("abc",
          when(col("_cumr").cast("double")
            <= lit(0.8) * col("_totr").cast("double"), "A")
            .when(col("_cumr").cast("double")
              <= lit(0.95) * col("_totr").cast("double"), "B")
            .otherwise("C"))
        .withColumn("xyz", when(cv < 0.5, "X").when(cv < 1.0, "Y")
          .otherwise("Z"))
        .groupBy(col("abc"), col("xyz"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("abc", "xyz")
    }
  )

  /** One-way ANOVA F assembly shared by q264 (Brown-Forsythe, on
    * median-centered absolute deviations) and q272 (classic, on raw
    * cents): input is (event_type, _z) rows with _z an exact int64;
    * per-group Σz/Σz² stay exact, and the between/within sum-of-squares
    * assembly runs in double from those integers with the per-group
    * terms folded in event_type order (q161 rule).
    */
  private def onewayF(z: DataFrame, outName: String): DataFrame = {
    val perGroup = z.groupBy(col("event_type"))
      .agg(count(lit(1)).as("_n"), sum(col("_z")).as("_s"),
        sum(col("_z") * col("_z")).as("_q"))
      .withColumn("_between",
        col("_s").cast("double") * col("_s").cast("double")
          / col("_n").cast("double"))
      .withColumn("_within",
        col("_q").cast("double") - col("_between"))
    def fold(termCol: String): Column =
      aggregate(transform(array_sort(collect_list(
        struct(col("event_type"), col(termCol)))),
        e => e.getField(termCol)), lit(0.0), (a, x) => a + x)
    perGroup.agg(
        sum(col("_n")).as("_N"), count(lit(1)).as("n_groups"),
        sum(col("_s")).as("_S"),
        fold("_between").as("_sb"), fold("_within").as("_ssw"))
      .select(col("_N").as("n_total"), col("n_groups"),
        (col("n_groups") - lit(1)).as("dof1"),
        (col("_N") - col("n_groups")).as("dof2"),
        fr(((col("_sb")
          - col("_S").cast("double") * col("_S").cast("double")
            / col("_N").cast("double"))
          / (col("n_groups") - lit(1)).cast("double"))
          / (col("_ssw")
            / (col("_N") - col("n_groups")).cast("double")), 6)
          .as(outName))
  }

  /** Cumulated (key, value, freq) census — the shared substrate of every
    * order-statistic query (q170/q171/q172/q177/q181 and the q136/q160
    * family): one row per DISTINCT value per key with its frequency, the
    * cumulative frequency strictly below it, and the key's total count.
    * The k-th smallest value per key is then the census row whose run
    * contains rank k: `_cum < k && _cum + _f >= k`. Windows cumulate over
    * distinct values only — the 100 TB contract is that no sort or rank
    * ever touches raw rows. Extracted so the property suite can pin the
    * rank-selection identity against an independent sorted reference.
    */
  private[graft] def rankedCensus(df: DataFrame, keyCol: Column,
                                  vExpr: Column): DataFrame =
    gatedCensusCumsum(
      df.select(keyCol.as("_key"), vExpr.as("_v"))
        .groupBy(col("_key"), col("_v")).agg(count(lit(1)).as("_f")),
      keys = Seq("_key"), order = Seq(col("_v")), valueCol = "_f",
      inclusive = false, cumName = "_cum", totName = Some("_n"))

  /** Sizing-gated running sum over a census (r17, guide §2.5): adds
    * `cumName` = sum(`valueCol`) over (PARTITION BY `keys` ORDER BY
    * `order` ROWS UNBOUNDED PRECEDING .. {CURRENT ROW | -1}) and, when
    * asked, `totName` = the per-key total. `census` must be DISTINCT on
    * (keys ++ order) — the range order below needs to be total — and
    * `valueCol` must be int64 (the zero seed and offset adds are longs).
    *
    * Below the at-scale threshold the sums ride the lazy window —
    * identical plan to the hand-written form, so the gate-scale bench
    * baselines and PlanSpec pins are untouched. Above it (a census whose
    * distinct-value domain grows with the data: customer revenue totals,
    * order-price cents — the keyless single-task trap at 100 TB) the
    * census RANGE-partitions by (keys ++ order) off ONE localCheckpoint
    * snapshot (offsets and rows must see the SAME sampled boundaries —
    * exchange reuse is an optimization, not a contract): within-range
    * running sums run parallel, and the exclusive per-(key, range)
    * offsets cumulate over the bounded per-range census. Row-identical on
    * both sides — ScaleWindowGateSpec; the boundary split is
    * value-neutral because the order is total (no ties to straddle a
    * range edge).
    */
  private[graft] def gatedCensusCumsum(census: DataFrame, keys: Seq[String],
      order: Seq[Column], valueCol: String, inclusive: Boolean,
      cumName: String, totName: Option[String],
      force: Boolean = false, totOrdered: Boolean = false): DataFrame =
    gatedCensusCumsumMulti(census, keys, order,
      Seq((valueCol, cumName, totName)), inclusive, force, totOrdered)

  /** Multi-column core of [[gatedCensusCumsum]]: each `(valueCol,
    * cumName, totName)` entry gets its running sum (and optional per-key
    * total) over the SAME (keys, order) spec — one range snapshot, one
    * offsets broadcast for all of them (q143/q288 cumulate two
    * frequencies over one merged census). `force = true` skips the leaf
    * gate and always decomposes: a caller that chains a second
    * decomposition on top of a first one (q253's two rankings) sees only
    * the first call's localCheckpoint leaf — zero scan bytes — so the
    * gate alone would silently hand the second ranking back to a lazy
    * single-task window at scale.
    */
  /** `totOrdered` emits the lazy branch's per-key total over the SAME
    * ordered spec as the running sum with an unbounded-following frame
    * (one Window operator for cum + total — q327's hand-written plan)
    * instead of an unordered Window.partitionBy (rankedCensus's plan);
    * value-identical, chosen per call site to keep the gate-scale plan
    * byte-stable. The decomposed branch is unaffected (totals come off
    * the per-range census either way).
    */
  private[graft] def gatedCensusCumsumMulti(census: DataFrame,
      keys: Seq[String], order: Seq[Column],
      cols: Seq[(String, String, Option[String])], inclusive: Boolean,
      force: Boolean = false, totOrdered: Boolean = false): DataFrame = {
    // two entries sharing a valueCol would collide on the decomposed
    // branch's _gpr_/_grs_/_goff_ temp names (ambiguous-reference only
    // above the gate — the lazy branch would mask it at gate scale)
    require(cols.map(_._1).distinct.size == cols.size,
      s"gatedCensusCumsumMulti: duplicate valueCols in ${cols.map(_._1)}")
    val keyCols = keys.map(col)
    val end = if (inclusive) Window.currentRow else -1L
    def run(v: String, w: org.apache.spark.sql.expressions.WindowSpec) = {
      val s = sum(col(v)).over(w)
      if (inclusive) s else coalesce(s, lit(0L))
    }
    // output order (both branches): census columns, cums, then totals
    val outCols = census.columns ++ cols.map(_._2) ++ cols.flatMap(_._3)
    if (!force && graft.core.Sizing.leafScanBytes(census) <=
        graft.core.Sizing.fanoutCkptBytes) {
      val wRun = Window.partitionBy(keyCols: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, end)
      val wAll =
        if (totOrdered)
          Window.partitionBy(keyCols: _*).orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)
        else Window.partitionBy(keyCols: _*)
      val withCums = cols.foldLeft(census) { case (df, (v, c, _)) =>
        df.withColumn(c, run(v, wRun)) }
      cols.foldLeft(withCums) { case (df, (v, _, t)) =>
        t.fold(df)(tn => df.withColumn(tn, sum(col(v)).over(wAll))) }
    } else {
      val ranged = census
        .repartitionByRange(keyCols ++ order: _*)
        .withColumn("_gpid", spark_partition_id())
        .localCheckpoint()
      val joinKeys = keys :+ "_gpid"
      val wOff = Window.partitionBy(keyCols: _*).orderBy(col("_gpid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wTot = Window.partitionBy(keyCols: _*)
      val perRange = ranged.groupBy(joinKeys.map(col): _*)
        .agg(sum(col(cols.head._1)).as("_gpr_" + cols.head._1),
          cols.tail.map { case (v, _, _) => sum(col(v)).as("_gpr_" + v) }: _*)
      val offsets = cols.foldLeft(perRange) { case (df, (v, _, t)) =>
        val withOff = df.withColumn("_goff_" + v,
          coalesce(sum(col("_gpr_" + v)).over(wOff), lit(0L)))
        t.fold(withOff)(tn => withOff.withColumn(tn,
          sum(col("_gpr_" + v)).over(wTot)))
      }.drop(cols.map("_gpr_" + _._1): _*)
      val wIn = Window.partitionBy(joinKeys.map(col): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, end)
      val withRuns = cols.foldLeft(ranged) { case (df, (v, _, _)) =>
        df.withColumn("_grs_" + v, run(v, wIn)) }
      // null-safe re-attach (ADVICE r17, medium): the contract requires
      // only key DISTINCTNESS, and the lazy branch's Window treats NULL
      // as an ordinary partition value — a plain equi-join here would
      // silently drop null-keyed census rows above the gate only. <=>
      // per key keeps the two branches row-identical for any key domain
      // (_gpid is never null, but it rides the same condition).
      val offR = joinKeys.foldLeft(offsets) { (df, k) =>
        df.withColumnRenamed(k, "_gk_" + k) }
      val joined = withRuns.join(broadcast(offR),
          joinKeys.map(k => col(k) <=> col("_gk_" + k)).reduce(_ && _))
        .drop(joinKeys.map("_gk_" + _): _*)
      cols.foldLeft(joined) {
          case (df, (v, c, _)) =>
            df.withColumn(c, col("_goff_" + v) + col("_grs_" + v)) }
        // the join fronts its keys — restore the lazy branch's order
        .select(outCols.map(col): _*)
    }
  }

  /** Shared base for q169/q170: 6 dp-scaled integer daily returns of the
    * per-type mean event value, winsorized to ±10 so every downstream
    * moment sum stays inside int64. The daily grid is 4 dp ints; the
    * return division is the identical int→double cast and divide on both
    * engines.
    */
  /** Shared base for q250 (PACF) and q256 (Ljung-Box): the standard
    * centered autocorrelation estimator at lags 1..3 of the per-type
    * daily mean-value series, made exact by multiplying every centered
    * moment through by n² — pure int64 sums over the 4 dp-gridded daily
    * means; the final ratios are the only doubles, computed from
    * bit-identical integers on both engines. One row per event_type:
    * `_n` plus unsnapped `_r1`/`_r2`/`_r3`.
    */
  private def acf123(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
        * lit(10000.0) + lit(0.5)).as("_x"))
    val g = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        sum(col("_x") * col("_x")).as("_ss"))
    val pairs = daily
      .withColumn("_l1", lag(col("_x"), 1).over(w))
      .withColumn("_l2", lag(col("_x"), 2).over(w))
      .withColumn("_l3", lag(col("_x"), 3).over(w))
      .select(col("event_type"), explode(array(
        struct(lit(1).as("k"), col("_x").as("x"), col("_l1").as("y")),
        struct(lit(2).as("k"), col("_x").as("x"), col("_l2").as("y")),
        struct(lit(3).as("k"), col("_x").as("x"), col("_l3").as("y"))))
        .as("p"))
      .select(col("event_type"), col("p.k").as("_k"),
        col("p.x").as("_xx"), col("p.y").as("_yy"))
      .filter(col("_yy").isNotNull)
    val lagAgg = pairs.groupBy(col("event_type"))
      .pivot("_k", Seq(1, 2, 3))
      .agg(sum(col("_xx") * col("_yy")).as("sxy"),
        sum(col("_xx")).as("sx"), sum(col("_yy")).as("sy"))
    def rk(k: Int): Column = {
      val nd = col("_n").cast("double")
      val sd = col("_s").cast("double")
      ((nd * nd) * col(s"${k}_sxy").cast("double")
        - nd * sd * (col(s"${k}_sx").cast("double")
          + col(s"${k}_sy").cast("double"))
        + (col("_n") - k).cast("double") * sd * sd) /
        ((nd * nd) * col("_ss").cast("double") - nd * sd * sd)
    }
    g.join(lagAgg, Seq("event_type"))
      .withColumn("_r1", rk(1)).withColumn("_r2", rk(2))
      .withColumn("_r3", rk(3))
  }

  private def dailyReturns(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(floor(decSum(col("value")).cast("double") / count(lit(1))
        * lit(10000.0) + lit(0.5)).as("_x"))
      .withColumn("_p", lag(col("_x"), 1).over(w))
      .filter(col("_p").isNotNull && col("_p") =!= 0L)
      .select(col("event_type"), col("day"),
        floor(least(greatest(
          col("_x").cast("double") / col("_p").cast("double") - lit(1.0),
          lit(-10.0)), lit(10.0)) * lit(1000000.0) + lit(0.5)).as("_r"))
  }


  /** q318 core, extracted so the property suite can drive it against a
    * naive O(n²) pairwise reference on adversarial tie fixtures: input
    * is (_g: group in its a-priori order, _x: exact long value) rows.
    * U_gh sums run over per-group value censuses joined on the shared
    * value grid — no row-level pair join; ties contribute ½ by keeping
    * J doubled in int64. The z is the classic no-ties normal moment
    * pair (documented approximation under ties).
    */
  private[graft] def jonckheereZ(v: DataFrame): DataFrame = {
    val c = v.groupBy(col("_g"), col("_x")).agg(count(lit(1)).as("_f"))
    val grid = c.select(col("_g")).distinct()
      .crossJoin(c.select(col("_x")).distinct())
      .join(c, Seq("_g", "_x"), "left")
      .withColumn("_f", coalesce(col("_f"), lit(0L)))
    // Sizing-gated census cumsum (r17): keyed by the ≤5 groups, but the
    // per-group gridded value census grows with the data — the keyed
    // range decomposition parallelizes within each hot group.
    val cum = gatedCensusCumsum(grid, keys = Seq("_g"),
      order = Seq(col("_x")), valueCol = "_f", inclusive = false,
      cumName = "_below", totName = None)
    val u = cum.as("a")
      .join(cum.as("b"),
        col("a._x") === col("b._x") && col("a._g") < col("b._g"))
      .agg(sum(col("b._f")
        * (lit(2) * col("a._below") + col("a._f"))).as("_j2"))
    val m = c.groupBy(col("_g")).agg(sum(col("_f")).as("_n"))
      .agg(sum(col("_n")).as("_nt"), sum(col("_n") * col("_n")).as("_sn2"),
        sum(col("_n") * col("_n") * (lit(2) * col("_n") + lit(3)))
          .as("_sn23"))
    u.crossJoin(m)
      .select(col("_nt").as("n_total"), col("_j2").as("j_doubled"),
        fr((col("_nt") * col("_nt") - col("_sn2")).cast("double")
          / lit(4.0), 4).as("e_j"),
        fr((col("_j2").cast("double") / lit(2.0)
          - (col("_nt") * col("_nt") - col("_sn2")).cast("double")
            / lit(4.0))
          / sqrt((col("_nt").cast("double") * col("_nt")
            * (lit(2) * col("_nt") + lit(3))
            - col("_sn23").cast("double")) / lit(72.0)), 4).as("z"))
  }

  /** q325 core, extracted for the property suite: input is one (_d:
    * long) diff per pair; zero diffs drop here. Average |d|-ranks come
    * off the cumulated census doubled (2·below + f + 1), so W⁺ stays an
    * exact int64; the normal z carries the Σ(t³−t)/48 tie correction.
    */
  private[graft] def wilcoxonSignedRank(diffs: DataFrame): DataFrame = {
    val u = diffs.filter(col("_d") =!= 0)
    val nz = u.groupBy(abs(col("_d")).as("_ad"))
      .agg(count(lit(1)).as("_f"),
        sum(when(col("_d") > 0, 1L).otherwise(0L)).as("_fp"))
    // Sizing-gated census cumsum (r17): the |diff| census domain grows
    // with per-user activity spread
    val c = gatedCensusCumsum(nz, keys = Nil, order = Seq(col("_ad")),
      valueCol = "_f", inclusive = false, cumName = "_below",
      totName = None)
    c.agg(sum(col("_f")).as("_n"),
        sum(col("_fp") * (lit(2) * col("_below") + col("_f") + lit(1)))
          .as("_w2"),
        sum(col("_f") * col("_f") * col("_f") - col("_f")).as("_t3"))
      .select(col("_n").as("n_nonzero"),
        col("_w2").as("w_plus_doubled"),
        fr((col("_w2").cast("double")
          - (col("_n") * (col("_n") + lit(1))).cast("double") / lit(2.0))
          / (lit(2.0) * sqrt((col("_n") * (col("_n") + lit(1))
            * (lit(2) * col("_n") + lit(1))).cast("double") / lit(24.0)
            - col("_t3").cast("double") / lit(48.0))), 4).as("z"))
  }

  val sql: Map[String, String] = Map(

    "q127_last_touch_attribution" ->
      """WITH t AS (SELECT user_id, ts, event_id, event_type,
        |    last_value(CASE WHEN event_type IN ('click','view')
        |        THEN event_type END IGNORE NULLS) OVER w AS touch,
        |    last_value(CASE WHEN event_type IN ('click','view')
        |        THEN ts END IGNORE NULLS) OVER w AS touch_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT coalesce(touch, 'direct') AS channel,
        |    count(*) AS conversions,
        |    count(touch_ts) AS n_attributed,
        |    sum(epoch_us(ts) - epoch_us(touch_ts)) AS sum_us
        |  FROM t WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT channel, conversions, n_attributed,
        |  CASE WHEN n_attributed > 0 THEN
        |    floor(CAST(sum_us AS DOUBLE) / n_attributed / 1000000.0
        |      * 10000.0 + 0.5) / 10000.0 END AS avg_delay_sec
        |FROM g ORDER BY channel""".stripMargin,

    "q128_rfm_segments" ->
      """WITH pc AS (SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      DATE '2001-12-31') AS rec_days,
        |    count(*) AS freq,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS mon
        |  FROM orders GROUP BY o_custkey),
        |sc AS (SELECT
        |    CASE WHEN rec_days <= 180 THEN 5 WHEN rec_days <= 365 THEN 4
        |      WHEN rec_days <= 730 THEN 3 WHEN rec_days <= 1460 THEN 2
        |      ELSE 1 END AS r_score,
        |    CASE WHEN freq >= 15 THEN 5 WHEN freq >= 10 THEN 4
        |      WHEN freq >= 6 THEN 3 WHEN freq >= 3 THEN 2
        |      ELSE 1 END AS f_score,
        |    CASE WHEN mon >= 4000000 THEN 5 WHEN mon >= 3000000 THEN 4
        |      WHEN mon >= 2000000 THEN 3 WHEN mon >= 1000000 THEN 2
        |      ELSE 1 END AS m_score,
        |    mon FROM pc)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |  floor(CAST(sum(mon) AS DOUBLE) * 100.0 + 0.5) / 100.0
        |    AS total_monetary
        |FROM sc GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin,

    "q129_pareto_frontier" ->
      """WITH pts AS (SELECT l_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS price
        |  FROM lineitem GROUP BY l_partkey),
        |census AS (SELECT DISTINCT price, qty FROM pts),
        |sky AS (SELECT price, qty FROM census p WHERE NOT EXISTS (
        |  SELECT 1 FROM census s
        |  WHERE s.price <= p.price AND s.qty >= p.qty
        |    AND (s.price < p.price OR s.qty > p.qty)))
        |SELECT t.l_partkey,
        |  floor(CAST(t.price AS DOUBLE) * 100.0 + 0.5) / 100.0 AS price,
        |  floor(CAST(t.qty AS DOUBLE) * 100.0 + 0.5) / 100.0 AS qty
        |FROM pts t JOIN sky ON t.price = sky.price AND t.qty = sky.qty
        |ORDER BY price, l_partkey""".stripMargin,

    "q130_max_drawdown" ->
      """WITH r AS (SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events WHERE value > 0)
        |SELECT user_id, count(*) AS n_obs, max(value) AS peak_value,
        |  floor(max((peak - value) / peak) * 1000000.0 + 0.5) / 1000000.0
        |    AS max_drawdown
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q131_vwap_bollinger" ->
      """WITH daily AS (SELECT l_returnflag,
        |    CAST(l_shipdate AS DATE) AS day,
        |    floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 AS vwap
        |  FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
        |f AS (SELECT l_returnflag, day, vwap,
        |    count(*) OVER w AS n,
        |    sum(CAST(vwap AS DECIMAL(19,6))) OVER w AS sg,
        |    sum(CAST(vwap AS DECIMAL(19,6)) * CAST(vwap AS DECIMAL(19,6)))
        |      OVER w AS sq
        |  FROM daily
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY day
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |v AS (SELECT l_returnflag, day, vwap, n,
        |    floor(CAST(sg AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0 AS sma,
        |    CASE WHEN n > 1 THEN CAST(n * sq - sg * sg AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) END AS var,
        |    CAST(sg AS DOUBLE) AS sgd
        |  FROM f)
        |SELECT l_returnflag, day, vwap, n, sma,
        |  CASE WHEN n > 1 THEN
        |    floor((sgd / n + 2.0 * sqrt(var)) * 10000.0 + 0.5) / 10000.0
        |  END AS upper_band,
        |  CASE WHEN n > 1 THEN
        |    floor((sgd / n - 2.0 * sqrt(var)) * 10000.0 + 0.5) / 10000.0
        |  END AS lower_band
        |FROM v ORDER BY l_returnflag, day""".stripMargin,

    "q132_recursive_bfs" ->
      """WITH RECURSIVE act AS (
        |  SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', ts) AS h
        |  FROM events WHERE user_id % 7 = 0),
        |edges AS (SELECT DISTINCT a.user_id AS s, b.user_id AS d
        |  FROM act a JOIN act b
        |    ON a.event_type = b.event_type AND a.h = b.h
        |  WHERE a.user_id <> b.user_id),
        |walk(node, lvl) AS (
        |  SELECT min(s) AS node, 0 AS lvl FROM edges
        |  UNION ALL
        |  SELECT DISTINCT e.d, w.lvl + 1
        |  FROM walk w JOIN edges e ON e.s = w.node
        |  WHERE w.lvl < 4)
        |SELECT node, min(lvl) AS dist FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    "q133_readability" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS words,
        |    CAST(length(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
        |      AS sentences,
        |    CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS syllables
        |  FROM documents)
        |SELECT doc_id, words, sentences, syllables,
        |  CASE WHEN words > 0 AND sentences > 0 THEN
        |    floor((206.835
        |      - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |      - 84.6 * (CAST(syllables AS DOUBLE) / words))
        |      * 10000.0 + 0.5) / 10000.0
        |  END AS flesch
        |FROM t ORDER BY doc_id""".stripMargin,

    "q134_dedup_keep_best" ->
      """SELECT doc_id, n_copies, kept_chars FROM (
        |  SELECT doc_id,
        |    count(*) OVER (PARTITION BY md5(text)) AS n_copies,
        |    max(n_chars) OVER (PARTITION BY md5(text)) AS kept_chars,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q135_variant_shred" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
        |    AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS INT))
        |    AS INT) AS min_k,
        |  count(json_extract_string(props, '$.missing'))
        |    AS n_missing_present,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q136_trimmed_mean" ->
      """WITH census AS (SELECT event_type,
        |    CAST(value AS DECIMAL(18,4)) AS vd, count(*) AS f
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, vd, f,
        |    coalesce(sum(f) OVER wb, 0) AS cumBefore,
        |    coalesce(sum(vd * f) OVER wb, 0) AS cumValBefore,
        |    sum(f) OVER wa AS n,
        |    sum(vd * f) OVER wa AS sumAll
        |  FROM census
        |  WINDOW wb AS (PARTITION BY event_type ORDER BY vd
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wa AS (PARTITION BY event_type)),
        |c2 AS (SELECT *, CAST(floor(n / 10.0) AS BIGINT) AS k,
        |    n - cumBefore - f AS cumAfter
        |  FROM c),
        |bot AS (SELECT event_type,
        |    cumValBefore + (k - cumBefore) * vd AS botSum
        |  FROM c2 WHERE cumBefore < k AND cumBefore + f >= k),
        |top AS (SELECT event_type,
        |    sumAll - cumValBefore - vd * f + (k - cumAfter) * vd AS topSum
        |  FROM c2 WHERE cumAfter < k AND cumAfter + f >= k),
        |agg AS (SELECT event_type, max(n) AS n_total, max(k) AS k2,
        |    max(sumAll) AS sumAll
        |  FROM c2 GROUP BY event_type)
        |SELECT a.event_type,
        |  CAST(a.n_total - 2 * a.k2 AS BIGINT) AS n_kept,
        |  CAST(a.n_total AS BIGINT) AS n_total,
        |  floor(CAST(a.sumAll - coalesce(bot.botSum, 0)
        |      - coalesce(top.topSum, 0) AS DOUBLE)
        |    / CAST(a.n_total - 2 * a.k2 AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS trimmed_mean
        |FROM agg a
        |LEFT JOIN bot ON a.event_type = bot.event_type
        |LEFT JOIN top ON a.event_type = top.event_type
        |ORDER BY a.event_type""".stripMargin,

    "q137_gini" ->
      """WITH per_user AS (SELECT user_id, count(*) AS x FROM events
        |  GROUP BY user_id),
        |census AS (SELECT x, count(*) AS f FROM per_user GROUP BY x),
        |c2 AS (SELECT x, f,
        |    coalesce(sum(f) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p0
        |  FROM census),
        |t AS (SELECT CAST(sum(f) AS BIGINT) AS n,
        |    CAST(sum(f * x) AS BIGINT) AS s,
        |    CAST(sum(x * (f * p0 + (f * (f + 1)) // 2)) AS BIGINT) AS ri
        |  FROM c2)
        |SELECT n AS n_users, s AS total_events,
        |  floor((2.0 * ri - (n + 1) * s) / (n * s) * 1000000.0 + 0.5)
        |    / 1000000.0 AS gini
        |FROM t""".stripMargin,

    "q138_benford" ->
      """WITH d AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      AS VARCHAR), 1, 1) AS digit
        |  FROM orders),
        |g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY digit),
        |t AS (SELECT sum(n_obs) AS tot FROM g)
        |SELECT digit, n_obs,
        |  floor(n_obs / tot * 1000000.0 + 0.5) / 1000000.0 AS obs_frac,
        |  floor(log10(1.0 + 1.0 / CAST(digit AS INT)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS exp_frac
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin,

    "q139_funnel_ttc" ->
      """WITH su AS (SELECT user_id, min(ts) AS su_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (SELECT e.user_id, su.su_ts, min(e.ts) AS pu_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.su_ts
        |  GROUP BY e.user_id, su.su_ts),
        |ds AS (SELECT (epoch_us(pu_ts) - epoch_us(su_ts)) // 1000000
        |    AS d FROM pu),
        |census AS (SELECT d, count(*) AS f FROM ds GROUP BY d),
        |c2 AS (SELECT d, f, sum(f) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM census),
        |t AS (SELECT sum(f) AS n FROM census)
        |SELECT CAST(t.n AS BIGINT) AS n_converted,
        |  CAST(min(CASE WHEN cum * 100 >= 50 * t.n THEN d END) AS BIGINT)
        |    AS p50_s,
        |  CAST(min(CASE WHEN cum * 100 >= 90 * t.n THEN d END) AS BIGINT)
        |    AS p90_s,
        |  CAST(min(CASE WHEN cum * 100 >= 99 * t.n THEN d END) AS BIGINT)
        |    AS p99_s
        |FROM c2 CROSS JOIN t GROUP BY t.n""".stripMargin,

    "q140_asof_forward" ->
      """SELECT e.event_id,
        |       (SELECT min(o.o_orderdate) FROM orders o
        |        WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts)
        |         AS next_order
        |FROM events e ORDER BY e.event_id LIMIT 500""".stripMargin,

    "q141_session_conversion" ->
      """WITH x AS (SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev_ts IS NULL
        |      OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM x),
        |g AS (SELECT user_id, ts, event_type,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
        |  FROM f),
        |sess AS (SELECT user_id, sno, count(*) AS n,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted,
        |    epoch_us(CAST(max(ts) AS TIMESTAMP)) // 1000000
        |      - epoch_us(CAST(min(ts) AS TIMESTAMP)) // 1000000 AS dur
        |  FROM g GROUP BY user_id, sno)
        |SELECT converted, count(*) AS n_sessions,
        |  floor(CAST(sum(n) AS DOUBLE) / count(*) * 10000.0 + 0.5)
        |    / 10000.0 AS avg_events,
        |  floor(CAST(sum(dur) AS DOUBLE) / count(*) * 10000.0 + 0.5)
        |    / 10000.0 AS avg_duration_s
        |FROM sess GROUP BY converted ORDER BY converted""".stripMargin,

    "q142_equidepth_hist" ->
      """WITH census AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS c, count(*) AS f
        |  FROM orders GROUP BY 1),
        |c2 AS (SELECT c, f, sum(f) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM census),
        |t AS (SELECT sum(f) AS n FROM census),
        |e AS (SELECT
        |    min(CASE WHEN cum * 10 >= 1 * t.n THEN c END) AS e1,
        |    min(CASE WHEN cum * 10 >= 2 * t.n THEN c END) AS e2,
        |    min(CASE WHEN cum * 10 >= 3 * t.n THEN c END) AS e3,
        |    min(CASE WHEN cum * 10 >= 4 * t.n THEN c END) AS e4,
        |    min(CASE WHEN cum * 10 >= 5 * t.n THEN c END) AS e5,
        |    min(CASE WHEN cum * 10 >= 6 * t.n THEN c END) AS e6,
        |    min(CASE WHEN cum * 10 >= 7 * t.n THEN c END) AS e7,
        |    min(CASE WHEN cum * 10 >= 8 * t.n THEN c END) AS e8,
        |    min(CASE WHEN cum * 10 >= 9 * t.n THEN c END) AS e9
        |  FROM c2 CROSS JOIN t),
        |b AS (SELECT c, f,
        |    1 + (CASE WHEN c > e1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e4 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e5 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e6 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e7 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e8 THEN 1 ELSE 0 END)
        |      + (CASE WHEN c > e9 THEN 1 ELSE 0 END) AS bucket
        |  FROM census CROSS JOIN e)
        |SELECT bucket, CAST(sum(f) AS BIGINT) AS n_orders,
        |  floor(CAST(min(c) AS DOUBLE) / 100 * 100.0 + 0.5) / 100.0
        |    AS lo_price,
        |  floor(CAST(max(c) AS DOUBLE) / 100 * 100.0 + 0.5) / 100.0
        |    AS hi_price
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q143_ks_test" ->
      """WITH a AS (SELECT value AS v, count(*) AS fa FROM events
        |  WHERE event_type = 'click' GROUP BY value),
        |b AS (SELECT value AS v, count(*) AS fb FROM events
        |  WHERE event_type = 'purchase' GROUP BY value),
        |m AS (SELECT coalesce(a.v, b.v) AS v,
        |    coalesce(fa, 0) AS fa, coalesce(fb, 0) AS fb
        |  FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT v, fa, fb,
        |    sum(fa) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(fb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    sum(fa) OVER () AS na, sum(fb) OVER () AS nb
        |  FROM m)
        |SELECT CAST(max(na) AS BIGINT) AS n_click,
        |  CAST(max(nb) AS BIGINT) AS n_purchase,
        |  floor(CAST(max(abs(ca * nb - cb * na)) AS DOUBLE)
        |    / CAST(max(na) * max(nb) AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ks_d
        |FROM c""".stripMargin,

    "q144_lateral_topk" ->
      """WITH cm AS (
        |  SELECT c.c_custkey, c.c_name, n.n_regionkey,
        |         sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS mon
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey, c.c_name, n.n_regionkey)
        |SELECT r.r_name, t.c_name,
        |       floor(CAST(t.mon AS DOUBLE) * 100.0 + 0.5) / 100.0
        |         AS monetary
        |FROM region r,
        |LATERAL (SELECT c_name, mon FROM cm
        |         WHERE cm.n_regionkey = r.r_regionkey
        |         ORDER BY mon DESC, c_name LIMIT 2) t
        |ORDER BY r.r_name, t.mon DESC, t.c_name""".stripMargin,

    "q145_rolling_beta" ->
      """WITH daily AS (SELECT l_returnflag,
        |    CAST(l_shipdate AS DATE) AS day,
        |    floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 AS vwap
        |  FROM lineitem GROUP BY l_returnflag, CAST(l_shipdate AS DATE)),
        |x AS (SELECT l_returnflag, day,
        |    CAST(vwap AS DECIMAL(19,6)) AS vd,
        |    CAST(date_diff('day', DATE '1995-01-01', day) AS BIGINT) AS xi
        |  FROM daily),
        |f AS (SELECT l_returnflag, day,
        |    count(*) OVER w AS n,
        |    sum(xi) OVER w AS sx,
        |    sum(xi * xi) OVER w AS sxx,
        |    sum(vd) OVER w AS sy,
        |    sum(xi * vd) OVER w AS sxy
        |  FROM x
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY day
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT l_returnflag, day, n,
        |  CASE WHEN n > 1 THEN
        |    floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0 + 0.5)
        |      / 1000000.0
        |  END AS beta
        |FROM f ORDER BY l_returnflag, day""".stripMargin,

    "q146_multiset_ops" ->
      """WITH a AS (SELECT user_id, event_type FROM events
        |  WHERE value > 100),
        |b AS (SELECT user_id, event_type FROM events WHERE value > 150),
        |ea AS (SELECT count(*) AS n_except_all FROM
        |  (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t),
        |ia AS (SELECT count(*) AS n_intersect_all FROM
        |  (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t),
        |ed AS (SELECT count(*) AS n_except_distinct FROM
        |  (SELECT * FROM a EXCEPT SELECT * FROM b) t),
        |id_ AS (SELECT count(*) AS n_intersect_distinct FROM
        |  (SELECT * FROM a INTERSECT SELECT * FROM b) t)
        |SELECT n_except_all, n_intersect_all, n_except_distinct,
        |  n_intersect_distinct
        |FROM ea CROSS JOIN ia CROSS JOIN ed CROSS JOIN id_""".stripMargin,

    "q147_nullsafe_join" ->
      """WITH e AS (SELECT nullif(event_type, 'error') AS k FROM events),
        |ref AS (SELECT k AS rk, count(*) AS ref_n FROM e GROUP BY k)
        |SELECT e.k, count(*) AS n_events, max(ref.ref_n) AS ref_n
        |FROM e JOIN ref ON e.k IS NOT DISTINCT FROM ref.rk
        |GROUP BY e.k ORDER BY e.k NULLS FIRST""".stripMargin,

    "q148_vector_hof" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  floor(sqrt(list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
        |      (a, b) -> a + b)) * 1000000.0 + 0.5) / 1000000.0 AS l2_norm,
        |  CAST(len(list_filter(CAST(embedding AS DOUBLE[]),
        |      x -> abs(x) > 0.1)) AS INT) AS n_large
        |FROM embeddings WHERE vec_id <= 200 ORDER BY vec_id""".stripMargin,

    "q149_collation" ->
      """WITH t AS (SELECT source, unnest(string_split_regex(trim(text),
        |      '\s+')) AS tok
        |  FROM documents),
        |f AS (SELECT source, tok FROM t
        |  WHERE regexp_full_match(tok, '[A-Za-z]+'))
        |SELECT source, count(*) AS n_tokens,
        |  count(DISTINCT tok) AS distinct_binary,
        |  count(DISTINCT lower(tok)) AS distinct_lcase
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // interval_ok pinned TRUE: an as-of match landing outside its run's
    // validity window would flip it and fail the compare
    "q150_pit_join" ->
      """WITH m AS (SELECT o_custkey AS k, o_orderstatus AS st,
        |    o_orderdate AS ts,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderstatus) AS prev
        |  FROM orders),
        |c AS (SELECT k, st, ts FROM m WHERE prev IS DISTINCT FROM st),
        |h AS (SELECT k, st, ts AS vf,
        |    lead(ts) OVER (PARTITION BY k ORDER BY ts, st) AS vt FROM c),
        |h2 AS (SELECT * FROM h WHERE vt IS NULL OR vt > vf),
        |p AS (SELECT event_id, user_id,
        |    CAST(DATE '1995-01-01' + CAST(event_id % 2400 AS INT)
        |      AS TIMESTAMP) AS pts
        |  FROM events)
        |SELECT p.event_id,
        |  (SELECT h2.st FROM h2 WHERE h2.k = p.user_id
        |     AND h2.vf <= p.pts AND (h2.vt IS NULL OR p.pts < h2.vt))
        |    AS pit_status,
        |  TRUE AS interval_ok
        |FROM p
        |WHERE EXISTS (SELECT 1 FROM h2
        |  WHERE h2.k = p.user_id AND h2.vf <= p.pts)
        |ORDER BY p.event_id LIMIT 500""".stripMargin,

    "q151_rolling_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |cover AS (SELECT DISTINCT user_id, day + CAST(i AS INT) AS day2
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) s),
        |wau AS (SELECT day2 AS day, count(*) AS wau FROM cover
        |  GROUP BY day2)
        |SELECT coalesce(dau.day, wau.day) AS day,
        |  coalesce(dau.dau, 0) AS dau, wau.wau
        |FROM dau FULL OUTER JOIN wau ON dau.day = wau.day
        |ORDER BY day""".stripMargin,

    "q152_cusum" ->
      """WITH v0 AS (SELECT user_id, ts, event_id,
        |    CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(18,6)) AS vd
        |  FROM events),
        |v AS (SELECT user_id, ts, event_id, vd,
        |    CAST(floor(CAST(sum(vd) OVER (PARTITION BY user_id) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY user_id)
        |      * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS mu
        |  FROM v0),
        |s AS (SELECT user_id,
        |    sum(vd - mu) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
        |  FROM v)
        |SELECT user_id, count(*) AS n_obs,
        |  floor(CAST(max(abs(cs)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS cusum_max
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q153_burstiness" ->
      """WITH g AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
        |      - epoch_us(CAST(lag(ts) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS TIMESTAMP)) // 1000000 AS d
        |  FROM events),
        |a AS (SELECT user_id, count(*) AS n,
        |    sum(CAST(d AS DECIMAL(38,0))) AS sd,
        |    sum(CAST(d * d AS DECIMAL(38,0))) AS sdd
        |  FROM g WHERE d IS NOT NULL GROUP BY user_id),
        |m AS (SELECT user_id, n,
        |    CAST(sd AS DOUBLE) / n AS mu,
        |    sqrt(CAST(n * sdd - sd * sd AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE)) AS sigma
        |  FROM a WHERE n > 1)
        |SELECT user_id, n AS n_gaps,
        |  floor(mu * 10000.0 + 0.5) / 10000.0 AS mean_gap_s,
        |  floor((sigma - mu) / (sigma + mu) * 1000000.0 + 0.5)
        |    / 1000000.0 AS burstiness
        |FROM m ORDER BY user_id""".stripMargin,

    "q154_event_trigrams" ->
      """WITH t AS (SELECT
        |    event_type AS a,
        |    lead(event_type, 1) OVER w AS b,
        |    lead(event_type, 2) OVER w AS c
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT a, b, c, count(*) AS n FROM t
        |WHERE b IS NOT NULL AND c IS NOT NULL
        |GROUP BY a, b, c
        |ORDER BY n DESC, a, b, c LIMIT 20""".stripMargin,

    "q155_quantile_norm" ->
      """WITH ev AS (SELECT event_id, event_type, value,
        |    CAST(value AS DECIMAL(18,4)) AS vd
        |  FROM events),
        |census AS (SELECT event_type, vd, count(*) AS f FROM ev
        |  GROUP BY event_type, vd),
        |cdf AS (SELECT event_type, vd,
        |    floor(CAST(sum(f) OVER (PARTITION BY event_type ORDER BY vd
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)
        |      / CAST(sum(f) OVER (PARTITION BY event_type) AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 AS cdf
        |  FROM census)
        |SELECT ev.event_id, ev.event_type, ev.value, cdf.cdf
        |FROM ev JOIN cdf
        |  ON ev.event_type = cdf.event_type AND ev.vd = cdf.vd
        |WHERE ev.event_id % 199 = 0
        |ORDER BY ev.event_id""".stripMargin,

    "q156_target_encoding" ->
      """WITH gm AS (SELECT floor(
        |      CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |      * 1000000.0 + 0.5) / 1000000.0 AS gmu
        |  FROM events),
        |tagged AS (SELECT event_id, event_type,
        |    CASE WHEN value > gm.gmu THEN 1 ELSE 0 END AS t
        |  FROM events CROSS JOIN gm),
        |stats AS (SELECT event_type, sum(t) AS pos, count(*) AS cnt
        |  FROM tagged GROUP BY event_type)
        |SELECT g.event_id, g.event_type, CAST(g.t AS BIGINT) AS target,
        |  CASE WHEN s.cnt > 1 THEN
        |    floor(CAST(s.pos - g.t AS DOUBLE) / CAST(s.cnt - 1 AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS loo_encoding
        |FROM tagged g JOIN stats s ON g.event_type = s.event_type
        |WHERE g.event_id % 199 = 0
        |ORDER BY g.event_id""".stripMargin,

    "q158_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |    AS DOUBLE) * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |    AS DOUBLE) / CAST(100 AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q159_union_by_name" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 2 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderstatus, o_orderkey FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |SELECT o_orderstatus, count(*) AS n_rows,
        |  count(o_totalprice) AS n_with_price,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS sum_price
        |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q160_weighted_median" ->
      """WITH census AS (SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS wsum
        |  FROM lineitem GROUP BY l_returnflag, CAST(l_quantity
        |    AS DECIMAL(18,2))),
        |c AS (SELECT l_returnflag, q, wsum,
        |    sum(wsum) OVER (PARTITION BY l_returnflag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(wsum) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM census)
        |SELECT l_returnflag,
        |  CAST(min(CASE WHEN cum * 2 >= tot THEN q END) AS DOUBLE)
        |    AS weighted_median_qty,
        |  floor(CAST(max(tot) AS DOUBLE) / 100 * 100.0 + 0.5) / 100.0
        |    AS total_weight
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q161_mutual_information" ->
      """WITH cells AS (SELECT event_type AS x,
        |    least(CAST(floor(value / 50) AS INT), 9) AS y, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT x, y, c,
        |    sum(c) OVER (PARTITION BY x) AS r,
        |    sum(c) OVER (PARTITION BY y) AS k,
        |    sum(c) OVER () AS n
        |  FROM cells),
        |t AS (SELECT x, y, n,
        |    (CAST(c AS DOUBLE) / n)
        |      * ln(CAST(c * n AS DOUBLE) / CAST(r * k AS DOUBLE)) AS t
        |  FROM m)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  floor(list_sum(list(t ORDER BY x, y)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS mi_nats
        |FROM t""".stripMargin,

    "q162_chi_square" ->
      """WITH cells AS (SELECT event_type AS x,
        |    least(CAST(floor(value / 50) AS INT), 9) AS y, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT count(DISTINCT x) AS nx, count(DISTINCT y) AS ny
        |  FROM cells),
        |m AS (SELECT x, y, c,
        |    sum(c) OVER (PARTITION BY x) AS r,
        |    sum(c) OVER (PARTITION BY y) AS k,
        |    sum(c) OVER () AS n
        |  FROM cells),
        |t AS (SELECT x, y, n, nx, ny,
        |    (c - CAST(r * k AS DOUBLE) / n) * (c - CAST(r * k AS DOUBLE) / n)
        |      / (CAST(r * k AS DOUBLE) / n) AS t
        |  FROM m CROSS JOIN d),
        |s AS (SELECT CAST(max(n) AS BIGINT) AS n,
        |    CAST(max((nx - 1) * (ny - 1)) AS BIGINT) AS dof,
        |    CAST(max(least(nx - 1, ny - 1)) AS BIGINT) AS mindim,
        |    list_sum(list(t ORDER BY x, y)) AS chi2
        |  FROM t)
        |SELECT n, dof, floor(chi2 * 10000.0 + 0.5) / 10000.0 AS chi2,
        |  floor(sqrt(chi2 / (n * mindim)) * 1000000.0 + 0.5) / 1000000.0
        |    AS cramers_v
        |FROM s""".stripMargin,

    "q163_psi" ->
      """WITH b AS (SELECT least(CAST(floor(value / 50) AS INT), 9) AS bin,
        |    (date_part('day', CAST(ts AS TIMESTAMP)) <= 15) AS early
        |  FROM events),
        |cells AS (SELECT bin,
        |    sum(CASE WHEN early THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS c
        |  FROM b GROUP BY bin),
        |m AS (SELECT bin, a, c,
        |    sum(a) OVER () AS na, sum(c) OVER () AS nc
        |  FROM cells),
        |t AS (SELECT bin, na, nc,
        |    CASE WHEN a > 0 AND c > 0 THEN
        |      (CAST(a AS DOUBLE) / na - CAST(c AS DOUBLE) / nc)
        |        * ln(CAST(a * nc AS DOUBLE) / CAST(c * na AS DOUBLE))
        |    ELSE 0.0 END AS t
        |  FROM m)
        |SELECT CAST(max(na) AS BIGINT) AS n_early,
        |  CAST(max(nc) AS BIGINT) AS n_late,
        |  floor(list_sum(list(t ORDER BY bin)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS psi
        |FROM t""".stripMargin,

    // the q80 logistic replayed, then the Mann-Whitney census identity
    "q164_roc_auc" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, lang,
        |  -6.0
        |  + 5.0 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |           AS DOUBLE) / greatest(length(text), 1))
        |  + 4.0 * (CAST(length(list_filter(toks,
        |           t -> t IN ('the','a','of','and','in','to','is')))
        |           AS DOUBLE) / greatest(length(toks), 1))
        |  + 0.25 * (CAST(length(text) - length(toks) + 1 AS DOUBLE)
        |           / greatest(length(toks), 1))
        |  + 0.6 * ln(1.0 + CAST(length(toks) AS DOUBLE)) AS z
        |  FROM t),
        |sc AS (SELECT floor(1.0 / (1.0 + exp(-z)) * 10000.0 + 0.5)
        |    / 10000.0 AS s,
        |    (lang = 'en') AS pos
        |  FROM z),
        |census AS (SELECT s,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
        |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS g
        |  FROM sc GROUP BY s),
        |c2 AS (SELECT s, p, g,
        |    coalesce(sum(g) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumg
        |  FROM census)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(g) AS BIGINT) AS n_neg,
        |  floor(CAST(sum(2 * p * cumg + p * g) AS DOUBLE)
        |    / CAST(2 * sum(p) * sum(g) AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS auc
        |FROM c2""".stripMargin,

    "q165_calibration" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, lang,
        |  -6.0
        |  + 5.0 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |           AS DOUBLE) / greatest(length(text), 1))
        |  + 4.0 * (CAST(length(list_filter(toks,
        |           t -> t IN ('the','a','of','and','in','to','is')))
        |           AS DOUBLE) / greatest(length(toks), 1))
        |  + 0.25 * (CAST(length(text) - length(toks) + 1 AS DOUBLE)
        |           / greatest(length(toks), 1))
        |  + 0.6 * ln(1.0 + CAST(length(toks) AS DOUBLE)) AS z
        |  FROM t),
        |sc AS (SELECT floor(1.0 / (1.0 + exp(-z)) * 10000.0 + 0.5)
        |    / 10000.0 AS s,
        |    (lang = 'en') AS pos
        |  FROM z),
        |b AS (SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin, s, pos
        |  FROM sc)
        |SELECT bin, count(*) AS n,
        |  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  floor(CAST(sum(CAST(s AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |    * 1000000.0 + 0.5) / 1000000.0 AS mean_pred,
        |  floor(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1000000.0 + 0.5) / 1000000.0 AS obs_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q166_brier" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, lang,
        |  -6.0
        |  + 5.0 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |           AS DOUBLE) / greatest(length(text), 1))
        |  + 4.0 * (CAST(length(list_filter(toks,
        |           t -> t IN ('the','a','of','and','in','to','is')))
        |           AS DOUBLE) / greatest(length(toks), 1))
        |  + 0.25 * (CAST(length(text) - length(toks) + 1 AS DOUBLE)
        |           / greatest(length(toks), 1))
        |  + 0.6 * ln(1.0 + CAST(length(toks) AS DOUBLE)) AS z
        |  FROM t),
        |sc AS (SELECT floor(1.0 / (1.0 + exp(-z)) * 10000.0 + 0.5)
        |    / 10000.0 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM z),
        |census AS (SELECT s, y, count(*) AS c FROM sc GROUP BY s, y),
        |tt AS (SELECT s, y, c * (s - y) * (s - y) AS t FROM census),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM census)
        |SELECT n.n,
        |  floor(list_sum(list(t ORDER BY s, y)) / n.n * 1000000.0 + 0.5)
        |    / 1000000.0 AS brier
        |FROM tt CROSS JOIN n GROUP BY n.n""".stripMargin,

    "q167_acf" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
        |    lag(x, 3) OVER w AS l3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |u AS (SELECT event_type, 1 AS lag_k, x, l1 AS y FROM l
        |    WHERE l1 IS NOT NULL
        |  UNION ALL SELECT event_type, 2, x, l2 FROM l WHERE l2 IS NOT NULL
        |  UNION ALL SELECT event_type, 3, x, l3 FROM l
        |    WHERE l3 IS NOT NULL),
        |s AS (SELECT event_type, lag_k, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM u GROUP BY 1, 2)
        |SELECT event_type, lag_k, n AS n_pairs,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS acf
        |FROM s ORDER BY event_type, lag_k""".stripMargin,

    "q168_ewma" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(count(*) AS INT) AS n_days,
        |  floor(list_reduce(list(v ORDER BY day),
        |      (a, b) -> 0.2 * b + 0.8 * a) * 1000000.0 + 0.5)
        |    / 1000000.0 AS ewma
        |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q169_sharpe" ->
      """WITH r AS (SELECT event_type,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(ri) AS BIGINT) AS s,
        |    CAST(sum(ri * ri) AS BIGINT) AS ss
        |  FROM r WHERE p IS NOT NULL AND p <> 0 GROUP BY 1)
        |SELECT event_type, n AS n_ret,
        |  floor(CAST(s AS DOUBLE) / n / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS mean_ret,
        |  floor(sqrt(CAST(n * ss - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) / 1.0e12)
        |    * 1000000.0 + 0.5) / 1000000.0 AS vol,
        |  floor((CAST(s AS DOUBLE) / n / 1000000.0)
        |    / sqrt(CAST(n * ss - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) / 1.0e12)
        |    * 1000000.0 + 0.5) / 1000000.0 AS sharpe
        |FROM s ORDER BY event_type""".stripMargin,

    "q170_var_es" ->
      """WITH r AS (SELECT event_type,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS v,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |census AS (SELECT event_type, v, count(*) AS f
        |  FROM r WHERE p IS NOT NULL AND p <> 0 GROUP BY 1, 2),
        |c AS (SELECT event_type, v, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (n + 19) // 20 AS kk FROM c)
        |SELECT event_type, max(n) AS n_ret,
        |  floor(CAST(max(CASE WHEN cum < kk AND cum + f >= kk THEN v END)
        |      AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS var95,
        |  floor(CAST(sum(v * greatest(least(kk, cum + f) - cum, 0))
        |      AS DOUBLE) / max(kk) / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS es95
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q171_winsorized_mean" ->
      """WITH census AS (SELECT c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS v,
        |    count(*) AS f
        |  FROM customer GROUP BY 1, 2),
        |c AS (SELECT seg, v, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY seg ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY seg) AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (n + 19) // 20 AS klo,
        |    (19 * n + 19) // 20 AS khi FROM c),
        |b AS (SELECT seg,
        |    max(CASE WHEN cum < klo AND cum + f >= klo THEN v END) AS lo,
        |    max(CASE WHEN cum < khi AND cum + f >= khi THEN v END) AS hi
        |  FROM k GROUP BY seg)
        |SELECT k.seg AS segment, max(k.n) AS n,
        |  floor(CAST(max(b.lo) AS DOUBLE) / 100.0 * 100.0 + 0.5)
        |    / 100.0 AS p05,
        |  floor(CAST(max(b.hi) AS DOUBLE) / 100.0 * 100.0 + 0.5)
        |    / 100.0 AS p95,
        |  floor(CAST(sum(k.f * least(greatest(k.v, b.lo), b.hi))
        |      AS DOUBLE) / max(k.n) / 100.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS w_mean
        |FROM k JOIN b ON k.seg = b.seg
        |GROUP BY k.seg ORDER BY segment""".stripMargin,

    "q172_iqr_outliers" ->
      """WITH census AS (SELECT p_brand AS b,
        |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS v,
        |    count(*) AS f
        |  FROM part GROUP BY 1, 2),
        |c AS (SELECT b, v, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY b ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY b) AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (n + 3) // 4 AS k1,
        |    (3 * n + 3) // 4 AS k3 FROM c),
        |bd AS (SELECT b,
        |    max(CASE WHEN cum < k1 AND cum + f >= k1 THEN v END) AS q1,
        |    max(CASE WHEN cum < k3 AND cum + f >= k3 THEN v END) AS q3
        |  FROM k GROUP BY b)
        |SELECT k.b AS brand, max(k.n) AS n,
        |  floor(CAST(max(bd.q1) AS DOUBLE) / 100.0 * 100.0 + 0.5)
        |    / 100.0 AS q1,
        |  floor(CAST(max(bd.q3) AS DOUBLE) / 100.0 * 100.0 + 0.5)
        |    / 100.0 AS q3,
        |  CAST(sum(CASE WHEN 2 * k.v < 2 * bd.q1 - 3 * (bd.q3 - bd.q1)
        |      OR 2 * k.v > 2 * bd.q3 + 3 * (bd.q3 - bd.q1)
        |      THEN k.f ELSE 0 END) AS BIGINT) AS n_out
        |FROM k JOIN bd ON k.b = bd.b
        |GROUP BY k.b ORDER BY brand""".stripMargin,

    "q176_sentiment_lexicon" ->
      """WITH t AS (SELECT source,
        |    string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
        |      ' ') AS toks
        |  FROM documents),
        |c AS (SELECT source,
        |    CAST(len(list_filter(toks, x -> x IN ('good','great',
        |      'excellent','happy','love','best','nice','win'))) AS INT)
        |      AS np,
        |    CAST(len(list_filter(toks, x -> x IN ('bad','terrible','poor',
        |      'sad','hate','worst','fail','loss'))) AS INT) AS nn
        |  FROM t),
        |sc AS (SELECT source, np, nn,
        |    CAST(floor(CAST(np - nn AS DOUBLE) / (np + nn + 1)
        |      * 1000000.0 + 0.5) AS BIGINT) AS s
        |  FROM c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  floor(CAST(sum(s) AS DOUBLE) / count(*) / 1000000.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS avg_score
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,

    "q177_mad" ->
      """WITH census AS (SELECT c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS v,
        |    count(*) AS f
        |  FROM customer GROUP BY 1, 2),
        |c AS (SELECT seg, v, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY seg ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY seg) AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (n + 1) // 2 AS km FROM c),
        |med AS (SELECT seg,
        |    max(CASE WHEN cum < km AND cum + f >= km THEN v END) AS med,
        |    max(n) AS mn
        |  FROM k GROUP BY seg),
        |dev AS (SELECT k.seg, abs(k.v - med.med) AS dv,
        |    CAST(sum(k.f) AS BIGINT) AS df,
        |    max(med.med) AS med2, max(med.mn) AS n2
        |  FROM k JOIN med ON k.seg = med.seg GROUP BY 1, 2),
        |dc AS (SELECT seg, dv, df, med2, n2,
        |    coalesce(CAST(sum(df) OVER (PARTITION BY seg ORDER BY dv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS dcum,
        |    (n2 + 1) // 2 AS km
        |  FROM dev),
        |mad AS (SELECT seg,
        |    max(CASE WHEN dcum < km AND dcum + df >= km THEN dv END) AS mad
        |  FROM dc GROUP BY seg)
        |SELECT dc.seg AS segment, max(dc.n2) AS n,
        |  floor(CAST(max(dc.med2) AS DOUBLE) / 100.0 * 100.0 + 0.5)
        |    / 100.0 AS median,
        |  floor(CAST(max(mad.mad) AS DOUBLE) / 100.0 * 100.0 + 0.5)
        |    / 100.0 AS mad,
        |  CAST(sum(CASE WHEN 10000 * dc.dv > 44478 * mad.mad
        |    THEN dc.df ELSE 0 END) AS BIGINT) AS n_robust_out
        |FROM dc JOIN mad ON dc.seg = mad.seg
        |GROUP BY dc.seg ORDER BY segment""".stripMargin,

    "q178_seasonality" ->
      """WITH counts AS (SELECT event_type, hour(ts) AS hr,
        |    count(*) AS c0
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, gs.hr
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hr) gs),
        |j AS (SELECT grid.event_type, grid.hr,
        |    CAST(coalesce(counts.c0, 0) AS BIGINT) AS c
        |  FROM grid LEFT JOIN counts
        |    ON grid.event_type = counts.event_type
        |    AND grid.hr = counts.hr),
        |w AS (SELECT event_type, hr, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
        |    CAST(sum(c * c) OVER (PARTITION BY event_type) AS BIGINT) AS ss
        |  FROM j)
        |SELECT event_type, CAST(hr AS INT) AS hr, c AS n,
        |  floor((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / 24.0)
        |    / sqrt((CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 24.0) / 24.0)
        |    * 10000.0 + 0.5) / 10000.0 AS z
        |FROM w ORDER BY event_type, hr""".stripMargin,

    "q179_theil_sen" ->
      """WITH daily0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type, v,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS x
        |  FROM daily0),
        |p AS (SELECT a.event_type,
        |    CAST(floor(CAST(b.v - a.v AS DOUBLE)
        |      / CAST(b.x - a.x AS DOUBLE) + 0.5) AS BIGINT) AS si
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.x < b.x),
        |census AS (SELECT event_type, si, count(*) AS f
        |  FROM p GROUP BY 1, 2),
        |c AS (SELECT event_type, si, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY event_type ORDER BY si
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (n + 1) // 2 AS km FROM c)
        |SELECT event_type, max(n) AS n_pairs,
        |  floor(CAST(max(CASE WHEN cum < km AND cum + f >= km THEN si END)
        |      AS DOUBLE) / 10000.0 * 10000.0 + 0.5) / 10000.0 AS slope
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q180_shannon_diversity" ->
      """WITH census AS (SELECT source, lang, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, lang,
        |    CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS t, c
        |  FROM census),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    count(*) AS n_langs,
        |    list_sum(list(t ORDER BY lang)) AS st
        |  FROM t GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  floor((ln(CAST(n_docs AS DOUBLE)) - st / CAST(n_docs AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS h,
        |  floor(exp(ln(CAST(n_docs AS DOUBLE)) - st / CAST(n_docs AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS eff_langs
        |FROM g ORDER BY source""".stripMargin,

    "q181_percentile_cont" ->
      """WITH census AS (SELECT c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS v,
        |    count(*) AS f
        |  FROM customer GROUP BY 1, 2),
        |c AS (SELECT seg, v, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY seg ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY seg) AS BIGINT) AS n
        |  FROM census),
        |x AS (SELECT c.*, ps.p,
        |    CAST(c.n - 1 AS DOUBLE) * ps.p + 1.0 AS h,
        |    CAST(floor(CAST(c.n - 1 AS DOUBLE) * ps.p + 1.0) AS BIGINT)
        |      AS k
        |  FROM c CROSS JOIN
        |    (SELECT unnest([0.5, 0.9, 0.99]) AS p) ps),
        |g AS (SELECT seg AS segment, p, max(n) AS n,
        |    max(CASE WHEN cum < k AND cum + f >= k THEN v END) AS vk,
        |    max(CASE WHEN cum < k + 1 AND cum + f >= k + 1 THEN v END)
        |      AS vk1,
        |    max(h - CAST(k AS DOUBLE)) AS fr
        |  FROM x GROUP BY seg, p)
        |SELECT segment, p, n,
        |  floor((CAST(vk AS DOUBLE)
        |    + fr * CAST(coalesce(vk1, vk) - vk AS DOUBLE)) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS pct_value
        |FROM g ORDER BY segment, p""".stripMargin,

    "q182_mode_by_key" ->
      """WITH census AS (SELECT event_type,
        |    CAST(floor(value) AS BIGINT) AS v, count(*) AS f
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, v, f,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY f DESC, v ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM census)
        |SELECT event_type, v AS mode_value, f AS freq,
        |  CAST(nd AS BIGINT) AS n_distinct
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q183_string_agg" ->
      """SELECT p_brand AS brand,
        |  count(DISTINCT p_name) AS n_names,
        |  string_agg(DISTINCT p_name, '|' ORDER BY p_name) AS names
        |FROM part GROUP BY p_brand ORDER BY brand""".stripMargin,

    "q184_activity_islands" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day
        |  FROM events),
        |g AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM days),
        |streaks AS (SELECT user_id, grp, count(*) AS len
        |  FROM g GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(len) AS max_streak
        |  FROM streaks GROUP BY 1)
        |SELECT max_streak, count(*) AS n_users
        |FROM mx GROUP BY max_streak ORDER BY max_streak""".stripMargin,

    "q185_corr_matrix" ->
      """WITH a AS (SELECT count(*) AS n,
        |  sum(CAST(l_quantity AS DECIMAL(18,4))) AS s_q,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS s_p,
        |  sum(CAST(l_discount AS DECIMAL(18,4))) AS s_d,
        |  sum(CAST(l_tax AS DECIMAL(18,4))) AS s_t,
        |  sum(CAST(l_quantity AS DECIMAL(19,4))
        |    * CAST(l_quantity AS DECIMAL(19,4))) AS ss_q,
        |  sum(CAST(l_extendedprice AS DECIMAL(19,4))
        |    * CAST(l_extendedprice AS DECIMAL(19,4))) AS ss_p,
        |  sum(CAST(l_discount AS DECIMAL(19,4))
        |    * CAST(l_discount AS DECIMAL(19,4))) AS ss_d,
        |  sum(CAST(l_tax AS DECIMAL(19,4))
        |    * CAST(l_tax AS DECIMAL(19,4))) AS ss_t,
        |  sum(CAST(l_quantity AS DECIMAL(19,4))
        |    * CAST(l_extendedprice AS DECIMAL(19,4))) AS sp_qp,
        |  sum(CAST(l_quantity AS DECIMAL(19,4))
        |    * CAST(l_discount AS DECIMAL(19,4))) AS sp_qd,
        |  sum(CAST(l_quantity AS DECIMAL(19,4))
        |    * CAST(l_tax AS DECIMAL(19,4))) AS sp_qt,
        |  sum(CAST(l_extendedprice AS DECIMAL(19,4))
        |    * CAST(l_discount AS DECIMAL(19,4))) AS sp_pd,
        |  sum(CAST(l_extendedprice AS DECIMAL(19,4))
        |    * CAST(l_tax AS DECIMAL(19,4))) AS sp_pt,
        |  sum(CAST(l_discount AS DECIMAL(19,4))
        |    * CAST(l_tax AS DECIMAL(19,4))) AS sp_dt
        |  FROM lineitem),
        |u AS (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
        |    CAST(sp_qp AS DOUBLE) AS sxy, CAST(s_q AS DOUBLE) AS sx,
        |    CAST(s_p AS DOUBLE) AS sy, CAST(ss_q AS DOUBLE) AS sxx,
        |    CAST(ss_p AS DOUBLE) AS syy FROM a
        |  UNION ALL SELECT 'l_discount', 'l_tax', n,
        |    CAST(sp_dt AS DOUBLE), CAST(s_d AS DOUBLE),
        |    CAST(s_t AS DOUBLE), CAST(ss_d AS DOUBLE),
        |    CAST(ss_t AS DOUBLE) FROM a
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', n,
        |    CAST(sp_pd AS DOUBLE), CAST(s_p AS DOUBLE),
        |    CAST(s_d AS DOUBLE), CAST(ss_p AS DOUBLE),
        |    CAST(ss_d AS DOUBLE) FROM a
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', n,
        |    CAST(sp_pt AS DOUBLE), CAST(s_p AS DOUBLE),
        |    CAST(s_t AS DOUBLE), CAST(ss_p AS DOUBLE),
        |    CAST(ss_t AS DOUBLE) FROM a
        |  UNION ALL SELECT 'l_quantity', 'l_discount', n,
        |    CAST(sp_qd AS DOUBLE), CAST(s_q AS DOUBLE),
        |    CAST(s_d AS DOUBLE), CAST(ss_q AS DOUBLE),
        |    CAST(ss_d AS DOUBLE) FROM a
        |  UNION ALL SELECT 'l_quantity', 'l_tax', n,
        |    CAST(sp_qt AS DOUBLE), CAST(s_q AS DOUBLE),
        |    CAST(s_t AS DOUBLE), CAST(ss_q AS DOUBLE),
        |    CAST(ss_t AS DOUBLE) FROM a)
        |SELECT col_x, col_y, n,
        |  floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |      * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
        |    * 1000000.0 + 0.5) / 1000000.0 AS r
        |FROM u ORDER BY col_x, col_y""".stripMargin,

    "q186_debounce" ->
      """WITH l AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT event_type, count(*) AS n_total,
        |  CAST(sum(CASE WHEN gap IS NULL OR gap > 5000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 5000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q187_share_of_total" ->
      """WITH rev AS (SELECT n.n_name, count(*) AS n_orders,
        |    sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name),
        |t AS (SELECT *, sum(rev) OVER () AS tot,
        |    rank() OVER (ORDER BY rev DESC, n_name) AS rk
        |  FROM rev)
        |SELECT n_name, n_orders,
        |  floor(CAST(rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue,
        |  floor(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS share,
        |  CAST(rk AS BIGINT) AS rev_rank
        |FROM t ORDER BY n_name""".stripMargin,

    "q188_wow_growth" ->
      """WITH wk AS (SELECT event_type,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) / 7) AS BIGINT) AS week,
        |    sum(CAST(value AS DECIMAL(18,4))) AS wv
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, wv,
        |    lag(wv) OVER (PARTITION BY event_type ORDER BY week) AS prev
        |  FROM wk)
        |SELECT event_type, week,
        |  floor(CAST(wv AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS total_value,
        |  CASE WHEN prev IS NOT NULL THEN
        |    floor(CAST(wv - prev AS DOUBLE) / CAST(prev AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS wow_growth
        |FROM l ORDER BY event_type, week""".stripMargin,

    "q202_window_trio" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, v AS daily_mean,
        |  floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0
        |    AS pr,
        |  floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cd,
        |  nth_value(v, 2) OVER (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_lowest
        |FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY v)
        |ORDER BY event_type, day""".stripMargin,

    "q203_filter_agg" ->
      """SELECT l_returnflag,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |      FILTER (WHERE l_tax > 0.04) AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS taxed_revenue
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q212_histogram_2d" ->
      """WITH b AS (SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9)
        |    AS vb, hour(ts) AS hr
        |  FROM events),
        |g AS (SELECT vb, hr, count(*) AS n FROM b GROUP BY 1, 2)
        |SELECT vb, CAST(hr AS INT) AS hr, n,
        |  CAST(sum(n) OVER (PARTITION BY vb) AS BIGINT) AS row_total,
        |  CAST(sum(n) OVER (PARTITION BY hr) AS BIGINT) AS col_total
        |FROM g ORDER BY vb, hr""".stripMargin,

    "q213_cumulative_uniques" ->
      """WITH f AS (SELECT event_type, user_id,
        |    min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day, count(*) AS new_users
        |  FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM c ORDER BY event_type, day""".stripMargin,

    "q214_growth_accounting" ->
      """WITH wk AS (SELECT DISTINCT
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) / 7) AS BIGINT) AS w, user_id
        |  FROM events),
        |first AS (SELECT user_id, min(w) AS fw FROM wk GROUP BY user_id),
        |cur AS (SELECT wk.w AS week, count(*) AS n_active,
        |    CAST(sum(CASE WHEN f.fw = wk.w THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN p.user_id IS NOT NULL AND f.fw <> wk.w
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN p.user_id IS NULL AND f.fw <> wk.w
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM wk
        |  JOIN first f ON wk.user_id = f.user_id
        |  LEFT JOIN wk p ON p.user_id = wk.user_id AND p.w = wk.w - 1
        |  GROUP BY wk.w),
        |churn AS (SELECT a.w + 1 AS week,
        |    CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS churned_from_prev
        |  FROM wk a LEFT JOIN wk b
        |    ON b.user_id = a.user_id AND b.w = a.w + 1
        |  GROUP BY a.w + 1)
        |SELECT cur.week, cur.n_active, cur.n_new, cur.n_retained,
        |  cur.n_resurrected,
        |  CAST(coalesce(churn.churned_from_prev, 0) AS BIGINT)
        |    AS churned_from_prev
        |FROM cur LEFT JOIN churn ON cur.week = churn.week
        |ORDER BY cur.week""".stripMargin,

    "q215_stickiness" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day
        |  FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM days GROUP BY day),
        |cover AS (SELECT DISTINCT user_id, day + gs.o AS day
        |  FROM days CROSS JOIN
        |    (SELECT unnest(generate_series(0, 6)) AS o) gs),
        |wau AS (SELECT day, count(*) AS wau FROM cover GROUP BY day)
        |SELECT dau.day, dau.dau, wau.wau,
        |  floor(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |WHERE dau.day >= 6 ORDER BY dau.day""".stripMargin,

    "q216_power_users" ->
      """WITH counts AS (SELECT user_id, count(*) AS c
        |  FROM events GROUP BY user_id),
        |census AS (SELECT c AS v, count(*) AS f FROM counts GROUP BY c),
        |cm AS (SELECT v, f,
        |    coalesce(CAST(sum(f) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER () AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (n + 9) // 10 AS kk FROM cm),
        |o AS (SELECT *, greatest(least(kk, n - cum)
        |    - greatest(0, n - cum - f), 0) AS ovl FROM k)
        |SELECT max(n) AS n_users, max(kk) AS top_users,
        |  CAST(sum(ovl * v) AS BIGINT) AS top_events,
        |  CAST(sum(f * v) AS BIGINT) AS all_events,
        |  floor(CAST(sum(ovl * v) AS DOUBLE)
        |    / CAST(sum(f * v) AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS top_decile_share
        |FROM o""".stripMargin,

    "q209_peak_detect" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, v,
        |    lag(v) OVER w AS p, lead(v) OVER w AS n
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type,
        |  CAST(sum(CASE WHEN v > p AND v > n THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_peaks,
        |  CAST(sum(CASE WHEN v < p AND v < n THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_troughs,
        |  floor(CAST(max(CASE WHEN v > p AND v > n THEN v END)
        |      AS DOUBLE) / 10000.0 * 10000.0 + 0.5) / 10000.0
        |    AS max_peak,
        |  min(CASE WHEN v > p AND v > n THEN day END) AS first_peak_day
        |FROM l WHERE p IS NOT NULL AND n IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q210_position_attribution" ->
      """WITH p AS (SELECT user_id AS pu, event_id AS pid, ts AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS tu, event_type AS channel, ts AS tts,
        |    event_id AS tid
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.pid, t.channel, t.tts, t.tid
        |  FROM p JOIN t ON p.pu = t.tu AND t.tts < p.pts
        |    AND epoch_us(p.pts) - epoch_us(t.tts) <= 7 * 86400000000),
        |r AS (SELECT pid, channel,
        |    row_number() OVER (PARTITION BY pid ORDER BY tts, tid)
        |      AS pos,
        |    count(*) OVER (PARTITION BY pid) AS k
        |  FROM j),
        |c AS (SELECT pid, channel, pos, k,
        |    CAST(floor((CASE WHEN k = 1 THEN 1.0 WHEN k = 2 THEN 0.5
        |      WHEN pos = 1 OR pos = k THEN 0.4
        |      ELSE 0.2 / CAST(k - 2 AS DOUBLE) END)
        |      * 1000000.0 + 0.5) AS BIGINT) AS ci
        |  FROM r)
        |SELECT channel, count(*) AS n_touches,
        |  CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_first,
        |  CAST(sum(CASE WHEN pos = k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_last,
        |  floor(CAST(sum(ci) AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS position_credit
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin,

    "q211_roll_spread" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |d1 AS (SELECT event_type, day, v - lag(v) OVER w AS dx
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |dd AS (SELECT event_type, day, dx,
        |    lag(dx) OVER (PARTITION BY event_type ORDER BY day) AS dy
        |  FROM d1),
        |f AS (SELECT event_type, dx, dy FROM dd
        |  WHERE dx IS NOT NULL AND dy IS NOT NULL),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy
        |  FROM f GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |  CASE WHEN n * sxy - sx * sy < 0 THEN
        |    floor(2.0 * sqrt(CAST(sx * sy - n * sxy AS DOUBLE)
        |      / CAST(n * n AS DOUBLE)) / 10000.0 * 1000000.0 + 0.5)
        |      / 1000000.0 END AS roll_spread
        |FROM s ORDER BY event_type""".stripMargin,

    "q237_chisq_residuals" ->
      """WITH o AS (SELECT event_type AS t, hour(ts) AS h,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT t, h, o,
        |    CAST(sum(o) OVER (PARTITION BY t) AS BIGINT) AS rt,
        |    CAST(sum(o) OVER (PARTITION BY h) AS BIGINT) AS ct,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM o),
        |e AS (SELECT t, h, o,
        |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS e
        |  FROM m)
        |SELECT t AS event_type, CAST(h AS INT) AS hr, o AS observed,
        |  floor(e * 10000.0 + 0.5) / 10000.0 AS expected,
        |  floor((CAST(o AS DOUBLE) - e) / sqrt(e) * 10000.0 + 0.5)
        |    / 10000.0 AS std_residual
        |FROM e ORDER BY event_type, hr""".stripMargin,

    "q238_welch_ttest" ->
      """WITH g AS (SELECT event_type,
        |    (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7)
        |      >= 5 AS we,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |m AS (SELECT event_type, we, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS ss
        |  FROM g GROUP BY 1, 2),
        |p AS (SELECT event_type,
        |    max(CASE WHEN NOT we THEN n END) AS n1,
        |    max(CASE WHEN NOT we THEN s END) AS s1,
        |    max(CASE WHEN NOT we THEN ss END) AS ss1,
        |    max(CASE WHEN we THEN n END) AS n2,
        |    max(CASE WHEN we THEN s END) AS s2,
        |    max(CASE WHEN we THEN ss END) AS ss2
        |  FROM m GROUP BY event_type),
        |x AS (SELECT event_type, n1, n2,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS m1,
        |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS m2,
        |    (CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |      / CAST(n1 * (n1 - 1) AS DOUBLE) / 10000.0
        |      / CAST(n1 AS DOUBLE) AS se1,
        |    (CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |      / CAST(n2 * (n2 - 1) AS DOUBLE) / 10000.0
        |      / CAST(n2 AS DOUBLE) AS se2
        |  FROM p)
        |SELECT event_type, n1 AS n_weekday, n2 AS n_weekend,
        |  floor(m1 * 10000.0 + 0.5) / 10000.0 AS mean_weekday,
        |  floor(m2 * 10000.0 + 0.5) / 10000.0 AS mean_weekend,
        |  floor((m1 - m2) / sqrt(se1 + se2) * 10000.0 + 0.5) / 10000.0
        |    AS t,
        |  floor((se1 + se2) * (se1 + se2)
        |    / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
        |      + se2 * se2 / CAST(n2 - 1 AS DOUBLE)) * 100.0 + 0.5)
        |    / 100.0 AS df
        |FROM x ORDER BY event_type""".stripMargin,

    "q239_minmax_scaling" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |m AS (SELECT event_type, v,
        |    CAST(min(v) OVER (PARTITION BY event_type) AS BIGINT) AS mn,
        |    CAST(max(v) OVER (PARTITION BY event_type) AS BIGINT) AS mx
        |  FROM v),
        |sc AS (SELECT event_type, mn, mx,
        |    CAST(floor(CAST(v - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS s
        |  FROM m)
        |SELECT event_type, count(*) AS n,
        |  floor(CAST(max(mn) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
        |    AS v_min,
        |  floor(CAST(max(mx) AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
        |    AS v_max,
        |  floor(CAST(sum(s) AS DOUBLE) / count(*) / 1000000.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS scaled_mean
        |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q240_null_profile" ->
      """WITH ev AS (SELECT 'events' AS table_name, c.column_name,
        |    (SELECT count(*) FROM events) AS n_rows,
        |    CASE c.column_name
        |      WHEN 'event_id' THEN (SELECT count(*) - count(event_id)
        |        FROM events)
        |      WHEN 'ts' THEN (SELECT count(*) - count(ts) FROM events)
        |      WHEN 'user_id' THEN (SELECT count(*) - count(user_id)
        |        FROM events)
        |      WHEN 'event_type' THEN (SELECT count(*) - count(event_type)
        |        FROM events)
        |      WHEN 'value' THEN (SELECT count(*) - count(value)
        |        FROM events)
        |      WHEN 'props' THEN (SELECT count(*) - count(props)
        |        FROM events) END AS n_nulls,
        |    CASE c.column_name WHEN 'value' THEN
        |      (SELECT CAST(sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END)
        |        AS BIGINT) FROM events) ELSE 0 END AS n_nan
        |  FROM (SELECT unnest(['event_id','ts','user_id','event_type',
        |    'value','props']) AS column_name) c),
        |o AS (SELECT 'orders' AS table_name, c.column_name,
        |    (SELECT count(*) FROM orders) AS n_rows,
        |    CASE c.column_name
        |      WHEN 'o_orderkey' THEN (SELECT count(*) - count(o_orderkey)
        |        FROM orders)
        |      WHEN 'o_custkey' THEN (SELECT count(*) - count(o_custkey)
        |        FROM orders)
        |      WHEN 'o_orderstatus' THEN (SELECT count(*)
        |        - count(o_orderstatus) FROM orders)
        |      WHEN 'o_totalprice' THEN (SELECT count(*)
        |        - count(o_totalprice) FROM orders)
        |      WHEN 'o_orderdate' THEN (SELECT count(*)
        |        - count(o_orderdate) FROM orders)
        |      WHEN 'o_orderpriority' THEN (SELECT count(*)
        |        - count(o_orderpriority) FROM orders) END AS n_nulls,
        |    CASE c.column_name WHEN 'o_totalprice' THEN
        |      (SELECT CAST(sum(CASE WHEN isnan(o_totalprice)
        |        THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
        |      ELSE 0 END AS n_nan
        |  FROM (SELECT unnest(['o_orderkey','o_custkey','o_orderstatus',
        |    'o_totalprice','o_orderdate','o_orderpriority'])
        |    AS column_name) c),
        |cu AS (SELECT 'customer' AS table_name, c.column_name,
        |    (SELECT count(*) FROM customer) AS n_rows,
        |    CASE c.column_name
        |      WHEN 'c_custkey' THEN (SELECT count(*) - count(c_custkey)
        |        FROM customer)
        |      WHEN 'c_name' THEN (SELECT count(*) - count(c_name)
        |        FROM customer)
        |      WHEN 'c_nationkey' THEN (SELECT count(*)
        |        - count(c_nationkey) FROM customer)
        |      WHEN 'c_acctbal' THEN (SELECT count(*) - count(c_acctbal)
        |        FROM customer)
        |      WHEN 'c_mktsegment' THEN (SELECT count(*)
        |        - count(c_mktsegment) FROM customer) END AS n_nulls,
        |    CASE c.column_name WHEN 'c_acctbal' THEN
        |      (SELECT CAST(sum(CASE WHEN isnan(c_acctbal)
        |        THEN 1 ELSE 0 END) AS BIGINT) FROM customer)
        |      ELSE 0 END AS n_nan
        |  FROM (SELECT unnest(['c_custkey','c_name','c_nationkey',
        |    'c_acctbal','c_mktsegment']) AS column_name) c)
        |SELECT table_name, column_name, n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls, n_nan
        |FROM (SELECT * FROM ev UNION ALL SELECT * FROM o
        |  UNION ALL SELECT * FROM cu)
        |ORDER BY table_name, column_name""".stripMargin,

    "q234_changepoint_binseg" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |dn AS (SELECT event_type, day, v,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
        |      AS dnum
        |  FROM daily),
        |c AS (SELECT event_type, day, v, dnum,
        |    CAST(row_number() OVER wo AS BIGINT) AS k,
        |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY dnum
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS s
        |  FROM dn WINDOW wo AS (PARTITION BY event_type ORDER BY dnum)),
        |sc AS (SELECT event_type, day,
        |    CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS m1,
        |    CAST(s - cum AS DOUBLE) / CAST(n - k AS DOUBLE) AS m2,
        |    (CAST(cum AS DOUBLE) / CAST(k AS DOUBLE)
        |      - CAST(s - cum AS DOUBLE) / CAST(n - k AS DOUBLE))
        |    * (CAST(cum AS DOUBLE) / CAST(k AS DOUBLE)
        |      - CAST(s - cum AS DOUBLE) / CAST(n - k AS DOUBLE))
        |    * CAST(k * (n - k) AS DOUBLE) / CAST(n AS DOUBLE) AS score
        |  FROM c WHERE k < n),
        |best AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY score DESC, day) AS rn
        |  FROM sc)
        |SELECT event_type, day AS split_after_day,
        |  floor(score / 1.0e8 * 10000.0 + 0.5) / 10000.0 AS score,
        |  floor(m1 / 10000.0 * 10000.0 + 0.5) / 10000.0 AS mean_before,
        |  floor(m2 / 10000.0 * 10000.0 + 0.5) / 10000.0 AS mean_after
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q235_gap_percentiles" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id) AS g
        |  FROM events),
        |f AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
        |census AS (SELECT event_type, g AS v, count(*) AS f
        |  FROM f GROUP BY 1, 2),
        |c AS (SELECT event_type, v, f,
        |    coalesce(CAST(sum(f) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM census),
        |k AS (SELECT *, (50 * n + 99) // 100 AS k50,
        |    (90 * n + 99) // 100 AS k90, (99 * n + 99) // 100 AS k99
        |  FROM c)
        |SELECT event_type, max(n) AS n_gaps,
        |  floor(CAST(max(CASE WHEN cum < k50 AND cum + f >= k50 THEN v
        |    END) AS DOUBLE) / 1000000.0 * 1000.0 + 0.5) / 1000.0
        |    AS p50_sec,
        |  floor(CAST(max(CASE WHEN cum < k90 AND cum + f >= k90 THEN v
        |    END) AS DOUBLE) / 1000000.0 * 1000.0 + 0.5) / 1000.0
        |    AS p90_sec,
        |  floor(CAST(max(CASE WHEN cum < k99 AND cum + f >= k99 THEN v
        |    END) AS DOUBLE) / 1000000.0 * 1000.0 + 0.5) / 1000.0
        |    AS p99_sec
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q236_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  floor(CAST(n_a - n_b AS DOUBLE)
        |    / sqrt(CAST(n_a + n_b AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
        |    AS z,
        |  abs(CAST(n_a - n_b AS DOUBLE)
        |    / sqrt(CAST(n_a + n_b AS DOUBLE))) > 3.0 AS srm_flag
        |FROM g""".stripMargin,

    "q231_seasonal_decompose" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |dn AS (SELECT event_type, day, v,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
        |      AS dn
        |  FROM daily),
        |tr AS (SELECT event_type, day, v, dn, dn % 7 AS dow,
        |    CAST(count(*) OVER w7 AS BIGINT) AS w7n,
        |    CAST(sum(v) OVER w7 AS BIGINT) AS w7s
        |  FROM dn WINDOW w7 AS (PARTITION BY event_type ORDER BY dn
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (SELECT event_type, day, v, dn, dow,
        |    CASE WHEN w7n = 7 THEN CAST(w7s AS DOUBLE) / 7.0 END
        |      AS trend
        |  FROM tr),
        |t3 AS (SELECT *, CASE WHEN trend IS NOT NULL
        |    THEN CAST(v AS DOUBLE) - trend END AS det
        |  FROM t2),
        |seas AS (SELECT event_type, dow, count(*) AS ns,
        |    list_sum(list(det ORDER BY dn)) AS sdet
        |  FROM t3 WHERE det IS NOT NULL GROUP BY 1, 2),
        |s2 AS (SELECT event_type, dow,
        |    sdet / CAST(ns AS DOUBLE) AS seasl
        |  FROM seas)
        |SELECT t3.event_type, t3.day,
        |  floor(CAST(t3.v AS DOUBLE) / 10000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS value,
        |  floor(t3.trend / 10000.0 * 10000.0 + 0.5) / 10000.0 AS trend,
        |  floor(s2.seasl / 10000.0 * 10000.0 + 0.5) / 10000.0
        |    AS seasonal,
        |  floor((t3.det - s2.seasl) / 10000.0 * 10000.0 + 0.5) / 10000.0
        |    AS residual
        |FROM t3 LEFT JOIN s2 ON t3.event_type = s2.event_type
        |  AND t3.dow = s2.dow
        |ORDER BY t3.event_type, t3.day""".stripMargin,

    "q232_rolling_corr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
        |      * 100.0 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(CAST(sum(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
        |      * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |w AS (SELECT day,
        |    CAST(count(*) OVER ww AS BIGINT) AS n,
        |    CAST(sum(x) OVER ww AS BIGINT) AS sx,
        |    CAST(sum(y) OVER ww AS BIGINT) AS sy,
        |    CAST(sum(x * y) OVER ww AS BIGINT) AS sxy,
        |    CAST(sum(x * x) OVER ww AS BIGINT) AS sxx,
        |    CAST(sum(y * y) OVER ww AS BIGINT) AS syy
        |  FROM daily WINDOW ww AS (ORDER BY day
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        |SELECT day,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS rolling_r
        |FROM w WHERE n = 10 ORDER BY day""".stripMargin,

    "q233_hour_entropy_segments" ->
      """WITH ph AS (SELECT user_id, hour(ts) AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, h, c,
        |    CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS t
        |  FROM ph),
        |pu AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |    list_sum(list(t ORDER BY h)) AS s
        |  FROM t GROUP BY user_id),
        |e AS (SELECT user_id,
        |    ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE) AS ent
        |  FROM pu)
        |SELECT CAST(floor(ent / 0.5) AS BIGINT) AS bucket,
        |  count(*) AS n_users,
        |  floor(min(ent) * 10000.0 + 0.5) / 10000.0 AS min_entropy,
        |  floor(max(ent) * 10000.0 + 0.5) / 10000.0 AS max_entropy
        |FROM e GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q230_warehouse_health" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem) AS n_lineitem,
        |  (SELECT count(*) FROM orders) AS n_orders,
        |  (SELECT count(*) FROM customer) AS n_customers,
        |  (SELECT count(*) FROM part) AS n_parts,
        |  (SELECT count(*) FROM supplier) AS n_suppliers,
        |  floor(CAST((SELECT sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    FROM lineitem) AS DOUBLE) * 100.0 + 0.5) / 100.0
        |    AS revenue_checksum,
        |  floor(CAST((SELECT count(*) FROM lineitem) AS DOUBLE)
        |    / CAST((SELECT count(*) FROM orders) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS lines_per_order,
        |  floor(CAST((SELECT count(*) FROM orders) AS DOUBLE)
        |    / CAST((SELECT count(DISTINCT o_custkey) FROM orders)
        |      AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS orders_per_active_customer""".stripMargin,

    "q226_survival_curve" ->
      """WITH u AS (SELECT user_id,
        |    min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
        |      AS fd,
        |    max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)))
        |      AS ld
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(ld - fd AS BIGINT) AS t,
        |    CASE WHEN ld <= 22 THEN 1 ELSE 0 END AS e
        |  FROM u),
        |census AS (SELECT t, CAST(sum(e) AS BIGINT) AS d,
        |    count(*) AS m
        |  FROM t GROUP BY t),
        |c AS (SELECT t, d, m,
        |    coalesce(CAST(sum(m) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cumb,
        |    CAST(sum(m) OVER () AS BIGINT) AS n
        |  FROM census),
        |s AS (SELECT t, d, m, n - cumb AS nrisk,
        |    ln(CAST((n - cumb) - d AS DOUBLE)
        |      / CAST(n - cumb AS DOUBLE)) AS term
        |  FROM c)
        |SELECT t AS tenure_days, nrisk AS n_risk, d AS n_events,
        |  CAST(m - d AS BIGINT) AS n_censored,
        |  floor(exp(sum(term) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    * 1000000.0 + 0.5) / 1000000.0 AS survival
        |FROM s ORDER BY tenure_days""".stripMargin,

    "q227_basket_aov" ->
      """WITH sizes AS (SELECT l_orderkey, count(*) AS basket_size
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT s.basket_size, count(*) AS n_orders,
        |  floor(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4)))
        |      AS DOUBLE) / count(*) * 100.0 + 0.5) / 100.0 AS aov
        |FROM orders o JOIN sizes s ON o.o_orderkey = s.l_orderkey
        |GROUP BY s.basket_size ORDER BY s.basket_size""".stripMargin,

    "q228_langid_prf" ->
      """WITH t AS (
        |  SELECT lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks,
        |    CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '',
        |      'g')) AS DOUBLE) / greatest(length(text), 1) AS cjk
        |  FROM documents),
        |s AS (
        |  SELECT lang, cjk,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist','ich','nicht','mit','ein','zu','den','von'))) AS DOUBLE) / greatest(len(toks), 1) AS s_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','you','that','for','was'))) AS DOUBLE) / greatest(len(toks), 1) AS s_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','es','se','no','los','por'))) AS DOUBLE) / greatest(len(toks), 1) AS s_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','un','une','est','que','dans','pour'))) AS DOUBLE) / greatest(len(toks), 1) AS s_fr,
        |    CAST(len(list_filter(toks, x -> x IN ('的','是','了','在','我','有','和','就','不','人','一','这'))) AS DOUBLE) / greatest(len(toks), 1) AS s_zh
        |  FROM t),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN cjk > 0.2 THEN 'zh'
        |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |         WHEN s_fr >= s_zh THEN 'fr'
        |         ELSE 'zh' END AS lang_pred
        |  FROM s),
        |conf AS (SELECT lang, lang_pred, count(*) AS c
        |  FROM p GROUP BY 1, 2),
        |bt AS (SELECT lang AS lt, CAST(sum(c) AS BIGINT) AS ntrue
        |  FROM conf GROUP BY lang),
        |bp AS (SELECT lang_pred AS lp, CAST(sum(c) AS BIGINT) AS npred
        |  FROM conf GROUP BY lang_pred),
        |tp AS (SELECT lang AS l, CAST(c AS BIGINT) AS tp FROM conf
        |  WHERE lang = lang_pred),
        |j AS (SELECT coalesce(bt.lt, bp.lp) AS lang,
        |    coalesce(bt.ntrue, 0) AS nt, coalesce(bp.npred, 0) AS np,
        |    coalesce(tp.tp, 0) AS tp2
        |  FROM bt FULL JOIN bp ON bt.lt = bp.lp
        |  LEFT JOIN tp ON coalesce(bt.lt, bp.lp) = tp.l)
        |SELECT lang, CAST(nt AS BIGINT) AS n_true,
        |  CAST(np AS BIGINT) AS n_pred, CAST(tp2 AS BIGINT) AS n_correct,
        |  CASE WHEN np > 0 THEN floor(CAST(tp2 AS DOUBLE)
        |    / CAST(np AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END
        |    AS precision,
        |  CASE WHEN nt > 0 THEN floor(CAST(tp2 AS DOUBLE)
        |    / CAST(nt AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END
        |    AS recall,
        |  CASE WHEN np > 0 AND nt > 0 AND tp2 > 0 THEN
        |    floor(2.0 * (CAST(tp2 AS DOUBLE) / CAST(np AS DOUBLE))
        |      * (CAST(tp2 AS DOUBLE) / CAST(nt AS DOUBLE))
        |      / ((CAST(tp2 AS DOUBLE) / CAST(np AS DOUBLE))
        |        + (CAST(tp2 AS DOUBLE) / CAST(nt AS DOUBLE)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS f1
        |FROM j ORDER BY lang""".stripMargin,

    "q229_fk_audit" ->
      """SELECT * FROM (
        |  SELECT 'customer.c_nationkey->nation' AS relationship,
        |    (SELECT count(*) FROM customer) AS n_rows,
        |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |      AS n_orphans
        |  UNION ALL SELECT 'lineitem.l_orderkey->orders',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL SELECT 'lineitem.l_partkey->part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'orders.o_custkey->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |ORDER BY relationship""".stripMargin,

    "q223_kl_divergence" ->
      """WITH binned AS (SELECT
        |    least(CAST(floor(value / 25.0) AS BIGINT), 19) AS b,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS q
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1),
        |t AS (SELECT b, p, q,
        |    CAST(sum(p) OVER () AS BIGINT) AS np,
        |    CAST(sum(q) OVER () AS BIGINT) AS nq
        |  FROM binned),
        |terms AS (SELECT b, np, nq,
        |    (CAST(p + 1 AS DOUBLE) / CAST(np + 20 AS DOUBLE))
        |      * ln((CAST(p + 1 AS DOUBLE) / CAST(np + 20 AS DOUBLE))
        |        / (CAST(q + 1 AS DOUBLE) / CAST(nq + 20 AS DOUBLE)))
        |      AS t
        |  FROM t)
        |SELECT max(np) AS n_click, max(nq) AS n_view,
        |  floor(list_sum(list(t ORDER BY b)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS kl
        |FROM terms""".stripMargin,

    "q224_lorenz_curve" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |      AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS r
        |  FROM orders GROUP BY o_custkey),
        |census AS (SELECT r AS v, count(*) AS f FROM rev GROUP BY r),
        |c AS (SELECT v, f,
        |    coalesce(CAST(sum(f) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER () AS BIGINT) AS n
        |  FROM census),
        |x AS (SELECT c.*, ds.d, (ds.d * c.n) // 10 AS k
        |  FROM c CROSS JOIN
        |    (SELECT unnest(generate_series(1, 10)) AS d) ds),
        |g AS (SELECT d AS decile,
        |    CAST(sum(v * greatest(least(k, cum + f) - cum, 0)) AS BIGINT)
        |      AS below,
        |    CAST(sum(v * f) AS BIGINT) AS total,
        |    max(n) AS n_customers
        |  FROM x GROUP BY d)
        |SELECT decile, n_customers,
        |  floor(CAST(below AS DOUBLE) / CAST(total AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS cum_share
        |FROM g ORDER BY decile""".stripMargin,

    "q225_peak_concurrency" ->
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS t,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |b AS (SELECT user_id, event_id, t,
        |    CASE WHEN prev IS NULL OR t - prev > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |sid AS (SELECT user_id, t,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM b),
        |sessions AS (SELECT user_id, sid, min(t) AS s, max(t) AS e
        |  FROM sid GROUP BY 1, 2),
        |bounds AS (SELECT user_id, s AS t, 1 AS delta FROM sessions
        |  UNION ALL SELECT user_id, e, -1 FROM sessions),
        |run AS (SELECT t, CAST(sum(delta) OVER (
        |    ORDER BY t, delta DESC, user_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS conc
        |  FROM bounds),
        |pk AS (SELECT max(conc) AS peak FROM run),
        |at_ AS (SELECT run.conc, min(run.t) AS at FROM run
        |  GROUP BY run.conc),
        |ns AS (SELECT count(*) AS n_sessions FROM sessions)
        |SELECT ns.n_sessions, pk.peak AS peak_concurrency,
        |  CAST(make_timestamp(at_.at) AS TIMESTAMP) AS peak_at
        |FROM pk JOIN at_ ON at_.conc = pk.peak CROSS JOIN ns""".stripMargin,

    "q221_conditional_entropy" ->
      """WITH t AS (SELECT event_type AS a,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b
        |  FROM events),
        |trans AS (SELECT a, b, count(*) AS c FROM t
        |  WHERE b IS NOT NULL GROUP BY a, b),
        |bya AS (SELECT a, CAST(sum(c) AS BIGINT) AS na FROM trans
        |  GROUP BY a),
        |sa AS (SELECT CAST(sum(na) AS BIGINT) AS n,
        |    list_sum(list(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE))
        |      ORDER BY a)) AS s
        |  FROM bya),
        |sc AS (SELECT count(*) AS n_cells,
        |    list_sum(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |      ORDER BY a, b)) AS s
        |  FROM trans)
        |SELECT sa.n AS n_transitions, sc.n_cells,
        |  floor((sa.s - sc.s) / CAST(sa.n AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS h_next_given_cur
        |FROM sa CROSS JOIN sc""".stripMargin,

    "q222_runs_test" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |d1 AS (SELECT event_type, day, v - lag(v) OVER w AS d
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |sgn AS (SELECT event_type, day,
        |    CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
        |  FROM d1 WHERE d IS NOT NULL AND d <> 0),
        |p AS (SELECT event_type, s,
        |    lag(s) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM sgn),
        |st AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nm,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0
        |      END) AS BIGINT) AS r
        |  FROM p GROUP BY event_type)
        |SELECT event_type, n AS n_moves, np AS n_up, nm AS n_down,
        |  r AS runs,
        |  CASE WHEN np > 0 AND nm > 0 AND n > 1 THEN
        |    floor((CAST(r AS DOUBLE)
        |      - (2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
        |        / CAST(n AS DOUBLE) + 1.0))
        |    / sqrt(((2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
        |        / CAST(n AS DOUBLE) + 1.0) - 1.0)
        |      * ((2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)
        |        / CAST(n AS DOUBLE) + 1.0) - 2.0)
        |      / (CAST(n AS DOUBLE) - 1.0))
        |    * 10000.0 + 0.5) / 10000.0 END AS z
        |FROM st ORDER BY event_type""".stripMargin,

    "q219_provenance_dups" ->
      """WITH census AS (SELECT md5(text) AS h, source, count(*) AS f
        |  FROM documents GROUP BY 1, 2),
        |spread AS (SELECT h, count(DISTINCT source) AS nsrc
        |  FROM census GROUP BY h)
        |SELECT census.source,
        |  CAST(sum(census.f) AS BIGINT) AS n_docs,
        |  CAST(sum(greatest(census.f - 1, 0)) AS BIGINT)
        |    AS n_dup_in_source,
        |  CAST(sum(CASE WHEN spread.nsrc >= 2 THEN census.f ELSE 0 END)
        |    AS BIGINT) AS n_cross_source
        |FROM census JOIN spread ON census.h = spread.h
        |GROUP BY census.source ORDER BY census.source""".stripMargin,

    "q220_bigram_coverage" ->
      """WITH t AS (SELECT string_split_regex(trim(lower(text)), '\s+')
        |    AS toks
        |  FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, length(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE length(toks) >= 2),
        |census AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
        |r AS (SELECT c,
        |    row_number() OVER (ORDER BY c DESC, bg) AS rn
        |  FROM census)
        |SELECT count(*) AS n_grams,
        |  CAST(sum(c) AS BIGINT) AS total_occurrences,
        |  CAST(sum(CASE WHEN rn <= 100 THEN c ELSE 0 END) AS BIGINT)
        |    AS top100_occurrences,
        |  floor(CAST(sum(CASE WHEN rn <= 100 THEN c ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(c) AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS coverage
        |FROM r""".stripMargin,

    "q217_share_of_parent" ->
      """WITH base AS (SELECT r.r_name, n.n_name, o.o_totalprice
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey),
        |bn AS (SELECT r_name, n_name,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS nrev,
        |    count(*) AS n_orders
        |  FROM base GROUP BY 1, 2),
        |br AS (SELECT r_name,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rrev
        |  FROM base GROUP BY 1),
        |w AS (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) AS wrev
        |  FROM base)
        |SELECT bn.r_name, bn.n_name, bn.n_orders,
        |  floor(CAST(bn.nrev AS DOUBLE) * 100.0 + 0.5) / 100.0
        |    AS revenue,
        |  floor(CAST(bn.nrev AS DOUBLE) / CAST(br.rrev AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS share_of_region,
        |  floor(CAST(bn.nrev AS DOUBLE) / CAST(w.wrev AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS share_of_world
        |FROM bn JOIN br ON bn.r_name = br.r_name CROSS JOIN w
        |ORDER BY bn.r_name, bn.n_name""".stripMargin,

    "q218_abc_analysis" ->
      """WITH parts AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT sum(rev) AS tot FROM parts),
        |c AS (SELECT l_partkey, rev,
        |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM parts),
        |x AS (SELECT rev,
        |    CASE WHEN CAST(cum AS DOUBLE) / CAST(t.tot AS DOUBLE) <= 0.8
        |      THEN 'A'
        |      WHEN CAST(cum AS DOUBLE) / CAST(t.tot AS DOUBLE) <= 0.95
        |      THEN 'B' ELSE 'C' END AS abc
        |  FROM c CROSS JOIN t)
        |SELECT abc, count(*) AS n_parts,
        |  floor(CAST(sum(rev) AS DOUBLE) * 100.0 + 0.5) / 100.0
        |    AS class_revenue
        |FROM x GROUP BY abc ORDER BY abc""".stripMargin,

    "q208_training_assembly" ->
      """WITH ev AS (SELECT user_id, event_type, value, ts, event_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |      AS INT) AS day
        |  FROM events),
        |pre AS (SELECT * FROM ev WHERE day < 20),
        |lt AS (SELECT user_id, event_type AS last_event_type
        |  FROM (SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM pre)
        |  WHERE rn = 1),
        |f AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CASE WHEN day >= 13 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events_7d,
        |    floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_value,
        |    count(DISTINCT day) AS days_active
        |  FROM pre GROUP BY user_id),
        |lbl AS (SELECT DISTINCT user_id FROM ev
        |  WHERE day >= 20 AND day < 27 AND event_type = 'purchase'),
        |j AS (SELECT f.user_id, f.n_events, f.n_events_7d, f.mean_value,
        |    f.days_active, lt.last_event_type,
        |    CASE WHEN lbl.user_id IS NOT NULL THEN 1 ELSE 0 END AS label,
        |    CAST(CAST(('0x' || substr(md5(concat('split', ':',
        |      CAST(f.user_id AS VARCHAR))), 1, 6)) AS BIGINT) AS DOUBLE)
        |      / 16777216.0 AS u
        |  FROM f JOIN lt ON f.user_id = lt.user_id
        |  LEFT JOIN lbl ON f.user_id = lbl.user_id)
        |SELECT user_id, n_events, n_events_7d, mean_value, days_active,
        |  last_event_type, CAST(label AS BIGINT) AS label,
        |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM j ORDER BY user_id""".stripMargin,

    "q207_closeness" ->
      """WITH RECURSIVE act AS (
        |  SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', ts) AS h
        |  FROM events WHERE user_id % 7 = 0),
        |edges AS (SELECT DISTINCT a.user_id AS s, b.user_id AS d
        |  FROM act a JOIN act b
        |    ON a.event_type = b.event_type AND a.h = b.h
        |  WHERE a.user_id <> b.user_id),
        |walk(node, lvl) AS (
        |  SELECT min(s) AS node, 0 AS lvl FROM edges
        |  UNION ALL
        |  SELECT DISTINCT e.d, w.lvl + 1
        |  FROM walk w JOIN edges e ON e.s = w.node
        |  WHERE w.lvl < 4),
        |dist AS (SELECT node, min(lvl) AS dist FROM walk GROUP BY node)
        |SELECT count(*) AS n_reached,
        |  CAST(max(dist) AS BIGINT) AS eccentricity,
        |  CASE WHEN sum(dist) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(floor(CAST(count(*) - 1 AS DOUBLE)
        |      / CAST(sum(dist) AS DOUBLE)
        |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)
        |      / CAST(1000000 AS DOUBLE) END AS closeness
        |FROM dist""".stripMargin,

    "q204_dow_heatmap" ->
      """SELECT event_type,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
        |    AS INT) AS dow,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY event_type, dow""".stripMargin,

    "q205_decile_lift" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, lang,
        |  -6.0
        |  + 5.0 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |           AS DOUBLE) / greatest(length(text), 1))
        |  + 4.0 * (CAST(length(list_filter(toks,
        |           t -> t IN ('the','a','of','and','in','to','is')))
        |           AS DOUBLE) / greatest(length(toks), 1))
        |  + 0.25 * (CAST(length(text) - length(toks) + 1 AS DOUBLE)
        |           / greatest(length(toks), 1))
        |  + 0.6 * ln(1.0 + CAST(length(toks) AS DOUBLE)) AS z
        |  FROM t),
        |sc AS (SELECT floor(1.0 / (1.0 + exp(-z)) * 10000.0 + 0.5)
        |    / 10000.0 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM z),
        |census AS (SELECT s, count(*) AS f,
        |    CAST(sum(y) AS BIGINT) AS pos
        |  FROM sc GROUP BY s),
        |c AS (SELECT s, f, pos,
        |    coalesce(CAST(sum(f) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cum,
        |    CAST(sum(f) OVER () AS BIGINT) AS n
        |  FROM census),
        |x AS (SELECT c.*, ds.d,
        |    greatest(least((ds.d + 1) * c.n // 10, c.n - c.cum)
        |      - greatest(ds.d * c.n // 10, c.n - c.cum - c.f), 0)
        |      AS ovl
        |  FROM c CROSS JOIN
        |    (SELECT unnest(generate_series(0, 9)) AS d) ds),
        |g AS (SELECT d AS decile,
        |    CAST(sum(ovl) AS BIGINT) AS n_docs,
        |    CAST(sum(pos * ovl) AS BIGINT) AS nw,
        |    CAST(sum(f * ovl) AS BIGINT) AS dw
        |  FROM x GROUP BY d),
        |o AS (SELECT CAST(sum(y) AS BIGINT) AS allpos,
        |    count(*) AS alln FROM sc)
        |SELECT decile, n_docs,
        |  floor(CAST(nw AS DOUBLE) / CAST(dw AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS rate,
        |  floor((CAST(nw AS DOUBLE) / CAST(dw AS DOUBLE))
        |    / (CAST(allpos AS DOUBLE) / CAST(alln AS DOUBLE))
        |    * 10000.0 + 0.5) / 10000.0 AS lift
        |FROM g CROSS JOIN o ORDER BY decile""".stripMargin,

    "q206_cohort_ltv" ->
      """WITH weeks AS (SELECT user_id, event_type, value,
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) / 7) AS BIGINT) AS w
        |  FROM events),
        |cohorts AS (SELECT user_id, min(w) AS cw
        |  FROM weeks GROUP BY user_id),
        |sizes AS (SELECT cw, count(*) AS nu FROM cohorts GROUP BY cw),
        |rev AS (SELECT c.cw, wk.w - c.cw AS week_offset,
        |    sum(CAST(wk.value AS DECIMAL(18,4))) AS rev
        |  FROM weeks wk JOIN cohorts c ON wk.user_id = c.user_id
        |  WHERE wk.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (SELECT cw, week_offset,
        |    sum(rev) OVER (PARTITION BY cw ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
        |  FROM rev)
        |SELECT cum.cw AS cohort_week, cum.week_offset,
        |  CAST(sizes.nu AS BIGINT) AS n_users,
        |  floor(CAST(cum.cr AS DOUBLE) / CAST(sizes.nu AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS cum_rev_per_user
        |FROM cum JOIN sizes ON cum.cw = sizes.cw
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q200_corpus_health" ->
      """WITH t AS (SELECT doc_id, text, lang,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id, text, lang, toks,
        |  -6.0
        |  + 5.0 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |           AS DOUBLE) / greatest(length(text), 1))
        |  + 4.0 * (CAST(length(list_filter(toks,
        |           t -> t IN ('the','a','of','and','in','to','is')))
        |           AS DOUBLE) / greatest(length(toks), 1))
        |  + 0.25 * (CAST(length(text) - length(toks) + 1 AS DOUBLE)
        |           / greatest(length(toks), 1))
        |  + 0.6 * ln(1.0 + CAST(length(toks) AS DOUBLE)) AS z
        |  FROM t),
        |base AS (SELECT md5(text) AS h,
        |    CAST(floor(1.0 / (1.0 + exp(-z)) * 10000.0 + 0.5) AS BIGINT)
        |      AS q,
        |    CAST(length(toks) AS BIGINT) AS tok, lang
        |  FROM z),
        |top AS (SELECT lang AS top_lang, c AS top_lang_docs
        |  FROM (SELECT lang, count(*) AS c,
        |      row_number() OVER (ORDER BY count(*) DESC, lang) AS rn
        |    FROM base GROUP BY lang)
        |  WHERE rn = 1),
        |agg AS (SELECT count(*) AS n_docs,
        |    count(DISTINCT h) AS dh,
        |    CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(sum(tok) AS BIGINT) AS total_tokens,
        |    count(DISTINCT lang) AS n_langs
        |  FROM base)
        |SELECT n_docs,
        |  floor(CAST(n_docs - dh AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS dup_rate,
        |  total_tokens,
        |  floor(CAST(sq AS DOUBLE) / n_docs / 10000.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
        |  n_langs, top_lang, top_lang_docs
        |FROM agg CROSS JOIN top""".stripMargin,

    "q197_item_cooccurrence" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |cnt AS (SELECT p, count(*) AS ci FROM op GROUP BY p),
        |pairs AS (SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_both
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2),
        |x AS (SELECT part_a, part_b, n_both,
        |    floor(CAST(n_both AS DOUBLE)
        |      / sqrt(CAST(ca.ci AS DOUBLE) * CAST(cb.ci AS DOUBLE))
        |      * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |  FROM pairs
        |  JOIN cnt ca ON pairs.part_a = ca.p
        |  JOIN cnt cb ON pairs.part_b = cb.p)
        |SELECT part_a, part_b, n_both, cosine FROM x
        |ORDER BY cosine DESC, part_a, part_b LIMIT 10""".stripMargin,

    "q198_degree_powerlaw" ->
      """WITH deg AS (SELECT l_suppkey, count(*) AS d
        |  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)
        |  GROUP BY l_suppkey),
        |census AS (SELECT d, count(*) AS f FROM deg GROUP BY d),
        |t AS (SELECT d, f,
        |    CAST(f AS DOUBLE) * ln(CAST(d AS DOUBLE) / 0.5) AS t
        |  FROM census),
        |a AS (SELECT CAST(sum(f) AS BIGINT) AS n,
        |    min(d) AS dmin, max(d) AS dmax,
        |    list_sum(list(t ORDER BY d)) AS sl
        |  FROM t)
        |SELECT n AS n_nodes, dmin AS d_min, dmax AS d_max,
        |  floor((1.0 + CAST(n AS DOUBLE) / sl) * 10000.0 + 0.5)
        |    / 10000.0 AS alpha
        |FROM a""".stripMargin,

    "q199_week_overlap" ->
      """WITH wk AS (SELECT DISTINCT
        |    CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) / 7) AS BIGINT) AS w, user_id
        |  FROM events),
        |sizes AS (SELECT w, count(*) AS n FROM wk GROUP BY w),
        |common AS (SELECT a.w, count(*) AS c
        |  FROM wk a JOIN wk b ON a.user_id = b.user_id
        |    AND b.w = a.w + 1
        |  GROUP BY a.w)
        |SELECT s1.w AS week_a, s1.w + 1 AS week_b,
        |  s1.n AS n_a, s2.n AS n_b,
        |  CAST(coalesce(common.c, 0) AS BIGINT) AS n_common,
        |  floor(CAST(coalesce(common.c, 0) AS DOUBLE)
        |    / CAST(s1.n + s2.n - coalesce(common.c, 0) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM sizes s1
        |JOIN sizes s2 ON s2.w = s1.w + 1
        |LEFT JOIN common ON common.w = s1.w
        |ORDER BY week_a""".stripMargin,

    "q193_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 300
        |      THEN 1 ELSE 0 END) AS conv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |g AS (SELECT variant, count(*) AS n, CAST(sum(conv) AS BIGINT)
        |    AS c
        |  FROM u GROUP BY variant),
        |o AS (SELECT
        |    max(CASE WHEN variant = 0 THEN n END) AS na,
        |    max(CASE WHEN variant = 0 THEN c END) AS ca,
        |    max(CASE WHEN variant = 1 THEN n END) AS nb,
        |    max(CASE WHEN variant = 1 THEN c END) AS cb
        |  FROM g)
        |SELECT na AS n_a, ca AS conv_a, nb AS n_b, cb AS conv_b,
        |  floor(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS p_a,
        |  floor(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS p_b,
        |  CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN
        |    floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
        |        - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
        |      / sqrt((CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |        * (1.0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |        * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
        |      * 10000.0 + 0.5) / 10000.0 END AS z
        |FROM o""".stripMargin,

    "q194_bootstrap_ci" ->
      """WITH base AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v, r.rep
        |  FROM events CROSS JOIN
        |    (SELECT unnest(generate_series(1, 20)) AS rep) r),
        |w AS (SELECT event_type, rep, v,
        |    CAST(CAST(('0x' || substr(md5(concat(
        |      CAST(event_id AS VARCHAR), ':', CAST(rep AS VARCHAR))),
        |      1, 6)) AS BIGINT) AS DOUBLE) / 16777216.0 AS u
        |  FROM base),
        |ww AS (SELECT event_type, rep, v,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238462 THEN 3 ELSE 4 END AS w
        |  FROM w),
        |rm AS (SELECT event_type, rep,
        |    CAST(sum(w * v) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 100.0
        |      AS m
        |  FROM ww GROUP BY 1, 2),
        |rk AS (SELECT event_type, m,
        |    row_number() OVER (PARTITION BY event_type ORDER BY m, rep)
        |      AS rn
        |  FROM rm),
        |ci AS (SELECT event_type, count(*) AS n_reps,
        |    max(CASE WHEN rn = 2 THEN m END) AS lo,
        |    max(CASE WHEN rn = 19 THEN m END) AS hi
        |  FROM rk GROUP BY event_type),
        |pt AS (SELECT event_type AS et,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |      AS mean
        |  FROM events GROUP BY 1)
        |SELECT ci.event_type, ci.n_reps,
        |  floor(pt.mean * 1000000.0 + 0.5) / 1000000.0 AS mean,
        |  floor(ci.lo * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
        |  floor(ci.hi * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
        |FROM ci JOIN pt ON ci.event_type = pt.et
        |ORDER BY ci.event_type""".stripMargin,

    "q191_multi_touch" ->
      """WITH p AS (SELECT user_id AS pu, event_id AS pid, ts AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS tu, event_type AS channel, ts AS tts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.pid, t.channel,
        |    (epoch_us(p.pts) - epoch_us(t.tts)) // 86400000000 AS age
        |  FROM p JOIN t ON p.pu = t.tu AND t.tts < p.pts
        |    AND epoch_us(p.pts) - epoch_us(t.tts) <= 7 * 86400000000),
        |w AS (SELECT pid, channel,
        |    power(0.5, CAST(age AS DOUBLE)) AS w,
        |    sum(power(0.5, CAST(age AS DOUBLE))) OVER (PARTITION BY pid)
        |      AS sw,
        |    count(*) OVER (PARTITION BY pid) AS k
        |  FROM j),
        |g AS (SELECT pid, channel,
        |    CAST(floor(w / sw * 1000000.0 + 0.5) AS BIGINT) AS decay,
        |    CAST(floor(1000000.0 / k + 0.5) AS BIGINT) AS lin
        |  FROM w)
        |SELECT channel, count(*) AS n_touches,
        |  count(DISTINCT pid) AS n_conversions,
        |  floor(CAST(sum(lin) AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS linear_credit,
        |  floor(CAST(sum(decay) AS DOUBLE) / 1000000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS decay_credit
        |FROM g GROUP BY channel ORDER BY channel""".stripMargin,

    "q192_holt" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |arr AS (SELECT event_type, list(v ORDER BY day) AS vs
        |  FROM daily GROUP BY event_type),
        |f AS (SELECT event_type, len(vs) AS n_days,
        |    list_reduce(
        |      list_prepend([vs[1], vs[2] - vs[1]],
        |        list_transform(vs[3:], v -> [v, CAST(0.0 AS DOUBLE)])),
        |      (a, x) -> [0.3 * x[1] + 0.7 * (a[1] + a[2]),
        |        0.2 * ((0.3 * x[1] + 0.7 * (a[1] + a[2])) - a[1])
        |          + 0.8 * a[2]]) AS st
        |  FROM arr WHERE len(vs) >= 2)
        |SELECT event_type, CAST(n_days AS INT) AS n_days,
        |  floor(st[1] * 1000000.0 + 0.5) / 1000000.0 AS level,
        |  floor(st[2] * 1000000.0 + 0.5) / 1000000.0 AS trend,
        |  floor((st[1] + st[2]) * 1000000.0 + 0.5) / 1000000.0
        |    AS forecast_next
        |FROM f ORDER BY event_type""".stripMargin,

    "q189_hurst" ->
      """WITH daily0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT event_type, v,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      - 1 AS BIGINT) AS idx
        |  FROM daily0),
        |blocks0 AS (SELECT d.event_type, d.v, d.idx, sz.bn,
        |    d.idx // sz.bn AS bid, d.idx % sz.bn AS rn
        |  FROM daily d CROSS JOIN
        |    (SELECT unnest([5, 10, 15]) AS bn) sz),
        |blocks AS (SELECT event_type, bn, bid, rn, v,
        |    CAST(sum(v) OVER (PARTITION BY event_type, bn, bid
        |      ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(v) OVER wb AS BIGINT) AS sb,
        |    CAST(sum(v * v) OVER wb AS BIGINT) AS ssb,
        |    CAST(count(*) OVER wb AS BIGINT) AS cnt
        |  FROM blocks0
        |  WINDOW wb AS (PARTITION BY event_type, bn, bid)),
        |z AS (SELECT event_type, bn, bid,
        |    CAST(cum AS DOUBLE) - CAST(rn + 1 AS DOUBLE)
        |      * (CAST(sb AS DOUBLE) / CAST(bn AS DOUBLE)) AS z,
        |    sb, ssb
        |  FROM blocks WHERE cnt = bn AND bn * ssb <> sb * sb),
        |rs AS (SELECT event_type, bn, bid,
        |    (max(z) - min(z))
        |      / sqrt((CAST(max(ssb) AS DOUBLE)
        |        - CAST(max(sb) AS DOUBLE) * CAST(max(sb) AS DOUBLE)
        |        / CAST(max(bn) AS DOUBLE)) / CAST(max(bn) AS DOUBLE))
        |      AS rs
        |  FROM z GROUP BY 1, 2, 3),
        |y AS (SELECT event_type, bn, count(*) AS nb,
        |    ln(list_sum(list(rs ORDER BY bid)) / count(*)) AS y
        |  FROM rs GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(nb) AS BIGINT) AS n_blocks,
        |  floor((3.0 * (ln(5.0) * max(CASE WHEN bn = 5 THEN y END)
        |      + ln(10.0) * max(CASE WHEN bn = 10 THEN y END)
        |      + ln(15.0) * max(CASE WHEN bn = 15 THEN y END))
        |    - (ln(5.0) + ln(10.0) + ln(15.0))
        |      * (max(CASE WHEN bn = 5 THEN y END)
        |        + max(CASE WHEN bn = 10 THEN y END)
        |        + max(CASE WHEN bn = 15 THEN y END)))
        |    / (3.0 * (ln(5.0) * ln(5.0) + ln(10.0) * ln(10.0)
        |      + ln(15.0) * ln(15.0))
        |      - (ln(5.0) + ln(10.0) + ln(15.0))
        |        * (ln(5.0) + ln(10.0) + ln(15.0)))
        |    * 10000.0 + 0.5) / 10000.0 AS hurst
        |FROM y GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q190_cross_corr" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |f AS (SELECT event_type, day, ri FROM r
        |  WHERE p IS NOT NULL AND p <> 0),
        |j AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.ri AS x, b.ri AS y
        |  FROM f a JOIN f b
        |    ON a.day = b.day AND a.event_type < b.event_type),
        |s AS (SELECT type_a, type_b, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM j GROUP BY 1, 2)
        |SELECT type_a, type_b, n AS n_days,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS r
        |FROM s ORDER BY type_a, type_b""".stripMargin,

    "q241_decision_stump" ->
      """WITH census AS (SELECT CAST(extract(hour FROM ts) AS BIGINT)
        |      AS h, count(*) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p
        |  FROM events GROUP BY 1),
        |c AS (SELECT h,
        |    CAST(sum(n) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS nl,
        |    CAST(sum(p) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS pl,
        |    CAST(sum(n) OVER () AS BIGINT) AS nt,
        |    CAST(sum(p) OVER () AS BIGINT) AS pt
        |  FROM census),
        |g AS (SELECT h, nl, pl, nt, pt,
        |    1.0 - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
        |      - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)) AS gp,
        |    1.0 - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
        |      * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
        |      - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE))
        |      * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)) AS gl,
        |    1.0 - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
        |      * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
        |      - (CAST((nt - nl) - (pt - pl) AS DOUBLE)
        |        / CAST(nt - nl AS DOUBLE))
        |      * (CAST((nt - nl) - (pt - pl) AS DOUBLE)
        |        / CAST(nt - nl AS DOUBLE)) AS gr
        |  FROM c WHERE nt - nl > 0)
        |SELECT h AS split_hour, nl AS n_left, nt - nl AS n_right,
        |  floor(gp * 1000000.0 + 0.5) / 1000000.0 AS gini_parent,
        |  floor((gp - (CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE)) * gl
        |    - (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE)) * gr)
        |    * 1000000.0 + 0.5) / 1000000.0 AS gain
        |FROM g ORDER BY gain DESC, split_hour LIMIT 1""".stripMargin,

    "q245_lexical_richness" ->
      """WITH t AS (SELECT source, unnest(string_split_regex(
        |      trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, count(*) AS c FROM t
        |  WHERE tok <> '' GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM c GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS ttr,
        |  floor(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS hapax_ratio
        |FROM s ORDER BY source""".stripMargin,

    "q246_jsd" ->
      """WITH e AS (SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
        |      AS dw
        |  FROM events),
        |cells AS (SELECT event_type,
        |    CAST(sum(CASE WHEN dw < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cp,
        |    CAST(sum(CASE WHEN dw >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cq
        |  FROM e GROUP BY 1),
        |m AS (SELECT event_type, cp, cq,
        |    sum(cp) OVER () AS np, sum(cq) OVER () AS nq FROM cells),
        |p AS (SELECT event_type, cp, cq, np, nq,
        |    CAST(cp AS DOUBLE) / np AS p, CAST(cq AS DOUBLE) / nq AS q
        |  FROM m),
        |t AS (SELECT event_type, np, nq,
        |    CASE WHEN cp > 0 THEN p * ln(p / ((p + q) / 2.0))
        |      ELSE 0.0 END AS tp,
        |    CASE WHEN cq > 0 THEN q * ln(q / ((p + q) / 2.0))
        |      ELSE 0.0 END AS tq
        |  FROM p)
        |SELECT CAST(max(np) AS BIGINT) AS n_weekday,
        |  CAST(max(nq) AS BIGINT) AS n_weekend,
        |  floor((list_sum(list(tp ORDER BY event_type))
        |    + list_sum(list(tq ORDER BY event_type))) / 2.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS jsd_nats
        |FROM t""".stripMargin,

    "q247_assortativity" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |  FROM lineitem),
        |ds AS (SELECT s, count(*) AS degs FROM e GROUP BY 1),
        |dp AS (SELECT p, count(*) AS degp FROM e GROUP BY 1),
        |m AS (SELECT count(*) AS m,
        |    CAST(sum(degs) AS BIGINT) AS sx,
        |    CAST(sum(degp) AS BIGINT) AS sy,
        |    CAST(sum(degs * degp) AS BIGINT) AS sxy,
        |    CAST(sum(degs * degs) AS BIGINT) AS sxx,
        |    CAST(sum(degp * degp) AS BIGINT) AS syy
        |  FROM e JOIN ds USING (s) JOIN dp USING (p))
        |SELECT m AS n_edges,
        |  floor((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS assortativity
        |FROM m""".stripMargin,

    "q248_wilson_ci" ->
      """WITH n AS (SELECT count(DISTINCT (user_id, CAST(ts AS DATE)))
        |    AS n FROM events),
        |k AS (SELECT event_type,
        |    count(DISTINCT (user_id, CAST(ts AS DATE))) AS k
        |  FROM events GROUP BY 1),
        |x AS (SELECT event_type, n.n, k.k,
        |    CAST(n.n AS DOUBLE) AS nd,
        |    CAST(k.k AS DOUBLE) / CAST(n.n AS DOUBLE) AS ph
        |  FROM k CROSS JOIN n),
        |w AS (SELECT event_type, n, k, ph,
        |    (ph + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
        |      AS ctr,
        |    1.96 * sqrt(ph * (1.0 - ph) / nd
        |      + (1.96 * 1.96) / (4.0 * nd * nd))
        |      / (1.0 + (1.96 * 1.96) / nd) AS half
        |  FROM x)
        |SELECT event_type, n AS n_users, k AS k_users,
        |  floor(ph * 1000000.0 + 0.5) / 1000000.0 AS p_hat,
        |  floor((ctr - half) * 1000000.0 + 0.5) / 1000000.0 AS ci_lo,
        |  floor((ctr + half) * 1000000.0 + 0.5) / 1000000.0 AS ci_hi
        |FROM w ORDER BY event_type""".stripMargin,

    "q249_cohens_kappa" ->
      """WITH f AS (SELECT
        |    CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 80
        |      THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |c AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM f),
        |p AS (SELECT n, n11 + n00 AS n_agree,
        |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    CAST((n11 + n10) * (n11 + n01)
        |      + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |      / CAST(n * n AS DOUBLE) AS pe
        |  FROM c)
        |SELECT n AS n_docs, n_agree,
        |  floor(po * 1000000.0 + 0.5) / 1000000.0 AS po,
        |  floor(pe * 1000000.0 + 0.5) / 1000000.0 AS pe,
        |  floor((po - pe) / (1.0 - pe) * 1000000.0 + 0.5) / 1000000.0
        |    AS kappa
        |FROM p""".stripMargin,

    "q250_pacf" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4)))
        |      AS DOUBLE) / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1),
        |lagged AS (SELECT event_type, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
        |    lag(x, 3) OVER w AS l3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |la AS (SELECT event_type,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x * l1 END) AS BIGINT)
        |      AS sxy1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx1,
        |    CAST(sum(l1) AS BIGINT) AS sy1,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x * l2 END) AS BIGINT)
        |      AS sxy2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx2,
        |    CAST(sum(l2) AS BIGINT) AS sy2,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN x * l3 END) AS BIGINT)
        |      AS sxy3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx3,
        |    CAST(sum(l3) AS BIGINT) AS sy3
        |  FROM lagged GROUP BY 1),
        |r AS (SELECT g.event_type, g.n,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(sxy1 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx1 AS DOUBLE) + CAST(sy1 AS DOUBLE))
        |      + CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r1,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(sxy2 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx2 AS DOUBLE) + CAST(sy2 AS DOUBLE))
        |      + CAST(n - 2 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r2,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(sxy3 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx3 AS DOUBLE) + CAST(sy3 AS DOUBLE))
        |      + CAST(n - 3 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r3
        |  FROM g JOIN la USING (event_type)),
        |p2 AS (SELECT event_type, n, r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
        |  FROM r),
        |p1 AS (SELECT event_type, n, r1, r2, r3, p22,
        |    r1 - p22 * r1 AS p21
        |  FROM p2),
        |p3 AS (SELECT event_type, n, r1, r2, r3, p22,
        |    (r3 - p21 * r2 - p22 * r1)
        |      / (1.0 - p21 * r1 - p22 * r2) AS p33
        |  FROM p1)
        |SELECT event_type, n AS n_days,
        |  floor(r1 * 1000000.0 + 0.5) / 1000000.0 AS acf_1,
        |  floor(r2 * 1000000.0 + 0.5) / 1000000.0 AS acf_2,
        |  floor(r3 * 1000000.0 + 0.5) / 1000000.0 AS acf_3,
        |  floor(r1 * 1000000.0 + 0.5) / 1000000.0 AS pacf_1,
        |  floor(p22 * 1000000.0 + 0.5) / 1000000.0 AS pacf_2,
        |  floor(p33 * 1000000.0 + 0.5) / 1000000.0 AS pacf_3
        |FROM p3 ORDER BY event_type""".stripMargin,

    "q251_waiting_suppliers" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey,
        |    CASE WHEN l_shipdate > CAST(o_orderdate AS DATE)
        |      + INTERVAL 30 DAY THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ps AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    CAST(max(late) AS BIGINT) AS slate
        |  FROM li GROUP BY 1, 2),
        |po AS (SELECT ok, count(*) AS nsupp,
        |    CAST(sum(slate) AS BIGINT) AS nlate
        |  FROM ps GROUP BY 1)
        |SELECT sk AS s_suppkey, count(*) AS n_blamed_orders
        |FROM ps JOIN po USING (ok)
        |WHERE nsupp >= 2 AND nlate = 1 AND slate = 1
        |GROUP BY 1
        |ORDER BY n_blamed_orders DESC, s_suppkey LIMIT 10""".stripMargin,

    "q252_jarque_bera" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
        |  FROM events),
        |g AS (SELECT event_type, count(*) AS n,
        |    sum(x) AS s1, sum(x * x) AS s2, sum(x * x * x) AS s3,
        |    sum(CAST(x * x AS HUGEINT) * (x * x)) AS s4
        |  FROM v GROUP BY 1),
        |m AS (SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM g),
        |c AS (SELECT event_type, n, mu,
        |    e2 - mu * mu AS m2,
        |    e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu AS m3,
        |    e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m),
        |k AS (SELECT event_type, n,
        |    m3 / (m2 * sqrt(m2)) AS sk, m4 / (m2 * m2) AS ku
        |  FROM c)
        |SELECT event_type, n,
        |  floor(sk * 1000000.0 + 0.5) / 1000000.0 AS skewness,
        |  floor(ku * 1000000.0 + 0.5) / 1000000.0 AS kurtosis,
        |  floor(CAST(n AS DOUBLE) / 6.0 * (sk * sk
        |    + (ku - 3.0) * (ku - 3.0) / 4.0) * 10000.0 + 0.5) / 10000.0
        |    AS jb
        |FROM k ORDER BY event_type""".stripMargin,

    "q253_rank_footrule" ->
      """WITH parts AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS rev,
        |    CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT l_partkey,
        |    CAST(row_number() OVER (ORDER BY rev DESC, l_partkey)
        |      AS BIGINT) AS r1,
        |    CAST(row_number() OVER (ORDER BY qty DESC, l_partkey)
        |      AS BIGINT) AS r2
        |  FROM parts),
        |s AS (SELECT count(*) AS n,
        |    CAST(sum(abs(r1 - r2)) AS BIGINT) AS fr,
        |    CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS d2
        |  FROM r)
        |SELECT n AS n_parts, fr AS footrule,
        |  floor(CAST(fr AS DOUBLE) * 2.0 / CAST(n * n AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS footrule_norm,
        |  floor((1.0 - 6.0 * CAST(d2 AS DOUBLE)
        |    / CAST(n * (n * n - 1) AS DOUBLE)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS spearman_rho
        |FROM s""".stripMargin,

    "q254_geomean_price" ->
      """WITH census AS (SELECT p_brand,
        |    CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS c,
        |    count(*) AS f
        |  FROM part GROUP BY 1, 2),
        |t AS (SELECT p_brand, c,
        |    CAST(f AS DOUBLE) * ln(CAST(c AS DOUBLE) / 100.0) AS t, f
        |  FROM census),
        |g AS (SELECT p_brand, CAST(sum(f) AS BIGINT) AS n_parts,
        |    list_sum(list(t ORDER BY c)) AS sl
        |  FROM t GROUP BY 1)
        |SELECT p_brand, n_parts,
        |  floor(exp(sl / CAST(n_parts AS DOUBLE)) * 10000.0 + 0.5)
        |    / 10000.0 AS geo_mean_price
        |FROM g ORDER BY p_brand""".stripMargin,

    "q255_hhi" ->
      """WITH rev AS (SELECT n_name,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |t AS (SELECT n_name,
        |    CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE) AS sh
        |  FROM rev),
        |g AS (SELECT count(*) AS n_nations,
        |    list_sum(list(sh * sh ORDER BY n_name)) AS hhi
        |  FROM t)
        |SELECT n_nations,
        |  floor(hhi * 1000000.0 + 0.5) / 1000000.0 AS hhi,
        |  floor(1.0 / hhi * 10000.0 + 0.5) / 10000.0 AS effective_n
        |FROM g""".stripMargin,

    "q257_theil" ->
      """WITH u AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |c AS (SELECT x, count(*) AS f FROM u GROUP BY 1),
        |m AS (SELECT x, f, sum(f) OVER () AS n,
        |    sum(f * x) OVER () AS tot FROM c),
        |t AS (SELECT x, n, tot,
        |    CAST(f AS DOUBLE) * (CAST(x AS DOUBLE) / CAST(tot AS DOUBLE))
        |      * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE)
        |        / CAST(tot AS DOUBLE)) AS t
        |  FROM m)
        |SELECT CAST(max(n) AS BIGINT) AS n_users,
        |  CAST(max(tot) AS BIGINT) AS total_events,
        |  floor(list_sum(list(t ORDER BY x)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS theil
        |FROM t""".stripMargin,

    "q258_kendall_tau" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |cd AS (SELECT
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |tx AS (SELECT CAST(sum((f * (f - 1)) // 2) AS BIGINT) AS xt,
        |    CAST(sum(f) AS BIGINT) AS n
        |  FROM (SELECT x, count(*) AS f FROM daily GROUP BY 1) g),
        |ty AS (SELECT CAST(sum((f * (f - 1)) // 2) AS BIGINT) AS yt
        |  FROM (SELECT y, count(*) AS f FROM daily GROUP BY 1) g)
        |SELECT n AS n_days, c AS concordant, d AS discordant,
        |  floor(CAST(c - d AS DOUBLE)
        |    / sqrt(CAST((n * (n - 1)) // 2 - xt AS DOUBLE)
        |      * CAST((n * (n - 1)) // 2 - yt AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS tau_b
        |FROM cd CROSS JOIN tx CROSS JOIN ty""".stripMargin,

    "q256_ljung_box" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4)))
        |      AS DOUBLE) / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1),
        |lagged AS (SELECT event_type, x,
        |    lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
        |    lag(x, 3) OVER w AS l3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |la AS (SELECT event_type,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x * l1 END) AS BIGINT)
        |      AS sxy1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx1,
        |    CAST(sum(l1) AS BIGINT) AS sy1,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x * l2 END) AS BIGINT)
        |      AS sxy2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx2,
        |    CAST(sum(l2) AS BIGINT) AS sy2,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN x * l3 END) AS BIGINT)
        |      AS sxy3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx3,
        |    CAST(sum(l3) AS BIGINT) AS sy3
        |  FROM lagged GROUP BY 1),
        |r AS (SELECT g.event_type, g.n,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(sxy1 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx1 AS DOUBLE) + CAST(sy1 AS DOUBLE))
        |      + CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r1,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(sxy2 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx2 AS DOUBLE) + CAST(sy2 AS DOUBLE))
        |      + CAST(n - 2 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r2,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(sxy3 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx3 AS DOUBLE) + CAST(sy3 AS DOUBLE))
        |      + CAST(n - 3 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r3
        |  FROM g JOIN la USING (event_type))
        |SELECT event_type, n AS n_days,
        |  floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
        |    * (r1 * r1 / (CAST(n AS DOUBLE) - 1.0)
        |      + r2 * r2 / (CAST(n AS DOUBLE) - 2.0)
        |      + r3 * r3 / (CAST(n AS DOUBLE) - 3.0))
        |    * 10000.0 + 0.5) / 10000.0 AS q_lb,
        |  CAST(3 AS BIGINT) AS dof
        |FROM r ORDER BY event_type""".stripMargin,

    "q242_spearman" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |cx AS (SELECT x, count(*) AS f FROM daily GROUP BY 1),
        |rx AS (SELECT x, 2 * COALESCE(sum(f) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + f + 1 AS r2x
        |  FROM cx),
        |cy AS (SELECT y, count(*) AS f FROM daily GROUP BY 1),
        |ry AS (SELECT y, 2 * COALESCE(sum(f) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + f + 1 AS r2y
        |  FROM cy),
        |j AS (SELECT r2x, r2y FROM daily
        |  JOIN rx ON daily.x = rx.x JOIN ry ON daily.y = ry.y),
        |s AS (SELECT count(*) AS n, CAST(sum(r2x) AS BIGINT) AS sx,
        |    CAST(sum(r2y) AS BIGINT) AS sy,
        |    CAST(sum(r2x * r2y) AS BIGINT) AS sxy,
        |    CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
        |    CAST(sum(r2y * r2y) AS BIGINT) AS syy FROM j)
        |SELECT n AS n_days,
        |  floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS rho
        |FROM s""".stripMargin,

    "q243_mann_kendall" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
        |      WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY v),
        |u AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt FROM t)
        |SELECT n AS n_days, s_stat,
        |  floor(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) / 18.0
        |    * 10000.0 + 0.5) / 10000.0 AS var_s,
        |  floor(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)
        |        / 18.0)
        |    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE)
        |        / 18.0)
        |    ELSE 0.0 END * 10000.0 + 0.5) / 10000.0 AS z
        |FROM p CROSS JOIN u""".stripMargin,

    "q244_rfm" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE),
        |      DATE '2024-01-31') AS BIGINT) AS rec,
        |    count(*) AS freq,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) // 100 AS mon
        |  FROM events GROUP BY 1),
        |rc AS (SELECT rec AS v, count(*) AS f FROM u GROUP BY 1),
        |rf AS (SELECT min(CASE WHEN cumi * 5 >= nn * 1 THEN v END) AS t1,
        |    min(CASE WHEN cumi * 5 >= nn * 2 THEN v END) AS t2,
        |    min(CASE WHEN cumi * 5 >= nn * 3 THEN v END) AS t3,
        |    min(CASE WHEN cumi * 5 >= nn * 4 THEN v END) AS t4
        |  FROM (SELECT v, COALESCE(sum(f) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + f
        |      AS cumi, sum(f) OVER () AS nn FROM rc) x),
        |fc AS (SELECT freq AS v, count(*) AS f FROM u GROUP BY 1),
        |ff AS (SELECT min(CASE WHEN cumi * 5 >= nn * 1 THEN v END) AS t1,
        |    min(CASE WHEN cumi * 5 >= nn * 2 THEN v END) AS t2,
        |    min(CASE WHEN cumi * 5 >= nn * 3 THEN v END) AS t3,
        |    min(CASE WHEN cumi * 5 >= nn * 4 THEN v END) AS t4
        |  FROM (SELECT v, COALESCE(sum(f) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + f
        |      AS cumi, sum(f) OVER () AS nn FROM fc) x),
        |mc AS (SELECT mon AS v, count(*) AS f FROM u GROUP BY 1),
        |mf AS (SELECT min(CASE WHEN cumi * 5 >= nn * 1 THEN v END) AS t1,
        |    min(CASE WHEN cumi * 5 >= nn * 2 THEN v END) AS t2,
        |    min(CASE WHEN cumi * 5 >= nn * 3 THEN v END) AS t3,
        |    min(CASE WHEN cumi * 5 >= nn * 4 THEN v END) AS t4
        |  FROM (SELECT v, COALESCE(sum(f) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + f
        |      AS cumi, sum(f) OVER () AS nn FROM mc) x),
        |b AS (SELECT u.freq, u.mon,
        |    6 - (1 + CASE WHEN rec > r.t1 THEN 1 ELSE 0 END
        |      + CASE WHEN rec > r.t2 THEN 1 ELSE 0 END
        |      + CASE WHEN rec > r.t3 THEN 1 ELSE 0 END
        |      + CASE WHEN rec > r.t4 THEN 1 ELSE 0 END) AS br,
        |    1 + CASE WHEN freq > f.t1 THEN 1 ELSE 0 END
        |      + CASE WHEN freq > f.t2 THEN 1 ELSE 0 END
        |      + CASE WHEN freq > f.t3 THEN 1 ELSE 0 END
        |      + CASE WHEN freq > f.t4 THEN 1 ELSE 0 END AS bf,
        |    1 + CASE WHEN mon > m.t1 THEN 1 ELSE 0 END
        |      + CASE WHEN mon > m.t2 THEN 1 ELSE 0 END
        |      + CASE WHEN mon > m.t3 THEN 1 ELSE 0 END
        |      + CASE WHEN mon > m.t4 THEN 1 ELSE 0 END AS bm
        |  FROM u CROSS JOIN rf r CROSS JOIN ff f CROSS JOIN mf m)
        |SELECT concat(br, bf, bm) AS segment, count(*) AS n_users,
        |  floor(CAST(sum(mon) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS mean_monetary,
        |  floor(CAST(sum(freq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 100.0 + 0.5) / 100.0 AS mean_frequency
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q262_mann_whitney" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT x, count(*) AS f FROM v GROUP BY 1),
        |g AS (SELECT x,
        |    2 * coalesce(sum(f) OVER (ORDER BY x ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + f + 1 AS r2,
        |    f * f * f - f AS t3
        |  FROM c),
        |pg AS (SELECT event_type, CAST(sum(fg) AS BIGINT) AS n,
        |    CAST(sum(fg * r2) AS BIGINT) AS rr
        |  FROM (SELECT event_type, x, count(*) AS fg FROM v GROUP BY 1, 2)
        |    p JOIN g USING (x) GROUP BY 1),
        |w AS (SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN n END) AS BIGINT)
        |      AS n1,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN n END) AS BIGINT)
        |      AS n2,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN rr END) AS BIGINT)
        |      AS r2c
        |  FROM pg),
        |t AS (SELECT CAST(sum(t3) AS BIGINT) AS tt FROM g)
        |SELECT n1 AS n_click, n2 AS n_view,
        |  floor(CAST(r2c - n1 * (n1 + 1) AS DOUBLE) / 2.0 * 10.0 + 0.5)
        |    / 10.0 AS u_click,
        |  floor((CAST(r2c - n1 * (n1 + 1) AS DOUBLE)
        |      - CAST(n1 * n2 AS DOUBLE))
        |    / (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
        |      * ((CAST(n1 + n2 AS DOUBLE) + 1.0) - CAST(tt AS DOUBLE)
        |        / (CAST(n1 + n2 AS DOUBLE)
        |          * (CAST(n1 + n2 AS DOUBLE) - 1.0)))))
        |    * 1000000.0 + 0.5) / 1000000.0 AS z
        |FROM w CROSS JOIN t""".stripMargin,

    "q263_kruskal_wallis" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x FROM events),
        |c AS (SELECT x, count(*) AS f FROM v GROUP BY 1),
        |g AS (SELECT x,
        |    2 * coalesce(sum(f) OVER (ORDER BY x ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + f + 1 AS r2,
        |    f * f * f - f AS t3
        |  FROM c),
        |pg AS (SELECT event_type, CAST(sum(fg) AS BIGINT) AS n,
        |    CAST(sum(fg * r2) AS BIGINT) AS rr
        |  FROM (SELECT event_type, x, count(*) AS fg FROM v GROUP BY 1, 2)
        |    p JOIN g USING (x) GROUP BY 1),
        |pt AS (SELECT event_type, n,
        |    CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE)
        |      / (4.0 * CAST(n AS DOUBLE)) AS term
        |  FROM pg),
        |agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS k,
        |    list_sum(list(term ORDER BY event_type)) AS st
        |  FROM pt),
        |t AS (SELECT CAST(sum(t3) AS BIGINT) AS tt FROM g)
        |SELECT nn AS n_total, k AS n_groups, k - 1 AS dof,
        |  floor((12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
        |      * st - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
        |    * 1000000.0 + 0.5) / 1000000.0 AS h,
        |  floor((12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
        |      * st - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
        |    / (1.0 - CAST(tt AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |        * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS h_tie_corrected
        |FROM agg CROSS JOIN t""".stripMargin,

    "q264_levene" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x FROM events),
        |c AS (SELECT event_type, x, count(*) AS f FROM v GROUP BY 1, 2),
        |cc AS (SELECT event_type, x, f,
        |    coalesce(sum(f) OVER (PARTITION BY event_type ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum,
        |    sum(f) OVER (PARTITION BY event_type) AS n
        |  FROM c),
        |med AS (SELECT event_type, x AS med FROM cc
        |  WHERE cum < (n + 1) // 2 AND cum + f >= (n + 1) // 2),
        |z AS (SELECT v.event_type, abs(v.x - med.med) AS zz
        |  FROM v JOIN med ON v.event_type = med.event_type),
        |pg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(zz) AS BIGINT) AS s,
        |    CAST(sum(zz * zz) AS BIGINT) AS q
        |  FROM z GROUP BY 1),
        |pt AS (SELECT event_type, n, s, q,
        |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS between_t,
        |    CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS within_t
        |  FROM pg),
        |agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS k, CAST(sum(s) AS BIGINT) AS s,
        |    list_sum(list(between_t ORDER BY event_type)) AS sb,
        |    list_sum(list(within_t ORDER BY event_type)) AS ssw
        |  FROM pt)
        |SELECT nn AS n_total, k AS n_groups, k - 1 AS dof1,
        |  nn - k AS dof2,
        |  floor(((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / (ssw / CAST(nn - k AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS f_bf
        |FROM agg""".stripMargin,

    "q265_sortino_calmar" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |rr AS (SELECT event_type, day, ri FROM r
        |  WHERE p IS NOT NULL AND p <> 0),
        |p1 AS (SELECT event_type, day, ri,
        |    sum(ri) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rr),
        |p2 AS (SELECT event_type, ri, cum,
        |    max(cum) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM p1),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(ri) AS BIGINT) AS s,
        |    CAST(sum(CASE WHEN ri < 0 THEN ri * ri ELSE 0 END) AS BIGINT)
        |      AS sd,
        |    CAST(max(peak - cum) AS BIGINT) AS mdd
        |  FROM p2 GROUP BY 1)
        |SELECT event_type, n AS n_ret,
        |  floor(CAST(s AS DOUBLE) / n / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS mean_ret,
        |  floor(sqrt(CAST(sd AS DOUBLE) / n) / 1000000.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS downside_dev,
        |  CASE WHEN sd > 0 THEN
        |    floor((CAST(s AS DOUBLE) / n) / sqrt(CAST(sd AS DOUBLE) / n)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS sortino,
        |  floor(CAST(mdd AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS max_dd,
        |  CASE WHEN mdd > 0 THEN
        |    floor(CAST(s AS DOUBLE) / n / CAST(mdd AS DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS calmar
        |FROM g ORDER BY event_type""".stripMargin,

    "q266_variance_ratio" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |rr AS (SELECT event_type, day, ri FROM r
        |  WHERE p IS NOT NULL AND p <> 0),
        |x5 AS (SELECT event_type,
        |    CAST(sum(ri) OVER w5 AS BIGINT) AS x5,
        |    count(*) OVER w5 AS c5
        |  FROM rr WINDOW w5 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        |one AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(ri) AS BIGINT) AS s,
        |    CAST(sum(ri * ri) AS BIGINT) AS ss
        |  FROM rr GROUP BY 1),
        |five AS (SELECT event_type, count(*) AS m,
        |    CAST(sum(x5) AS BIGINT) AS s5,
        |    CAST(sum(x5 * x5) AS BIGINT) AS ss5
        |  FROM x5 WHERE c5 = 5 GROUP BY 1)
        |SELECT one.event_type, n AS n_ret, m AS n_overlap,
        |  floor(CAST(n * ss - s * s AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE) / 1.0e12
        |    * 100000000.0 + 0.5) / 100000000.0 AS var_1d,
        |  floor(CAST(m * ss5 - s5 * s5 AS DOUBLE)
        |    / CAST(m * (m - 1) AS DOUBLE) / 1.0e12
        |    * 100000000.0 + 0.5) / 100000000.0 AS var_5d,
        |  floor((CAST(m * ss5 - s5 * s5 AS DOUBLE)
        |      / CAST(m * (m - 1) AS DOUBLE) / 1.0e12)
        |    / (5.0 * (CAST(n * ss - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) / 1.0e12))
        |    * 1000000.0 + 0.5) / 1000000.0 AS vr5
        |FROM one JOIN five ON one.event_type = five.event_type
        |ORDER BY one.event_type""".stripMargin,

    "q267_amihud" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |rr AS (SELECT event_type, day, ri FROM r
        |  WHERE p IS NOT NULL AND p <> 0),
        |vol AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS vol
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT rr.event_type, rr.day,
        |    CAST(abs(ri) AS DOUBLE) / 1000000.0
        |      / (CAST(vol AS DOUBLE) / 100.0) * 1000000.0 AS t
        |  FROM rr JOIN vol ON rr.event_type = vol.event_type
        |    AND rr.day = vol.day
        |  WHERE vol > 0)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  floor(list_sum(list(t ORDER BY day))
        |    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS amihud_x1e6
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q268_garman_klass" ->
      """WITH b AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rna,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM events),
        |bars AS (SELECT event_type, day,
        |    max(CASE WHEN rna = 1 THEN c END) AS o,
        |    max(c) AS h, min(c) AS l,
        |    max(CASE WHEN rnd = 1 THEN c END) AS cl
        |  FROM b GROUP BY 1, 2 HAVING min(c) > 0),
        |t AS (SELECT event_type, day,
        |    0.5 * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
        |        * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
        |      - 0.3862943611198906
        |        * ln(CAST(cl AS DOUBLE) / CAST(o AS DOUBLE))
        |        * ln(CAST(cl AS DOUBLE) / CAST(o AS DOUBLE)) AS gk,
        |    ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
        |      * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
        |      / 2.772588722239781 AS pk
        |  FROM bars)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  floor(list_sum(list(gk ORDER BY day))
        |    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS gk_var,
        |  floor(sqrt(list_sum(list(gk ORDER BY day))
        |    / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |    AS gk_vol,
        |  floor(sqrt(list_sum(list(pk ORDER BY day))
        |    / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
        |    AS parkinson_vol
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q269_local_clustering" ->
      """WITH act AS (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |tri AS (SELECT e1.u AS p, e1.v AS q, e2.v AS r
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT unnest([p, q, r]) AS node FROM tri),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM corners GROUP BY 1),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
        |  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1)
        |SELECT deg.node, degree, coalesce(n_triangles, 0) AS n_triangles,
        |  floor(2.0 * CAST(coalesce(n_triangles, 0) AS DOUBLE)
        |    / CAST(degree * (degree - 1) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS clustering
        |FROM deg LEFT JOIN tc ON tc.node = deg.node
        |WHERE degree >= 2
        |ORDER BY clustering DESC, deg.node LIMIT 30""".stripMargin,

    "q270_durbin_watson" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ts AS DATE)) AS BIGINT) AS t
        |  FROM events GROUP BY 1, 2),
        |co AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(t * y) AS BIGINT) AS sty
        |  FROM daily GROUP BY 1),
        |cb AS (SELECT event_type, n, st, sy,
        |    CAST(n * sty - st * sy AS DOUBLE)
        |      / CAST(n * stt - st * st AS DOUBLE) AS b
        |  FROM co),
        |ca AS (SELECT event_type, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS a
        |  FROM cb),
        |e AS (SELECT daily.event_type, day,
        |    CAST(y AS DOUBLE) - a - b * CAST(t AS DOUBLE) AS e
        |  FROM daily JOIN ca ON daily.event_type = ca.event_type),
        |l AS (SELECT event_type, day, e,
        |    lag(e) OVER (PARTITION BY event_type ORDER BY day) AS ep
        |  FROM e),
        |t2 AS (SELECT event_type, day,
        |    CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
        |      ELSE 0.0 END AS d2,
        |    e * e AS e2
        |  FROM l)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  floor(list_sum(list(d2 ORDER BY day))
        |    / list_sum(list(e2 ORDER BY day))
        |    * 1000000.0 + 0.5) / 1000000.0 AS dw
        |FROM t2 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q271_grubbs" ->
      """WITH g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ss,
        |    CAST(min(x) AS BIGINT) AS mn, CAST(max(x) AS BIGINT) AS mx
        |  FROM (SELECT event_type,
        |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
        |    FROM events) GROUP BY 1)
        |SELECT event_type, n AS n_obs,
        |  floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS mean_value,
        |  floor(sqrt(CAST(n * ss - s * s AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE)) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS sd_value,
        |  floor((CAST(mx AS DOUBLE) - CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    / sqrt(CAST(n * ss - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS g_max,
        |  floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(mn AS DOUBLE))
        |    / sqrt(CAST(n * ss - s * s AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS g_min,
        |  floor(greatest(
        |    (CAST(mx AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(CAST(n * ss - s * s AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)),
        |    (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - CAST(mn AS DOUBLE))
        |      / sqrt(CAST(n * ss - s * s AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS g
        |FROM g ORDER BY event_type""".stripMargin,

    "q272_anova_f" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS z FROM events),
        |pg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS BIGINT) AS s,
        |    CAST(sum(z * z) AS BIGINT) AS q
        |  FROM v GROUP BY 1),
        |pt AS (SELECT event_type, n, s, q,
        |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS between_t,
        |    CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS within_t
        |  FROM pg),
        |agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS k, CAST(sum(s) AS BIGINT) AS s,
        |    list_sum(list(between_t ORDER BY event_type)) AS sb,
        |    list_sum(list(within_t ORDER BY event_type)) AS ssw
        |  FROM pt)
        |SELECT nn AS n_total, k AS n_groups, k - 1 AS dof1,
        |  nn - k AS dof2,
        |  floor(((sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |    / (ssw / CAST(nn - k AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS f
        |FROM agg""".stripMargin,

    "q275_important_stock" ->
      """WITH v AS (SELECT n_name, l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |w AS (SELECT n_name, l_partkey, val,
        |    sum(val) OVER (PARTITION BY n_name) AS tot,
        |    count(*) OVER (PARTITION BY n_name) AS cnt
        |  FROM v)
        |SELECT n_name, l_partkey,
        |  floor(CAST(val AS DOUBLE) * 100.0 + 0.5) / 100.0
        |    AS stock_value
        |FROM w
        |WHERE CAST(val AS DOUBLE)
        |  > 2.0 * CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE)
        |ORDER BY stock_value DESC, n_name, l_partkey LIMIT 100"""
        .stripMargin,

    "q276_min_cost_supplier" ->
      """WITH unit AS (SELECT l_partkey, l_suppkey,
        |    floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |        AS DOUBLE)
        |      / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0 AS u
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 0),
        |best AS (SELECT l_partkey, l_suppkey, u,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY u, l_suppkey) AS rn
        |  FROM unit)
        |SELECT l_partkey, l_suppkey, n_name, u AS unit_price
        |FROM best
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE rn = 1
        |ORDER BY unit_price, l_partkey LIMIT 100""".stripMargin,

    "q277_arch_effect" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |sq AS (SELECT event_type, day, ri * ri AS x,
        |    lag(ri * ri, 1) OVER w2 AS l1,
        |    lag(ri * ri, 2) OVER w2 AS l2,
        |    lag(ri * ri, 3) OVER w2 AS l3
        |  FROM r WHERE p IS NOT NULL AND p <> 0
        |  WINDOW w2 AS (PARTITION BY event_type ORDER BY day)),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS s,
        |    sum(CAST(x AS HUGEINT) * x) AS ss,
        |    sum(CASE WHEN l1 IS NOT NULL
        |      THEN CAST(x AS HUGEINT) * l1 END) AS sxy1,
        |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx1,
        |    CAST(sum(l1) AS BIGINT) AS sy1,
        |    sum(CASE WHEN l2 IS NOT NULL
        |      THEN CAST(x AS HUGEINT) * l2 END) AS sxy2,
        |    CAST(sum(CASE WHEN l2 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx2,
        |    CAST(sum(l2) AS BIGINT) AS sy2,
        |    sum(CASE WHEN l3 IS NOT NULL
        |      THEN CAST(x AS HUGEINT) * l3 END) AS sxy3,
        |    CAST(sum(CASE WHEN l3 IS NOT NULL THEN x END) AS BIGINT)
        |      AS sx3,
        |    CAST(sum(l3) AS BIGINT) AS sy3
        |  FROM sq GROUP BY 1),
        |k AS (SELECT event_type, n,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |        * CAST(sxy1 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx1 AS DOUBLE) + CAST(sy1 AS DOUBLE))
        |      + CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |        * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r1,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |        * CAST(sxy2 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx2 AS DOUBLE) + CAST(sy2 AS DOUBLE))
        |      + CAST(n - 2 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |        * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r2,
        |    ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |        * CAST(sxy3 AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
        |        * (CAST(sx3 AS DOUBLE) + CAST(sy3 AS DOUBLE))
        |      + CAST(n - 3 AS DOUBLE) * CAST(s AS DOUBLE)
        |        * CAST(s AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |        * CAST(ss AS DOUBLE)
        |      - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      AS r3
        |  FROM g)
        |SELECT event_type, n AS n_days,
        |  floor(r1 * 1000000.0 + 0.5) / 1000000.0 AS r1_sq,
        |  floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
        |    * (r1 * r1 / (CAST(n AS DOUBLE) - 1.0)
        |      + r2 * r2 / (CAST(n AS DOUBLE) - 2.0)
        |      + r3 * r3 / (CAST(n AS DOUBLE) - 3.0))
        |    * 10000.0 + 0.5) / 10000.0 AS q_lb_sq,
        |  CAST(3 AS BIGINT) AS dof
        |FROM k ORDER BY event_type""".stripMargin,

    "q278_underwater_duration" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |rr AS (SELECT event_type, day, ri FROM r
        |  WHERE p IS NOT NULL AND p <> 0),
        |p1 AS (SELECT event_type, day,
        |    sum(ri) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rr),
        |p2 AS (SELECT event_type, day, cum,
        |    max(cum) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM p1),
        |p3 AS (SELECT event_type, day,
        |    CASE WHEN cum < peak THEN 1 ELSE 0 END AS und,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      - row_number() OVER (PARTITION BY event_type,
        |        CASE WHEN cum < peak THEN 1 ELSE 0 END ORDER BY day)
        |      AS grp
        |  FROM p2),
        |tot AS (SELECT event_type, count(*) AS n_days FROM p3 GROUP BY 1),
        |sp AS (SELECT event_type,
        |    CAST(sum(len) AS BIGINT) AS underwater_days,
        |    CAST(count(*) AS BIGINT) AS n_spells,
        |    CAST(max(len) AS BIGINT) AS longest_spell
        |  FROM (SELECT event_type, grp, count(*) AS len FROM p3
        |    WHERE und = 1 GROUP BY 1, 2) GROUP BY 1)
        |SELECT tot.event_type, n_days,
        |  coalesce(underwater_days, 0) AS underwater_days,
        |  coalesce(n_spells, 0) AS n_spells,
        |  coalesce(longest_spell, 0) AS longest_spell
        |FROM tot LEFT JOIN sp ON sp.event_type = tot.event_type
        |ORDER BY tot.event_type""".stripMargin,

    "q279_cornish_fisher" ->
      """WITH r AS (SELECT event_type, day,
        |    CAST(floor(least(greatest(
        |      CAST(x AS DOUBLE) / CAST(lag(x) OVER w AS DOUBLE) - 1.0,
        |      -10.0), 10.0) * 1000000.0 + 0.5) AS BIGINT) AS ri,
        |    lag(x) OVER w AS p
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day,
        |      CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |        / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |    FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |rr AS (SELECT event_type, ri FROM r
        |  WHERE p IS NOT NULL AND p <> 0),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(ri) AS BIGINT) AS s1,
        |    CAST(sum(ri * ri) AS BIGINT) AS s2,
        |    sum(CAST(ri * ri AS HUGEINT) * ri) AS s3,
        |    sum(CAST(ri * ri AS HUGEINT) * (ri * ri)) AS s4
        |  FROM rr GROUP BY 1),
        |m AS (SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS a4
        |  FROM g),
        |c AS (SELECT event_type, n, mu,
        |    a2 - mu * mu AS m2,
        |    a3 - 3.0 * mu * a2 + 2.0 * mu * mu * mu AS m3,
        |    a4 - 4.0 * mu * a3 + 6.0 * mu * mu * a2
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m),
        |k AS (SELECT event_type, n, mu, m2,
        |    m3 / (m2 * sqrt(m2)) AS sk,
        |    m4 / (m2 * m2) - 3.0 AS ek
        |  FROM c),
        |zc AS (SELECT CAST(-1.6448536269514722 AS DOUBLE) AS zq),
        |z AS (SELECT event_type, n, mu, m2, sk, ek,
        |    zq + (zq * zq - 1.0) * sk / 6.0
        |      + (zq * zq * zq - 3.0 * zq) * ek / 24.0
        |      - (2.0 * zq * zq * zq - 5.0 * zq) * sk * sk / 36.0 AS zcf
        |  FROM k CROSS JOIN zc)
        |SELECT event_type, n AS n_ret,
        |  floor(sk * 1000000.0 + 0.5) / 1000000.0 AS skew,
        |  floor(ek * 1000000.0 + 0.5) / 1000000.0 AS excess_kurtosis,
        |  floor(zcf * 1000000.0 + 0.5) / 1000000.0 AS z_cf,
        |  floor((mu + zcf * sqrt(m2)) / -1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS mvar95
        |FROM z ORDER BY event_type""".stripMargin,

    "q280_lead_time_percentiles" ->
      """WITH j AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |c AS (SELECT o_orderpriority, days, count(*) AS f
        |  FROM j GROUP BY 1, 2),
        |cc AS (SELECT o_orderpriority, days, f,
        |    coalesce(sum(f) OVER (PARTITION BY o_orderpriority
        |      ORDER BY days ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS cum,
        |    sum(f) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM c)
        |SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_lines,
        |  CAST(max(CASE WHEN cum < (n + 1) // 2
        |    AND cum + f >= (n + 1) // 2 THEN days END) AS BIGINT)
        |    AS p50_days,
        |  CAST(max(CASE WHEN cum < (9 * n + 9) // 10
        |    AND cum + f >= (9 * n + 9) // 10 THEN days END) AS BIGINT)
        |    AS p90_days,
        |  CAST(max(CASE WHEN cum < (99 * n + 99) // 100
        |    AND cum + f >= (99 * n + 99) // 100 THEN days END) AS BIGINT)
        |    AS p99_days,
        |  CAST(max(days) AS BIGINT) AS max_days
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q281_kendall_w" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, y, count(*) AS f
        |  FROM daily GROUP BY 1, 2),
        |cc AS (SELECT event_type, y, f,
        |    coalesce(sum(f) OVER (PARTITION BY event_type ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum
        |  FROM c),
        |r AS (SELECT event_type, y, 2 * cum + f + 1 AS r2 FROM cc),
        |ranked AS (SELECT daily.event_type, day, r2
        |  FROM daily JOIN r ON daily.event_type = r.event_type
        |    AND daily.y = r.y),
        |tj AS (SELECT event_type, sum(f * f * f - f) AS t3
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(t3) AS BIGINT) AS tt,
        |    CAST(count(*) AS BIGINT) AS m FROM tj),
        |pd AS (SELECT day, CAST(sum(r2) AS BIGINT) AS rr
        |  FROM ranked GROUP BY 1),
        |sp AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(rr) AS BIGINT) AS s,
        |    CAST(sum(rr * rr) AS BIGINT) AS ss FROM pd)
        |SELECT nd AS n_days, m AS n_judges,
        |  floor(3.0 * CAST(ss - (s * s) // nd AS DOUBLE)
        |    / (CAST(m * m AS DOUBLE) * CAST(nd * nd * nd - nd AS DOUBLE)
        |      - CAST(m * tt AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS w
        |FROM sp CROSS JOIN t""".stripMargin,

    "q282_mcnemar" ->
      """WITH t AS (SELECT n_chars,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |f AS (SELECT
        |    CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN 5 * len(toks) <=
        |      list_sum(list_transform(toks, x -> length(x)))
        |      THEN 1 ELSE 0 END AS b
        |  FROM t),
        |g AS (SELECT count(*) AS n_docs,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bb,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cc
        |  FROM f)
        |SELECT n_docs, bb AS a_only, cc AS b_only,
        |  floor(CAST((bb - cc) * (bb - cc) AS DOUBLE)
        |    / CAST(bb + cc AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS chi2,
        |  floor(CAST((abs(bb - cc) - 1) * (abs(bb - cc) - 1) AS DOUBLE)
        |    / CAST(bb + cc AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS chi2_corrected
        |FROM g""".stripMargin,

    "q283_mase_smape" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, y,
        |    lag(y, 1) OVER w AS l1, lag(y, 7) OVER w AS l7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |t AS (SELECT event_type, day,
        |    CASE WHEN l1 IS NOT NULL THEN abs(y - l1) END AS e1,
        |    CASE WHEN l7 IS NOT NULL THEN abs(y - l7) END AS e7,
        |    CASE WHEN l1 IS NOT NULL THEN
        |      2.0 * CAST(abs(y - l1) AS DOUBLE)
        |        / CAST(y + l1 AS DOUBLE) END AS sm
        |  FROM l)
        |SELECT event_type,
        |  CAST(count(e1) AS BIGINT) AS n_naive1,
        |  CAST(count(e7) AS BIGINT) AS n_naive7,
        |  floor(CAST(sum(e1) AS DOUBLE) / CAST(count(e1) AS DOUBLE)
        |    / 100.0 * 10000.0 + 0.5) / 10000.0 AS mae_naive1,
        |  floor(CAST(sum(e7) AS DOUBLE) / CAST(count(e7) AS DOUBLE)
        |    / 100.0 * 10000.0 + 0.5) / 10000.0 AS mae_naive7,
        |  floor((CAST(sum(e1) AS DOUBLE) / CAST(count(e1) AS DOUBLE))
        |    / (CAST(sum(e7) AS DOUBLE) / CAST(count(e7) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS mase,
        |  floor(list_sum(list(sm ORDER BY day)
        |      FILTER (WHERE sm IS NOT NULL))
        |    / CAST(count(e1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS smape_naive1
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q284_cooks_distance" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ts AS DATE)) AS BIGINT) AS t
        |  FROM events GROUP BY 1, 2),
        |co AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(t * t) AS BIGINT) AS stt,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(t * y) AS BIGINT) AS sty
        |  FROM daily GROUP BY 1),
        |cb AS (SELECT event_type, n, st, stt, sy,
        |    CAST(n * sty - st * sy AS DOUBLE)
        |      / CAST(n * stt - st * st AS DOUBLE) AS b
        |  FROM co),
        |ca AS (SELECT event_type, n, st, stt, b,
        |    (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE))
        |      / CAST(n AS DOUBLE) AS a
        |  FROM cb),
        |e AS (SELECT daily.event_type, day,
        |    CAST(y AS DOUBLE) - a - b * CAST(t AS DOUBLE) AS e,
        |    1.0 / CAST(n AS DOUBLE)
        |      + (CAST(t AS DOUBLE) - CAST(st AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |        * (CAST(t AS DOUBLE) - CAST(st AS DOUBLE)
        |          / CAST(n AS DOUBLE))
        |        / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
        |          * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) AS h,
        |    n
        |  FROM daily JOIN ca ON daily.event_type = ca.event_type),
        |s2 AS (SELECT event_type,
        |    list_sum(list(e * e ORDER BY day))
        |      / CAST(max(n) - 2 AS DOUBLE) AS s2
        |  FROM e GROUP BY 1),
        |k AS (SELECT e.event_type, day,
        |    floor(e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h))
        |      * 1000000.0 + 0.5) / 1000000.0 AS cook_d
        |  FROM e JOIN s2 ON s2.event_type = e.event_type),
        |r AS (SELECT event_type, day, cook_d,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cook_d DESC, day) AS rn
        |  FROM k)
        |SELECT event_type, day, CAST(rn AS BIGINT) AS rank, cook_d
        |FROM r WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin,

    "q288_anderson_darling" ->
      """WITH v AS (SELECT
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isc,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
        |  FROM events WHERE event_type IN ('click', 'view')),
        |c AS (SELECT x, count(*) AS f, CAST(sum(isc) AS BIGINT) AS fc
        |  FROM v GROUP BY 1),
        |cc AS (SELECT x, f,
        |    sum(f) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS b,
        |    sum(fc) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS m
        |  FROM c),
        |tot AS (SELECT CAST(sum(isc) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS nm FROM v),
        |t AS (SELECT x,
        |    CAST(f AS DOUBLE)
        |      * CAST(m * nm - n * b AS DOUBLE)
        |      * CAST(m * nm - n * b AS DOUBLE)
        |      / CAST(b * (nm - b) AS DOUBLE) AS t,
        |    n, nm
        |  FROM cc CROSS JOIN tot WHERE b < nm)
        |SELECT max(n) AS n_click, max(nm) - max(n) AS n_view,
        |  floor(list_sum(list(t ORDER BY x))
        |    / (CAST(max(n) AS DOUBLE)
        |      * CAST(max(nm) - max(n) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS a2
        |FROM t""".stripMargin,

    "q289_brand_switching" ->
      """WITH ob AS (SELECT l_orderkey, p_brand,
        |    CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |dom AS (SELECT l_orderkey, p_brand AS dom FROM (
        |    SELECT l_orderkey, p_brand,
        |      row_number() OVER (PARTITION BY l_orderkey
        |        ORDER BY qty DESC, p_brand) AS rn
        |    FROM ob) WHERE rn = 1),
        |seq AS (SELECT o_custkey, dom,
        |    lag(dom) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders JOIN dom ON o_orderkey = dom.l_orderkey)
        |SELECT prev AS brand_from, dom AS brand_to,
        |  CAST(count(*) AS BIGINT) AS n_switches
        |FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
        |ORDER BY n_switches DESC, brand_from, brand_to LIMIT 20"""
        .stripMargin,

    "q291_tukey_hsd" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z) AS BIGINT) AS s, CAST(sum(z * z) AS BIGINT) AS q
        |  FROM (SELECT event_type,
        |      CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS z
        |    FROM events) GROUP BY 1),
        |w AS (SELECT event_type, n, s, q,
        |    CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS within FROM g),
        |m AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS k,
        |    list_sum(list(within ORDER BY event_type)) AS ssw FROM w),
        |msw AS (SELECT ssw / CAST(nn - k AS DOUBLE) AS msw FROM m)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  floor((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) / 100.0
        |    * 10000.0 + 0.5) / 10000.0 AS mean_diff,
        |  floor((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
        |      - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
        |    / sqrt(msw / 2.0 * (1.0 / CAST(a.n AS DOUBLE)
        |      + 1.0 / CAST(b.n AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS q_stat
        |FROM w a JOIN w b ON a.event_type < b.event_type CROSS JOIN msw
        |ORDER BY 1, 2""".stripMargin,

    "q292_cpk" ->
      """WITH v AS (SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x FROM events),
        |c AS (SELECT x, count(*) AS f FROM v GROUP BY 1),
        |cc AS (SELECT x, f,
        |    coalesce(sum(f) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    sum(f) OVER () AS n
        |  FROM c),
        |lim AS (SELECT
        |    CAST(max(CASE WHEN cum < (n + 99) // 100
        |      AND cum + f >= (n + 99) // 100 THEN x END) AS BIGINT)
        |      AS lsl,
        |    CAST(max(CASE WHEN cum < (99 * n + 99) // 100
        |      AND cum + f >= (99 * n + 99) // 100 THEN x END) AS BIGINT)
        |      AS usl
        |  FROM cc),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS gn,
        |    CAST(sum(x) AS BIGINT) AS gs,
        |    CAST(sum(x * x) AS BIGINT) AS gq
        |  FROM v GROUP BY 1)
        |SELECT event_type, gn AS n_obs,
        |  floor(CAST(lsl AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
        |    AS lsl,
        |  floor(CAST(usl AS DOUBLE) / 100.0 * 100.0 + 0.5) / 100.0
        |    AS usl,
        |  floor(CAST(usl - lsl AS DOUBLE)
        |    / (6.0 * sqrt(CAST(gn * gq - gs * gs AS DOUBLE)
        |      / CAST(gn * (gn - 1) AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS cp,
        |  floor(least(
        |      CAST(usl AS DOUBLE) - CAST(gs AS DOUBLE)
        |        / CAST(gn AS DOUBLE),
        |      CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)
        |        - CAST(lsl AS DOUBLE))
        |    / (3.0 * sqrt(CAST(gn * gq - gs * gs AS DOUBLE)
        |      / CAST(gn * (gn - 1) AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS cpk
        |FROM g CROSS JOIN lim ORDER BY event_type""".stripMargin,

    "q293_holt_winters" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 1000000.0 + 0.5) / 1000000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |arr AS (SELECT event_type, list(v ORDER BY day) AS vs
        |  FROM daily GROUP BY event_type),
        |f AS (SELECT event_type, len(vs) AS n_days,
        |    list_reduce(
        |      list_prepend([vs[1], vs[2] - vs[1], 0.0, 0.0, 0.0, 0.0,
        |          0.0, 0.0, 0.0],
        |        list_transform(vs[3:], v -> [v, 0.0, 0.0, 0.0, 0.0,
        |          0.0, 0.0, 0.0, 0.0])),
        |      (a, x) -> [
        |        0.3 * (x[1] - a[3]) + 0.7 * (a[1] + a[2]),
        |        0.2 * ((0.3 * (x[1] - a[3]) + 0.7 * (a[1] + a[2]))
        |          - a[1]) + 0.8 * a[2],
        |        a[4], a[5], a[6], a[7], a[8], a[9],
        |        0.3 * (x[1] - (0.3 * (x[1] - a[3])
        |          + 0.7 * (a[1] + a[2]))) + 0.7 * a[3]
        |      ]) AS st
        |  FROM arr WHERE len(vs) >= 3)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  floor(st[1] * 1000000.0 + 0.5) / 1000000.0 AS level,
        |  floor(st[2] * 1000000.0 + 0.5) / 1000000.0 AS trend,
        |  floor((st[1] + st[2] + st[3]) * 1000000.0 + 0.5) / 1000000.0
        |    AS forecast_next
        |FROM f ORDER BY event_type""".stripMargin,

    "q294_price_elasticity" ->
      """WITH pp AS (SELECT p_brand, l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 0),
        |t AS (SELECT p_brand, l_partkey,
        |    ln(floor(CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE)
        |      * 10000.0 + 0.5) / 10000.0) AS x,
        |    ln(CAST(qty AS DOUBLE)) AS y
        |  FROM pp)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  floor((CAST(count(*) AS DOUBLE)
        |      * list_sum(list(x * y ORDER BY l_partkey))
        |    - list_sum(list(x ORDER BY l_partkey))
        |      * list_sum(list(y ORDER BY l_partkey)))
        |   / (CAST(count(*) AS DOUBLE)
        |      * list_sum(list(x * x ORDER BY l_partkey))
        |    - list_sum(list(x ORDER BY l_partkey))
        |      * list_sum(list(x ORDER BY l_partkey)))
        |   * 1000000.0 + 0.5) / 1000000.0 AS elasticity
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q295_wilson_ranking" ->
      """WITH g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
        |zc AS (SELECT CAST(1.96 AS DOUBLE) AS z),
        |w AS (SELECT p_brand, n, r,
        |    CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
        |      + z * z / (2.0 * CAST(n AS DOUBLE))
        |      - z * sqrt(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |        + z * z / (4.0 * CAST(n AS DOUBLE)
        |          * CAST(n AS DOUBLE))))
        |    / (1.0 + z * z / CAST(n AS DOUBLE)) AS lb
        |  FROM g CROSS JOIN zc)
        |SELECT p_brand, n AS n_lines, r AS n_returned,
        |  floor(p * 1000000.0 + 0.5) / 1000000.0 AS return_rate,
        |  floor(lb * 1000000.0 + 0.5) / 1000000.0 AS wilson_lb,
        |  CAST(row_number() OVER (
        |    ORDER BY floor(lb * 1000000.0 + 0.5) / 1000000.0 DESC,
        |      p_brand) AS BIGINT) AS rank
        |FROM w ORDER BY rank""".stripMargin,

    "q296_partial_corr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS y,
        |    CAST(count(*) AS BIGINT) AS z
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(z) AS BIGINT) AS sz,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(z * z) AS BIGINT) AS szz,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * z) AS BIGINT) AS sxz,
        |    CAST(sum(y * z) AS BIGINT) AS syz
        |  FROM daily),
        |r AS (SELECT n,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rxy,
        |    CAST(n * sxz - sx * sz AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS rxz,
        |    CAST(n * syz - sy * sz AS DOUBLE)
        |      / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
        |        * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS ryz
        |  FROM g)
        |SELECT n AS n_days,
        |  floor(rxy * 1000000.0 + 0.5) / 1000000.0 AS r_click_buy,
        |  floor(rxz * 1000000.0 + 0.5) / 1000000.0 AS r_click_total,
        |  floor(ryz * 1000000.0 + 0.5) / 1000000.0 AS r_buy_total,
        |  floor((rxy - rxz * ryz)
        |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
        |    * 1000000.0 + 0.5) / 1000000.0 AS partial_r
        |FROM r""".stripMargin,

    "q297_overdispersion" ->
      """WITH u AS (SELECT event_type, user_id, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM u GROUP BY 1)
        |SELECT event_type, n AS n_users,
        |  floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS mean_events,
        |  floor(CAST(n * ss - s * s AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE)
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS fano,
        |  floor(CAST(n * ss - s * s AS DOUBLE) / CAST(s AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS chi2_dispersion,
        |  n - 1 AS dof
        |FROM g ORDER BY event_type""".stripMargin,

    "q298_ruzicka_similarity" ->
      """WITH counts AS (SELECT source, t, count(*) AS n
        |  FROM (SELECT source,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |grid AS (SELECT s.source, v.t, coalesce(n, 0) AS n
        |  FROM (SELECT DISTINCT t FROM counts) v
        |  CROSS JOIN (SELECT DISTINCT source FROM counts) s
        |  LEFT JOIN counts c ON c.source = s.source AND c.t = v.t)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  floor(CAST(sum(least(a.n, b.n)) AS DOUBLE)
        |    / CAST(sum(greatest(a.n, b.n)) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS ruzicka
        |FROM grid a JOIN grid b ON a.t = b.t AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY ruzicka DESC, source_a, source_b LIMIT 10"""
        .stripMargin,

    "q299_odds_ratio" ->
      """WITH u AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS p
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN c = 0 AND p = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cc,
        |    CAST(sum(CASE WHEN c = 0 AND p = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM u)
        |SELECT a AS both, b AS click_only, cc AS buy_only, d AS neither,
        |  floor((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
        |    / (CAST(b AS DOUBLE) * CAST(cc AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS odds_ratio,
        |  floor((CAST(a AS DOUBLE) / (CAST(a AS DOUBLE)
        |      + CAST(b AS DOUBLE)))
        |    / (CAST(cc AS DOUBLE) / (CAST(cc AS DOUBLE)
        |      + CAST(d AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS relative_risk,
        |  floor(sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |    + 1.0 / CAST(cc AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS se_log_or
        |FROM g""".stripMargin,

    "q300_order_sla" ->
      """WITH lag AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(max(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE))) AS BIGINT) AS lag
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  floor(CAST(sum(CASE WHEN lag <= 30 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS sla_30d,
        |  floor(CAST(sum(CASE WHEN lag <= 60 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS sla_60d,
        |  floor(CAST(sum(CASE WHEN lag <= 90 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS sla_90d
        |FROM lag GROUP BY 1 ORDER BY 1""".stripMargin,

    "q302_promo_share" ->
      """WITH t AS (SELECT
        |    CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
        |      AS ship_month,
        |    p_type,
        |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
        |      + 0.5) AS BIGINT) AS rc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT ship_month, CAST(count(*) AS BIGINT) AS n_lines,
        |  floor(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc
        |      ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(rc) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS promo_share_pct
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q303_cust_order_histogram" ->
      """WITH pc AS (SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
        |FROM pc GROUP BY 1
        |ORDER BY n_customers DESC, n_orders""".stripMargin,

    "q304_user_lifespan" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', min(CAST(ts AS DATE)),
        |      max(CAST(ts AS DATE))) AS BIGINT) AS span,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days
        |  FROM events GROUP BY 1),
        |c AS (SELECT span, count(*) AS f FROM u GROUP BY 1),
        |cc AS (SELECT span, f,
        |    coalesce(sum(f) OVER (ORDER BY span ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    sum(f) OVER () AS n
        |  FROM c),
        |pct AS (SELECT CAST(max(n) AS BIGINT) AS n_users,
        |    CAST(max(CASE WHEN cum < (n + 1) // 2
        |      AND cum + f >= (n + 1) // 2 THEN span END) AS BIGINT)
        |      AS p50_span_days,
        |    CAST(max(CASE WHEN cum < (9 * n + 9) // 10
        |      AND cum + f >= (9 * n + 9) // 10 THEN span END) AS BIGINT)
        |      AS p90_span_days
        |  FROM cc),
        |m AS (SELECT CAST(sum(span) AS BIGINT) AS ss,
        |    CAST(sum(days) AS BIGINT) AS sd,
        |    CAST(count(*) AS BIGINT) AS nu FROM u)
        |SELECT n_users, p50_span_days, p90_span_days,
        |  floor(CAST(ss AS DOUBLE) / CAST(nu AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS mean_span_days,
        |  floor(CAST(sd AS DOUBLE) / CAST(nu AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS mean_active_days
        |FROM pct CROSS JOIN m""".stripMargin,

    "q305_hampel_filter" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, x,
        |    list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win
        |  FROM daily),
        |h AS (SELECT event_type, day, x,
        |    win[(len(win) + 1) // 2] AS med,
        |    list_sort(list_transform(win,
        |      v -> abs(v - win[(len(win) + 1) // 2]))) AS devs
        |  FROM w),
        |f AS (SELECT event_type, x, med,
        |    devs[(len(devs) + 1) // 2] AS mad,
        |    abs(x - med) AS dev
        |  FROM h)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(CASE WHEN CAST(dev AS DOUBLE) >
        |    4.4478 * CAST(mad AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  floor(CAST(max(dev) AS DOUBLE) / 10000.0 * 10000.0 + 0.5)
        |    / 10000.0 AS max_abs_dev
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q306_permutation_entropy" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tri AS (SELECT event_type,
        |    lag(x, 2) OVER w AS x0, lag(x, 1) OVER w AS x1, x AS x2
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |pat AS (SELECT event_type,
        |    (CASE WHEN x1 > x0 THEN 2 WHEN x1 = x0 THEN 1 ELSE 0 END) * 9
        |    + (CASE WHEN x2 > x1 THEN 2 WHEN x2 = x1 THEN 1 ELSE 0 END) * 3
        |    + (CASE WHEN x2 > x0 THEN 2 WHEN x2 = x0 THEN 1 ELSE 0 END)
        |      AS p
        |  FROM tri WHERE x0 IS NOT NULL),
        |cnt AS (SELECT event_type, p, CAST(count(*) AS BIGINT) AS np
        |  FROM pat GROUP BY 1, 2),
        |tn AS (SELECT event_type, CAST(sum(np) AS BIGINT) AS n
        |  FROM cnt GROUP BY 1),
        |terms AS (SELECT c.event_type, c.p,
        |    - (CAST(c.np AS DOUBLE) / CAST(t.n AS DOUBLE))
        |      * ln(CAST(c.np AS DOUBLE) / CAST(t.n AS DOUBLE)) AS term
        |  FROM cnt c JOIN tn t USING (event_type))
        |SELECT tr.event_type, CAST(max(t.n) AS BIGINT) AS n_triples,
        |  CAST(count(*) AS BIGINT) AS n_patterns,
        |  floor(list_sum(list(term ORDER BY p)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS perm_entropy,
        |  floor(list_sum(list(term ORDER BY p)) / ln(6.0) * 1000000.0
        |    + 0.5) / 1000000.0 AS norm_entropy
        |FROM terms tr JOIN tn t ON tr.event_type = t.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q307_cochran_q" ->
      """WITH x AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |    event_type FROM events),
        |k AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |  FROM events),
        |rs AS (SELECT CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(r) AS BIGINT) AS n, CAST(sum(r * r) AS BIGINT) AS rr
        |  FROM (SELECT user_id, day, CAST(count(*) AS BIGINT) AS r
        |    FROM x GROUP BY 1, 2)),
        |cs AS (SELECT CAST(sum((k.k * c.c - r.n) * (k.k * c.c - r.n))
        |      AS BIGINT) AS devsq
        |  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |    FROM x GROUP BY 1) c CROSS JOIN k CROSS JOIN rs r)
        |SELECT k.k AS k_treatments, r.nb AS n_blocks, k.k - 1 AS dof,
        |  floor(CAST(k.k - 1 AS DOUBLE) * CAST(c.devsq AS DOUBLE)
        |    / (CAST(k.k AS DOUBLE) * CAST(k.k * r.n - r.rr AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS q_stat
        |FROM k CROSS JOIN rs r CROSS JOIN cs c""".stripMargin,

    "q308_croston" ->
      """WITH dem AS (SELECT l_partkey, l_shipdate AS day,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) * 10000
        |      AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (SELECT l_partkey, day, q,
        |    date_diff('day',
        |      lag(day) OVER (PARTITION BY l_partkey ORDER BY day), day)
        |      AS gap
        |  FROM dem),
        |f AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_demands,
        |    list_reduce(list(CAST(q AS DOUBLE) ORDER BY day),
        |      (a, b) -> 0.2 * b + 0.8 * a) AS z,
        |    list_reduce(list(CAST(gap AS DOUBLE) ORDER BY day)
        |        FILTER (WHERE gap IS NOT NULL),
        |      (a, b) -> 0.2 * b + 0.8 * a) AS p
        |  FROM g GROUP BY 1 HAVING count(*) >= 2)
        |SELECT l_partkey, n_demands,
        |  floor(z / 10000.0 * 1000000.0 + 0.5) / 1000000.0 AS z_smooth,
        |  floor(p * 1000000.0 + 0.5) / 1000000.0 AS p_smooth,
        |  floor(z / 10000.0 / p * 1000000.0 + 0.5) / 1000000.0
        |    AS croston_forecast
        |FROM f ORDER BY l_partkey""".stripMargin,

    "q310_logrank" ->
      """WITH s AS (SELECT user_id % 2 AS arm,
        |    CAST(CASE WHEN dp IS NOT NULL THEN date_diff('day', d0, dp)
        |      ELSE date_diff('day', d0, dmax) END AS BIGINT) AS t,
        |    CAST(CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |      AS death
        |  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
        |      max(CAST(ts AS DATE)) AS dmax,
        |      min(CASE WHEN event_type = 'purchase'
        |        THEN CAST(ts AS DATE) END) AS dp
        |    FROM events GROUP BY 1)),
        |census AS (SELECT t, CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS f1,
        |    CAST(sum(death) AS BIGINT) AS dt,
        |    CAST(sum(CASE WHEN arm = 1 THEN death ELSE 0 END) AS BIGINT)
        |      AS d1t
        |  FROM s GROUP BY 1),
        |atrisk AS (SELECT t, dt, d1t,
        |    sum(f) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS nt,
        |    sum(f1) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS n1t
        |  FROM census),
        |terms AS (SELECT t, dt, d1t,
        |    CAST(dt AS DOUBLE) * CAST(n1t AS DOUBLE) / CAST(nt AS DOUBLE)
        |      AS e1,
        |    CASE WHEN nt > 1 THEN CAST(dt AS DOUBLE)
        |      * (CAST(n1t AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (1.0 - CAST(n1t AS DOUBLE) / CAST(nt AS DOUBLE))
        |      * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE))
        |      ELSE 0.0 END AS v
        |  FROM atrisk WHERE dt > 0),
        |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM s)
        |SELECT n_users, CAST(sum(dt) AS BIGINT) AS n_events,
        |  CAST(sum(d1t) AS BIGINT) AS o1,
        |  floor(list_sum(list(e1 ORDER BY t)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS e1,
        |  floor((CAST(sum(d1t) AS DOUBLE) - list_sum(list(e1 ORDER BY t)))
        |    * (CAST(sum(d1t) AS DOUBLE) - list_sum(list(e1 ORDER BY t)))
        |    / list_sum(list(v ORDER BY t)) * 1000000.0 + 0.5) / 1000000.0
        |    AS logrank_chi2
        |FROM terms CROSS JOIN nu GROUP BY n_users""".stripMargin,

    "q311_turning_points" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tri AS (SELECT event_type, lag(x, 1) OVER w AS xp, x,
        |    lead(x, 1) OVER w AS xn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |tp AS (SELECT event_type, CAST(count(*) AS BIGINT) + 2 AS n,
        |    CAST(sum(CASE WHEN (x > xp AND x > xn) OR (x < xp AND x < xn)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS t
        |  FROM tri WHERE xp IS NOT NULL AND xn IS NOT NULL GROUP BY 1)
        |SELECT event_type, n AS n_days, t AS turning_points,
        |  floor(2.0 * CAST(n - 2 AS DOUBLE) / 3.0 * 10000.0 + 0.5)
        |    / 10000.0 AS expected_tp,
        |  floor((CAST(t AS DOUBLE) - 2.0 * CAST(n - 2 AS DOUBLE) / 3.0)
        |    / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)
        |    * 10000.0 + 0.5) / 10000.0 AS z
        |FROM tp ORDER BY event_type""".stripMargin,

    "q312_gumbel_maxima" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |wk AS (SELECT event_type,
        |    CAST(floor(date_diff('day', DATE '2024-01-01', day) / 7)
        |      AS BIGINT) AS w, CAST(max(x) AS BIGINT) AS m
        |  FROM daily GROUP BY 1, 2),
        |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(m) AS BIGINT) AS s, CAST(sum(m * m) AS BIGINT) AS ss
        |  FROM wk GROUP BY 1),
        |fit AS (SELECT event_type, nb,
        |    CAST(s AS DOUBLE) / CAST(nb AS DOUBLE) / 10000.0 AS mean,
        |    sqrt(CAST(nb * ss - s * s AS DOUBLE)
        |      / CAST(nb * (nb - 1) AS DOUBLE)) / 10000.0 AS sd
        |  FROM mom)
        |SELECT event_type, nb AS n_blocks,
        |  floor((mean - 0.5772156649015329 * (sd * 0.7796968012336761))
        |    * 10000.0 + 0.5) / 10000.0 AS gumbel_mu,
        |  floor(sd * 0.7796968012336761 * 10000.0 + 0.5) / 10000.0
        |    AS gumbel_beta,
        |  floor((mean - 0.5772156649015329 * (sd * 0.7796968012336761)
        |    + sd * 0.7796968012336761 * 4.600149226776579)
        |    * 10000.0 + 0.5) / 10000.0 AS ret_level_p99
        |FROM fit ORDER BY event_type""".stripMargin,

    "q313_record_days" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, x,
        |    max(x) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prevmax
        |  FROM daily),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN prevmax IS NULL OR x > prevmax
        |      THEN 1 ELSE 0 END) AS BIGINT) AS recs,
        |    max(CASE WHEN prevmax IS NULL OR x > prevmax THEN day END)
        |      AS last_rec
        |  FROM r GROUP BY 1)
        |SELECT event_type, n AS n_days, recs AS n_records,
        |  floor(list_sum(list_transform(generate_series(1, CAST(n AS INT)),
        |    i -> 1.0 / CAST(i AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0
        |    AS expected_records,
        |  last_rec AS last_record_day
        |FROM s ORDER BY event_type""".stripMargin,

    "q315_weibull_fit" ->
      """WITH u AS (SELECT user_id,
        |    CAST(date_diff('day', min(CAST(ts AS DATE)),
        |      min(CASE WHEN event_type = 'purchase'
        |        THEN CAST(ts AS DATE) END)) + 1 AS BIGINT) AS t
        |  FROM events GROUP BY 1
        |  HAVING min(CASE WHEN event_type = 'purchase'
        |    THEN CAST(ts AS DATE) END) IS NOT NULL),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM u GROUP BY 1),
        |cc AS (SELECT t, f,
        |    sum(f) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS i,
        |    sum(f) OVER () AS n
        |  FROM c),
        |pts AS (SELECT t, ln(CAST(t AS DOUBLE)) AS lx,
        |    ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
        |      / (CAST(n AS DOUBLE) + 0.4))) AS ly
        |  FROM cc),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    list_sum(list(lx ORDER BY t)) AS sx,
        |    list_sum(list(ly ORDER BY t)) AS sy,
        |    list_sum(list(lx * ly ORDER BY t)) AS sxy,
        |    list_sum(list(lx * lx ORDER BY t)) AS sxx
        |  FROM pts),
        |n0 AS (SELECT CAST(max(n) AS BIGINT) AS n_users FROM cc),
        |fit AS (SELECT n_users, m,
        |    (CAST(m AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(m AS DOUBLE) * sxx - sx * sx) AS k,
        |    (sy - (CAST(m AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(m AS DOUBLE) * sxx - sx * sx) * sx)
        |      / CAST(m AS DOUBLE) AS b
        |  FROM s CROSS JOIN n0)
        |SELECT n_users, m AS n_points,
        |  floor(k * 10000.0 + 0.5) / 10000.0 AS weibull_shape,
        |  floor(exp(-b / k) * 10000.0 + 0.5) / 10000.0 AS weibull_scale
        |FROM fit""".stripMargin,

    "q316_backlog_aging" ->
      """WITH open_o AS (SELECT o_orderpriority,
        |    date_diff('day', o_orderdate, DATE '1997-06-30') AS age,
        |    o_totalprice
        |  FROM orders
        |  WHERE o_orderdate <= DATE '1997-06-30'
        |    AND EXISTS (SELECT 1 FROM lineitem
        |      WHERE l_orderkey = o_orderkey
        |        AND l_shipdate > DATE '1997-06-30'))
        |SELECT o_orderpriority,
        |  CASE WHEN age <= 30 THEN 'a_0_30' WHEN age <= 90 THEN 'b_31_90'
        |    WHEN age <= 180 THEN 'c_91_180' ELSE 'd_180_plus' END
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS value_cents
        |FROM open_o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q317_periodogram" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s
        |  FROM daily),
        |cx AS (SELECT event_type, t, n,
        |    CAST(n * x - s AS DOUBLE) / CAST(n AS DOUBLE) AS c
        |  FROM idx),
        |terms AS (SELECT event_type, p.p, t, n,
        |    c * (floor(cos(2.0 * pi() * CAST(t AS DOUBLE)
        |      / CAST(p.p AS DOUBLE)) * 1000000000000.0 + 0.5)
        |      / 1000000000000.0) AS ct,
        |    c * (floor(sin(2.0 * pi() * CAST(t AS DOUBLE)
        |      / CAST(p.p AS DOUBLE)) * 1000000000000.0 + 0.5)
        |      / 1000000000000.0) AS st
        |  FROM cx CROSS JOIN
        |    (SELECT unnest(generate_series(2, 15)) AS p) p),
        |pw AS (SELECT event_type, p, CAST(max(n) AS BIGINT) AS n,
        |    2.0 / CAST(max(n) AS DOUBLE)
        |      * (list_sum(list(ct ORDER BY t))
        |          * list_sum(list(ct ORDER BY t))
        |        + list_sum(list(st ORDER BY t))
        |          * list_sum(list(st ORDER BY t)))
        |      / 100000000.0 AS power
        |  FROM terms GROUP BY 1, 2)
        |SELECT event_type, n AS n_days, CAST(p AS BIGINT) AS peak_period,
        |  floor(power * 10000.0 + 0.5) / 10000.0 AS peak_power
        |FROM pw
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY power DESC, p) = 1
        |ORDER BY event_type""".stripMargin,

    "q318_jonckheere" ->
      """WITH c AS (SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS f
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT gs.g, xs.x, coalesce(c.f, 0) AS f
        |  FROM (SELECT DISTINCT g FROM c) gs
        |  CROSS JOIN (SELECT DISTINCT x FROM c) xs
        |  LEFT JOIN c ON c.g = gs.g AND c.x = xs.x),
        |cum AS (SELECT g, x, f,
        |    coalesce(sum(f) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below
        |  FROM grid),
        |u AS (SELECT CAST(sum(b.f * (2 * a.below + a.f)) AS BIGINT) AS j2
        |  FROM cum a JOIN cum b ON a.x = b.x AND a.g < b.g),
        |m AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(n * n) AS BIGINT) AS sn2,
        |    CAST(sum(n * n * (2 * n + 3)) AS BIGINT) AS sn23
        |  FROM (SELECT g, CAST(sum(f) AS BIGINT) AS n FROM c GROUP BY 1))
        |SELECT nt AS n_total, j2 AS j_doubled,
        |  floor(CAST(nt * nt - sn2 AS DOUBLE) / 4.0 * 10000.0 + 0.5)
        |    / 10000.0 AS e_j,
        |  floor((CAST(j2 AS DOUBLE) / 2.0
        |    - CAST(nt * nt - sn2 AS DOUBLE) / 4.0)
        |    / sqrt((CAST(nt AS DOUBLE) * nt * (2 * nt + 3)
        |      - CAST(sn23 AS DOUBLE)) / 72.0) * 10000.0 + 0.5) / 10000.0
        |    AS z
        |FROM u CROSS JOIN m""".stripMargin,

    "q319_safety_stock" ->
      """WITH st AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
        |  FROM (SELECT l_partkey, l_shipdate AS day,
        |      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) * 10000
        |        AS BIGINT) AS q
        |    FROM lineitem GROUP BY 1, 2)
        |  GROUP BY 1 HAVING count(*) >= 2),
        |zc AS (SELECT CAST(1.6448536269514722 AS DOUBLE) AS z,
        |    CAST(2.6457513110645907 AS DOUBLE) AS sql_),
        |f AS (SELECT l_partkey, nd,
        |    CAST(s AS DOUBLE) / CAST(nd AS DOUBLE) / 10000.0 AS mean,
        |    sqrt(CAST(nd * ss - s * s AS DOUBLE)
        |      / CAST(nd * (nd - 1) AS DOUBLE)) / 10000.0 AS sd
        |  FROM st)
        |SELECT l_partkey, nd AS n_demand_days,
        |  floor(mean * 10000.0 + 0.5) / 10000.0 AS mean_daily_qty,
        |  floor(sd * 10000.0 + 0.5) / 10000.0 AS sd_daily_qty,
        |  floor(z * sd * sql_ * 10000.0 + 0.5) / 10000.0 AS safety_stock,
        |  floor((mean * 7.0 + z * sd * sql_) * 10000.0 + 0.5) / 10000.0
        |    AS reorder_point
        |FROM f CROSS JOIN zc ORDER BY l_partkey""".stripMargin,

    "q321_large_orders" ->
      """WITH oq AS (SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY 1),
        |thr AS (SELECT CAST(sum(total_qty) AS BIGINT) AS sq,
        |    CAST(count(*) AS BIGINT) AS no_ FROM oq)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |    AS price_cents,
        |  total_qty
        |FROM oq CROSS JOIN thr
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE CAST(total_qty AS DOUBLE)
        |  > 2.5 * (CAST(sq AS DOUBLE) / CAST(no_ AS DOUBLE))
        |ORDER BY price_cents DESC, o_orderkey LIMIT 100""".stripMargin,

    "q322_dormant_customers" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |thr AS (SELECT CAST(sum(cents) AS BIGINT) AS sb,
        |    CAST(count(*) AS BIGINT) AS nb FROM cust WHERE cents > 0)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(cents) AS BIGINT) AS balance_cents
        |FROM cust CROSS JOIN thr
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(cents AS DOUBLE) > CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q324_capture_recapture" ->
      """WITH w1 AS (SELECT DISTINCT user_id FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-10 09:00:00'
        |    AND ts < TIMESTAMP '2024-01-10 12:00:00'),
        |w2 AS (SELECT DISTINCT user_id FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-20 15:00:00'
        |    AND ts < TIMESTAMP '2024-01-20 18:00:00'),
        |m AS (SELECT CAST((SELECT count(*) FROM w1) AS BIGINT) AS n1,
        |    CAST((SELECT count(*) FROM w2) AS BIGINT) AS n2,
        |    CAST((SELECT count(*) FROM w1 JOIN w2 USING (user_id))
        |      AS BIGINT) AS m12,
        |    CAST((SELECT count(DISTINCT user_id) FROM events) AS BIGINT)
        |      AS true_users)
        |SELECT n1, n2, m12, true_users,
        |  floor((CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
        |    / CAST(m12 + 1 AS DOUBLE) - 1.0) * 10000.0 + 0.5) / 10000.0
        |    AS chapman_estimate,
        |  floor(sqrt(CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
        |    * CAST((n1 - m12) * (n2 - m12) AS DOUBLE)
        |    / (CAST(m12 + 1 AS DOUBLE) * CAST(m12 + 1 AS DOUBLE)
        |      * CAST(m12 + 2 AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
        |    AS se
        |FROM m""".stripMargin,

    "q325_wilcoxon_signed_rank" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-01'
        |      AND DATE '2024-01-07' THEN 1 ELSE 0 END) AS BIGINT)
        |    - CAST(sum(CASE WHEN CAST(ts AS DATE) BETWEEN
        |      DATE '2024-01-08' AND DATE '2024-01-14' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM events GROUP BY 1),
        |nz AS (SELECT abs(d) AS ad, CAST(count(*) AS BIGINT) AS f,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
        |  FROM u WHERE d <> 0 GROUP BY 1),
        |c AS (SELECT ad, f, fp,
        |    coalesce(sum(f) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM nz),
        |agg AS (SELECT CAST(sum(f) AS BIGINT) AS n,
        |    CAST(sum(fp * (2 * below + f + 1)) AS BIGINT) AS w2,
        |    CAST(sum(f * f * f - f) AS BIGINT) AS tie3
        |  FROM c)
        |SELECT n AS n_nonzero, w2 AS w_plus_doubled,
        |  floor((CAST(w2 AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2.0)
        |    / (2.0 * sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE)
        |      / 24.0 - CAST(tie3 AS DOUBLE) / 48.0)) * 10000.0 + 0.5)
        |    / 10000.0 AS z
        |FROM agg""".stripMargin,

    "q326_hill_tail" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5)
        |      AS BIGINT) AS x, CAST(count(*) AS BIGINT) AS f
        |  FROM orders GROUP BY 1),
        |k0 AS (SELECT CAST(sum(f) AS BIGINT) AS n,
        |    CAST(sum(f) AS BIGINT) // 20 AS k FROM c),
        |cc AS (SELECT x, f,
        |    coalesce(sum(f) OVER (ORDER BY x DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS above, n, k
        |  FROM c CROSS JOIN k0),
        |thr AS (SELECT max(x) AS xk1 FROM cc
        |  WHERE above + f >= k + 1 AND above < k + 1),
        |topk AS (SELECT x, least(f, k - above) AS fk, n, xk1,
        |    CAST(least(f, k - above) AS DOUBLE)
        |      * ln(CAST(x AS DOUBLE) / CAST(xk1 AS DOUBLE)) AS term
        |  FROM cc CROSS JOIN thr WHERE above < k)
        |SELECT CAST(max(n) AS BIGINT) AS n_orders,
        |  CAST(sum(fk) AS BIGINT) AS k_tail,
        |  CAST(max(xk1) AS BIGINT) AS threshold_cents,
        |  floor(list_sum(list(term ORDER BY x))
        |    / CAST(sum(fk) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS hill_gamma,
        |  floor(CAST(sum(fk) AS DOUBLE) / list_sum(list(term ORDER BY x))
        |    * 10000.0 + 0.5) / 10000.0 AS tail_alpha
        |FROM topk""".stripMargin,

    "q327_mood_median" ->
      """WITH v AS (SELECT event_type AS g,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x FROM events),
        |cen AS (SELECT x, CAST(count(*) AS BIGINT) AS f FROM v GROUP BY 1),
        |cc AS (SELECT x, f,
        |    coalesce(sum(f) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    sum(f) OVER () AS n
        |  FROM cen),
        |med AS (SELECT max(CASE WHEN cum < (n + 1) // 2
        |    AND cum + f >= (n + 1) // 2 THEN x END) AS m FROM cc),
        |cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS gn,
        |    CAST(sum(CASE WHEN x > m THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    max(m) AS m
        |  FROM v CROSS JOIN med GROUP BY 1),
        |tot AS (SELECT CAST(sum(gn) AS BIGINT) AS nt,
        |    CAST(sum(a) AS BIGINT) AS at_ FROM cnt),
        |terms AS (SELECT g, gn, a, m, nt, at_,
        |    CAST(gn AS DOUBLE) * CAST(at_ AS DOUBLE) / CAST(nt AS DOUBLE)
        |      AS e
        |  FROM cnt CROSS JOIN tot),
        |t2 AS (SELECT g, m, nt,
        |    (CAST(a AS DOUBLE) - e) * (CAST(a AS DOUBLE) - e)
        |      / (e * (1.0 - CAST(at_ AS DOUBLE) / CAST(nt AS DOUBLE)))
        |      AS t
        |  FROM terms)
        |SELECT CAST(max(nt) AS BIGINT) AS n_total,
        |  CAST(max(m) AS BIGINT) AS grand_median_cents,
        |  CAST(count(*) AS BIGINT) - 1 AS dof,
        |  floor(list_sum(list(t ORDER BY g)) * 10000.0 + 0.5) / 10000.0
        |    AS chi2
        |FROM t2""".stripMargin,

    "q328_price_volume_bridge" ->
      """WITH y AS (SELECT p_brand,
        |    CAST(CASE WHEN l_shipdate <= DATE '1997-12-31' THEN 0
        |      ELSE 1 END AS BIGINT) AS yr,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS BIGINT) AS q,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate BETWEEN DATE '1997-01-01'
        |    AND DATE '1998-12-31'
        |  GROUP BY 1, 2),
        |w AS (SELECT p_brand,
        |    CAST(max(CASE WHEN yr = 0 THEN q END) AS BIGINT) AS q0,
        |    CAST(max(CASE WHEN yr = 0 THEN rev END) AS BIGINT) AS r0,
        |    CAST(max(CASE WHEN yr = 1 THEN q END) AS BIGINT) AS q1,
        |    CAST(max(CASE WHEN yr = 1 THEN rev END) AS BIGINT) AS r1
        |  FROM y GROUP BY 1
        |  HAVING max(CASE WHEN yr = 0 THEN q END) IS NOT NULL
        |    AND max(CASE WHEN yr = 1 THEN q END) IS NOT NULL)
        |SELECT p_brand, q0, q1, r0, r1,
        |  floor((CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
        |    * (CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE)) * 100.0 + 0.5)
        |    / 100.0 AS volume_effect_cents,
        |  floor((CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
        |    - CAST(r0 AS DOUBLE) / CAST(q0 AS DOUBLE))
        |    * CAST(q1 AS DOUBLE) * 100.0 + 0.5) / 100.0
        |    AS price_effect_cents,
        |  r1 - r0 AS delta_cents
        |FROM w ORDER BY p_brand""".stripMargin,

    "q329_sax_words" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000.0 + 0.5) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1),
        |z AS (SELECT d.event_type, d.day,
        |    CAST(m.n * d.x - m.s AS DOUBLE) / CAST(m.n AS DOUBLE)
        |      / sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)
        |        / CAST(m.n * (m.n - 1) AS DOUBLE)) AS zv
        |  FROM daily d JOIN mom m ON d.event_type = m.event_type),
        |sym AS (SELECT event_type, day,
        |    CASE WHEN zv < -0.6744897501960817 THEN 'a'
        |      WHEN zv < 0.0 THEN 'b'
        |      WHEN zv < 0.6744897501960817 THEN 'c' ELSE 'd' END AS s
        |  FROM z)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  string_agg(s, '' ORDER BY day) AS sax_word,
        |  CAST(count(DISTINCT s) AS BIGINT) AS n_symbols
        |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin,

    "q330_abc_xyz" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |dem AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss
        |  FROM (SELECT l_partkey, l_shipdate,
        |      CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) * 10000
        |        AS BIGINT) AS q
        |    FROM lineitem GROUP BY 1, 2)
        |  GROUP BY 1 HAVING count(*) >= 2),
        |ranked AS (SELECT r.l_partkey, r.r, d.nd, d.s, d.ss,
        |    sum(r.r) OVER (ORDER BY r.r DESC, r.l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr,
        |    sum(r.r) OVER () AS totr
        |  FROM rev r JOIN dem d ON r.l_partkey = d.l_partkey),
        |cls AS (SELECT l_partkey,
        |    CASE WHEN CAST(cumr AS DOUBLE) <= 0.8 * CAST(totr AS DOUBLE)
        |      THEN 'A'
        |      WHEN CAST(cumr AS DOUBLE) <= 0.95 * CAST(totr AS DOUBLE)
        |      THEN 'B' ELSE 'C' END AS abc,
        |    CASE WHEN sqrt(CAST(nd * ss - s * s AS DOUBLE)
        |        / CAST(nd * (nd - 1) AS DOUBLE))
        |        / (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) < 0.5 THEN 'X'
        |      WHEN sqrt(CAST(nd * ss - s * s AS DOUBLE)
        |        / CAST(nd * (nd - 1) AS DOUBLE))
        |        / (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) < 1.0 THEN 'Y'
        |      ELSE 'Z' END AS xyz
        |  FROM ranked)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts
        |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
