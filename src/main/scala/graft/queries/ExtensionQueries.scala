package graft.queries

import graft.core.Tables
import graft.queries.QueryUtils.{decSum, fr}
import graft.functions.VectorFunctions
import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extension gate queries (SURVEY.md §2.5 + the LLM-data-pipeline operators):
  * exact/near dedup, similarity search, text analysis, JSON extraction.
  *
  * Every query carries a DuckDB-expressible oracle in `sql` — including
  * q46, whose digest-fallback probe is pure md5/sha256 byte math that the
  * oracle replays hex-digit by hex-digit (the real header-probe path is
  * spec-pinned on crafted magic bytes instead). The
  * sketch operators themselves are oracle-checked through forms whose
  * output is provably exact: q41 verifies LSH candidates with exact n-gram
  * Jaccard at a recall-1.0 threshold, q42 fingerprints with the md5-hex
  * dual-form hash DuckDB can replay bit-for-bit, q45 probes every IVF list
  * so the top-k equals brute force.
  */
object ExtensionQueries {

  /** Scratch cleanup for the round-trip queries (q69/q70): their
    * run-unique temp dirs must not accumulate across harness runs.
    */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Native codegen cosine (plans.CosineSimilarity via the extension
    * registry) — bit-identical to VectorFunctions.cosine, one fused loop.
    */
  private def cosineFast(s: SparkSession, a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    graft.plans.GraftExtensions.register(s)
    call_function("cosine_sim", a, b)
  }

  /** Shared ranking layer for the retrieval-metric family (q259-q261):
    * exact cosine of each of 20 query vectors (vec_id < 20) against the
    * disjoint candidate pool (vec_id >= 20), fr-gridded at 4 decimals so
    * both engines rank identical doubles, (sim DESC, cid) total order,
    * binary same-label relevance. The query side is tiny by construction
    * (an evaluation set), so at scale it broadcasts and the candidate
    * scan streams once per metric.
    */
  private def rankedRetrieval(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("label").as("qlab"),
        col("emb").as("qe"))
    val c = emb.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("cid"), col("label").as("clab"),
        col("emb").as("ce"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        fr(cosineFast(s, col("qe"), col("ce")), 4).as("sim"),
        when(col("clab") === col("qlab"), 1L).otherwise(0L).as("_rel"))
      .withColumn("rn", row_number().over(w).cast("long"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup census by content hash (md5 — same hex on both engines).
    "q31_exact_dedup" -> { (s, d) =>
      Tables.documents(s, d)
        .agg(count(lit(1)).as("total"),
          countDistinct(md5(col("text"))).as("distinct_texts"))
        .withColumn("exact_dups", col("total") - col("distinct_texts"))
    },

    "q32_text_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          fr(avg(col("n_chars")), 4).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          fr(avg(length(col("text"))), 4).as("avg_len"))
        .orderBy("lang")
    },

    "q33_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("int")).as("sk"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // Pairwise cosine similarity (brute force over a small query side — the
    // scale path is Similarity.annTopK / LSH bucketing).
    "q34_cosine_pairs" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val a = emb.filter(col("vec_id") <= 10)
        .select(col("vec_id").as("qa"), col("emb").as("ea"))
      val b = emb.select(col("vec_id").as("qb"), col("emb").as("eb"))
      a.join(b, col("qa") < col("qb"))
        .select(col("qa"), col("qb"),
          fr(cosineFast(s, col("ea"), col("eb")), 4).as("sim"))
        .orderBy(col("sim").desc, col("qa"), col("qb"))
        .limit(20)
    },

    // Token counting (whitespace tokenizer) — per-source corpus stats.
    "q35_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          fr(avg(col("n_tokens")), 4).as("avg_tokens"))
        .orderBy("source")
    },

    // Document fingerprint: md5 over whitespace-normalized lowercase text.
    "q36_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .filter(col("doc_id") <= 20)
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        .orderBy("doc_id")
    },

    // Text-quality scoring: alpha ratio, whitespace ratio, stopword ratio,
    // mean token length (quality-filter primitives for a training-data
    // pipeline).
    "q37_quality_score" -> { (s, d) =>
      val toks = split(trim(col("text")), "\\s+")
      val stop = Seq("the", "a", "of", "and", "in", "to", "is")
      Tables.documents(s, d)
        .filter(col("doc_id") <= 50)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          fr(length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast("double") / length(col("text")), 4).as("alpha_ratio"),
          fr(size(filter(toks, t => t.isInCollection(stop)))
            .cast("double") / size(toks), 4).as("stopword_ratio"),
          fr((length(col("text")) - size(toks) + 1).cast("double")
            / size(toks), 4).as("mean_tok_len"))
        .orderBy("doc_id")
    },

    // Word-set Jaccard similarity between document pairs (n-gram dedup
    // primitive with n=1; ScalaTest covers n=3 shingles via Dedup.ngramJaccard).
    "q38_word_jaccard" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 15)
        .select(col("doc_id"),
          array_distinct(split(trim(col("text")), "\\s+")).as("ws"))
      val a = docs.select(col("doc_id").as("da"), col("ws").as("wa"))
      val b = docs.select(col("doc_id").as("db"), col("ws").as("wb"))
      a.join(b, col("da") < col("db"))
        .select(col("da"), col("db"),
          fr(size(array_intersect(col("wa"), col("wb"))).cast("double")
            / size(array_union(col("wa"), col("wb"))), 4).as("jac"))
        .orderBy(col("jac").desc, col("da"), col("db"))
        .limit(30)
    },

    // Brute-force cosine top-k per query vector (ANN baseline).
    "q39_ann_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = emb.filter(col("vec_id") <= 5)
        .select(col("vec_id").as("qid"), col("emb").as("qe"))
      val c = emb.select(col("vec_id").as("cid"), col("emb").as("ce"))
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
      q.join(c, col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          fr(cosineFast(s, col("qe"), col("ce")), 4).as("sim"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("qid", "rn")
    },

    // Retrieval-quality metrics (q259-q261): the evaluation side of the
    // ANN family (q39/q43/q45/q83) — given a ranked retrieval run, how
    // good IS it? The run under test is the exact-cosine ranking of the
    // candidate pool (vec_id >= 20) for each of 20 query vectors, with
    // same-label membership as the graded-relevance judgment. The ranking
    // layer (`rankedRetrieval` below) is identical across the three
    // queries; each metric then reduces the ranked list differently.
    // Logarithmic discounts use NATURAL log (nDCG is invariant to the log
    // base — it cancels in DCG/IDCG — so 1/ln(rn+1) terms avoid any
    // cross-engine log2 disagreement), and every float sum folds in rank
    // order per the q161 rule. At 100 TB the query side stays a broadcast
    // (evaluation sets are small by construction) and the per-qid ranking
    // is the same partial-rank shape q39 uses — no global sort.
    "q259_ndcg" -> { (s, d) =>
      val r = rankedRetrieval(s, d)
      val pool = r.groupBy(col("qid")).agg(sum(col("_rel")).as("n_rel"))
      val dcg = r.filter(col("rn") <= 10)
        .withColumn("_t", when(col("_rel") === 1L,
          lit(1.0) / log(col("rn").cast("double") + lit(1.0)))
          .otherwise(lit(0.0)))
        .groupBy(col("qid"))
        .agg(aggregate(transform(array_sort(collect_list(
          struct(col("rn"), col("_t")))), e => e.getField("_t")),
          lit(0.0), (a, x) => a + x).as("_dcg"))
      pool.join(dcg, Seq("qid"))
        .withColumn("_idcg", aggregate(
          sequence(lit(1), least(col("n_rel"), lit(10L)).cast("int")),
          lit(0.0),
          (a, x) => a + lit(1.0) / log(x.cast("double") + lit(1.0))))
        .select(col("qid"), col("n_rel"), fr(col("_dcg"), 6).as("dcg10"),
          when(col("_idcg") > 0,
            fr(col("_dcg") / col("_idcg"), 6)).as("ndcg10"))
        .orderBy("qid")
    },

    // Mean-reciprocal-rank ingredients: the rank of the FIRST relevant
    // result per query (deterministic under the shared ranking's total
    // order) and its reciprocal.
    "q260_mrr" -> { (s, d) =>
      rankedRetrieval(s, d)
        .groupBy(col("qid"))
        .agg(min(when(col("_rel") === 1L, col("rn"))).as("first_rel_rank"))
        .select(col("qid"), col("first_rel_rank"),
          fr(lit(1.0) / col("first_rel_rank").cast("double"), 6).as("rr"))
        .orderBy("qid")
    },

    // Average precision at 20: Σ rel_i · (cumRel_i / i) over the top-20,
    // normalized by min(R, 20). cumRel is an integer window sum in rank
    // order; each precision term is one double division from exact ints;
    // the term list folds in rank order.
    "q261_avg_precision" -> { (s, d) =>
      val r = rankedRetrieval(s, d)
      val pool = r.groupBy(col("qid")).agg(sum(col("_rel")).as("n_rel"))
      val wCum = Window.partitionBy(col("qid")).orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ap = r.filter(col("rn") <= 20)
        .withColumn("_cum", sum(col("_rel")).over(wCum))
        .withColumn("_t", when(col("_rel") === 1L,
          col("_cum").cast("double") / col("rn").cast("double"))
          .otherwise(lit(0.0)))
        .groupBy(col("qid"))
        .agg(aggregate(transform(array_sort(collect_list(
          struct(col("rn"), col("_t")))), e => e.getField("_t")),
          lit(0.0), (a, x) => a + x).as("_ap"))
      pool.join(ap, Seq("qid"))
        .select(col("qid"), col("n_rel"),
          fr(col("_ap") / least(col("n_rel"), lit(20L)).cast("double"), 6)
            .as("ap20"))
        .orderBy("qid")
    },

    // Heaps'-law vocabulary-growth curve over the corpus in doc_id order:
    // cumulative distinct BIGRAMS (the synthetic corpus has ~31 unigrams,
    // so bigrams give the curve room to grow) vs cumulative token-pair
    // count, checkpointed every 50 docs. A bigram's first occurrence is
    // min(doc_id) — one groupBy, no expanding re-scan — so the cumulative
    // vocab is a window cumsum of per-doc first-occurrence counts over
    // the DOC census (bounded by corpus size, never token rows).
    // Everything stays integer: no float parity surface at all.
    "q273_heaps_law" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("_toks"))
        .withColumn("_ntok", size(col("_toks")))
      val bigrams = docs.filter(col("_ntok") >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), col("_ntok") - lit(2)),
            i => concat(element_at(col("_toks"), i + lit(1)), lit(" "),
              element_at(col("_toks"), i + lit(2))))).as("_bg"))
      val newPerDoc = bigrams.groupBy(col("_bg"))
        .agg(min(col("doc_id")).as("_fd"))
        .groupBy(col("_fd").as("doc_id"))
        .agg(count(lit(1)).as("_new"))
      // Sizing-gated doc-order cumsums (r17, guide §2.5 — q225's device
      // behind the fan-out gate's threshold): the rank and the two
      // running sums ride ONE keyless window over the per-doc census — a
      // single task scaling with the corpus. Below the at-scale threshold
      // the lazy single-window form stays (it is 0.38 vs 0.61 s at the
      // gate: the bucket census + broadcast cost more than they
      // parallelize on a 30 k-doc corpus, and swapping the gate-scale
      // plan would re-baseline a committed bench row for no gate win).
      // At scale, `doc_id div 2^20` is monotone in doc_id (integer div,
      // any sign), hence a prefix of the order: within-bucket windows run
      // parallel and each bucket's exclusive offsets (row count, Σ_nbig,
      // Σ_new) cumulate over the BUCKET census — bounded by
      // id-range/2^20 (~10⁴ buckets at a 10¹⁰-doc corpus). Identical
      // ranks and sums on both sides of the threshold —
      // ScaleWindowGateSpec proves it.
      val base = docs.select(col("doc_id"),
          greatest(col("_ntok") - lit(1), lit(0)).cast("long").as("_nbig"))
        .join(newPerDoc, Seq("doc_id"), "left")
        .withColumn("_new", coalesce(col("_new"), lit(0L)))
      val ranked =
        if (graft.core.Sizing.leafScanBytes(docs) <=
            graft.core.Sizing.fanoutCkptBytes) {
          val wDoc = Window.orderBy(col("doc_id"))
          val wCum = wDoc.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)
          base
            .withColumn("_rank", row_number().over(wDoc).cast("long"))
            .withColumn("cum_bigrams", sum(col("_nbig")).over(wCum))
            .withColumn("cum_vocab", sum(col("_new")).over(wCum))
        } else {
          val keyed = base.withColumn("_bkt", expr("doc_id div 1048576"))
          val wB = Window.orderBy(col("_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val offsets = keyed.groupBy(col("_bkt"))
            .agg(count(lit(1)).as("_bn"),
              sum(col("_nbig")).as("_bs"), sum(col("_new")).as("_bv"))
            .select(col("_bkt"),
              coalesce(sum(col("_bn")).over(wB), lit(0L)).as("_on"),
              coalesce(sum(col("_bs")).over(wB), lit(0L)).as("_os"),
              coalesce(sum(col("_bv")).over(wB), lit(0L)).as("_ov"))
          val wIn = Window.partitionBy(col("_bkt")).orderBy(col("doc_id"))
          val wInCum = wIn.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)
          keyed.join(broadcast(offsets), Seq("_bkt"))
            .withColumn("_rank",
              col("_on") + row_number().over(wIn).cast("long"))
            .withColumn("cum_bigrams",
              col("_os") + sum(col("_nbig")).over(wInCum))
            .withColumn("cum_vocab",
              col("_ov") + sum(col("_new")).over(wInCum))
        }
      ranked
        .filter(col("_rank") % 50 === 0)
        .select(col("_rank").as("n_docs"), col("cum_bigrams"),
          col("cum_vocab"))
        .orderBy("n_docs")
    },

    // Burrows' delta stylometric distance between sources: z-scores of
    // the top-15 corpus tokens' relative frequencies across the 20
    // sources (population moments over the source axis, folded in source
    // order), then Delta(a,b) = mean |z_a − z_b| over the terms, folded
    // in term order. Every relation is census-bounded (terms × sources);
    // tokens with zero variance across sources are excluded BEFORE the
    // sqrt on both engines (identical census → identical filter).
    "q274_burrows_delta" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("_t"))
        .filter(col("_t") =!= "")
      // Sizing-gated two-phase top-15 (r17, guide §2.5): ranking the
      // WHOLE token census through one keyless row_number is the
      // single-task trap at corpus scale. At scale, phase 1 ranks inside
      // 64 hash sub-buckets (parallel under any skew); every global
      // top-15 token is necessarily within its own bucket's top-15, so
      // phase 2's keyless window ranks ≤ 64·15 survivors — a bounded
      // input. Same (_c desc, _t) total order ⇒ identical final set on
      // both sides of the threshold (ScaleWindowGateSpec); the gate-scale
      // census (tiny vocabulary) keeps the cheaper single window.
      val wTop = Window.orderBy(col("_c").desc, col("_t"))
      val cnt = toks.groupBy(col("_t")).agg(count(lit(1)).as("_c"))
      val preTop =
        if (graft.core.Sizing.leafScanBytes(toks) <=
            graft.core.Sizing.fanoutCkptBytes) cnt
        else {
          val wSub = Window.partitionBy(col("_sb"))
            .orderBy(col("_c").desc, col("_t"))
          cnt.withColumn("_sb", pmod(xxhash64(col("_t")), lit(64)))
            .withColumn("_srn", row_number().over(wSub))
            .filter(col("_srn") <= 15)
        }
      val top = preTop
        .withColumn("_rn", row_number().over(wTop))
        .filter(col("_rn") <= 15).select(col("_t"))
      val bySource = toks.groupBy(col("source"), col("_t"))
        .agg(count(lit(1)).as("_n"))
      val totals = toks.groupBy(col("source"))
        .agg(count(lit(1)).as("_tot"))
      val grid = top.crossJoin(totals)
        .join(bySource, Seq("source", "_t"), "left")
        .withColumn("_f", coalesce(col("_n"), lit(0L)).cast("double")
          / col("_tot").cast("double"))
      def fold(termCol: Column): Column =
        aggregate(transform(array_sort(collect_list(
          struct(col("source"), termCol.as("_v")))),
          e => e.getField("_v")), lit(0.0), (a, x) => a + x)
      val stats = grid.groupBy(col("_t"))
        .agg(count(lit(1)).as("_k"), fold(col("_f")).as("_sf"),
          fold(col("_f") * col("_f")).as("_sff"))
        .withColumn("_mu", col("_sf") / col("_k").cast("double"))
        .withColumn("_var", col("_sff") / col("_k").cast("double")
          - col("_mu") * col("_mu"))
        .filter(col("_var") > 0)
        .withColumn("_sigma", sqrt(col("_var")))
      val z = grid.join(stats.select(col("_t"), col("_mu"),
          col("_sigma")), Seq("_t"))
        .select(col("_t"), col("source"),
          ((col("_f") - col("_mu")) / col("_sigma")).as("_z"))
      val pairs = z.select(col("_t"), col("source").as("source_a"),
          col("_z").as("_za"))
        .join(z.select(col("_t"), col("source").as("source_b"),
          col("_z").as("_zb")), Seq("_t"))
        .filter(col("source_a") < col("source_b"))
      val foldT = aggregate(transform(array_sort(collect_list(
        struct(col("_t"), abs(col("_za") - col("_zb")).as("_v")))),
        e => e.getField("_v")), lit(0.0), (a, x) => a + x)
      pairs.groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_terms"), foldT.as("_sd"))
        .select(col("source_a"), col("source_b"), col("n_terms"),
          fr(col("_sd") / col("n_terms").cast("double"), 6).as("delta"))
        .orderBy("source_a", "source_b")
    },

    // Heuristic language identification over documents (stopword-vote +
    // CJK-ratio heuristic — fully SQL-expressible, so it carries an oracle).
    "q40_language_id" -> { (s, d) =>
      TextAnalysis.languageId(Tables.documents(s, d), textCol = "text")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("docs"))
        .orderBy("lang", "lang_pred")
    },

    // MinHash-LSH candidates VERIFIED with exact 3-gram Jaccard — the
    // full dedup shape (sketch → banded candidates → exact verify). At a
    // 0.5 threshold the banding (16 bands × 4 rows) has recall 1.0 on this
    // corpus (its pair-similarity distribution is bimodal: planted near-
    // dups ≥0.7, background <0.2 — collision probability at 0.7 is 0.988
    // per pair and the exact-verify filter discards false candidates), so
    // DuckDB brute-force Jaccard is a true oracle. The capped sub-linear
    // sketch form (threshold on the estimate only) stays pinned in
    // DedupSimilaritySpec as the scale demo.
    "q41_minhash_lsh" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // The pair set decomposes over EXACT-DUPLICATE text groups (the
      // q341 device, applied to the batch form): minhash signatures — and
      // therefore band collisions, the estimate prefilter, and the exact
      // verify — are functions of the text alone, so running LSH+verify on
      // ONE representative per distinct text and expanding group members
      // afterwards yields the identical pair set. Under a verbatim-copy
      // corpus (the ScaleGen growth model, and the realistic re-crawl
      // shape) this makes the COMPUTE and the driver-collected candidate
      // list linear in distinct texts while the (inherently quadratic)
      // output pairs materialize as a distributed membership join — the
      // raw-docs form collected the quadratic candidate list to the
      // driver: 88 s and a driver-memory hazard at the 30× rehearsal.
      //  - within-group pairs (a < b): jac = 1.0 by construction;
      //  - cross-group pairs: every (member_a, member_b) combination
      //    carries the rep pair's jac — identical texts, identical
      //    shingle sets.
      // group key is (length, xxhash64): a bare 64-bit collision between
      // two distinct texts would silently merge groups (false jac=1.0
      // pairs that skip the exact verify); pairing the hash with the
      // length makes that practically impossible without widening the
      // shuffle key beyond two fixed-width columns
      val withH = docs.select(col("doc_id"), col("text"),
        xxhash64(col("text")).as("_h"), length(col("text")).as("_hl"))
      val groups = withH.groupBy(col("_h"), col("_hl"))
        .agg(min(col("doc_id")).as("_rep"))
      val members = withH.join(broadcast(groups), Seq("_h", "_hl"))
        .select(col("doc_id"), col("_rep"))
      val repDocs = withH
        .join(broadcast(groups.select(col("_rep").as("doc_id"))), "doc_id")
        .select(col("doc_id"), col("text"))
      // estimate prefilter at 0.35 ≪ the 0.5 verify threshold: for a pair
      // at true j=0.5 the 64-position estimate sits 2.6σ above 0.35 (and
      // the corpus has no pairs between 0.2 and 0.7 at all), so no true
      // pair is lost while false band collisions skip the exact verify.
      // The candidate set feeds BOTH the id restriction and the verify
      // join, so it must compute exactly once — materialized as local rows
      // (rep-id pairs above the estimate prefilter: hundreds at gate
      // scale, linear in distinct texts at any scale) rather than
      // session-cached: a cache entry outlives the query and accumulates
      // over a long-lived session (r6 advice)
      val candRaw = Dedup.minHashLshPairs(repDocs, idCol = "doc_id",
          textCol = "text", numHashes = 64, bands = 16, shingleSize = 3,
          threshold = 0.35, maxBucketSize = 100000)
        .select(col("id_a"), col("id_b"))
      val cand = broadcast(s.createDataFrame(
        s.sparkContext.parallelize(candRaw.collect().toIndexedSeq, 1),
        candRaw.schema))
      // shingle ONLY the reps that appear in a candidate pair (broadcast
      // semi-join on the tiny id set) — shingling the full corpus for a
      // candidate list 20× smaller was the query's dominant stage
      val candIds = cand.select(col("id_a").as("doc_id"))
        .union(cand.select(col("id_b").as("doc_id"))).distinct()
      // fused 64-bit shingle hashing (plans.ShingleHashes): intersection /
      // union sizes — and so the verify jaccard — match the string form
      val vtoks = split(trim(lower(col("text"))), "\\s+")
      val sh = docs.join(broadcast(candIds), "doc_id")
        .select(col("doc_id"),
          call_function("shingle_hashes",
            transform(vtoks, t => xxhash64(t)), lit(3)).as("sh"))
      val jac = size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
        size(array_union(col("_sa"), col("_sb")))
      val repPairs = cand
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("_sa")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("_sb")), "id_b")
        .select(col("id_a"), col("id_b"), fr(jac, 4).as("jac"))
        .filter(col("jac") >= 0.5)
      // expansion: cross-group = member × member over the verified rep
      // pairs (ids reordered per pair — group minima don't order members);
      // within-group = the a<b self-join on membership, jac = 1.0
      val cross = repPairs
        .join(members.select(col("_rep").as("id_a"), col("doc_id").as("_da")),
          "id_a")
        .join(members.select(col("_rep").as("id_b"), col("doc_id").as("_db")),
          "id_b")
        .select(least(col("_da"), col("_db")).as("id_a"),
          greatest(col("_da"), col("_db")).as("id_b"), col("jac"))
      val within = members.as("x")
        .join(members.as("y"), col("x._rep") === col("y._rep") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
          lit(1.0).as("jac"))
      cross.unionByName(within)
        .orderBy(col("jac").desc, col("id_a"), col("id_b"))
    },

    // SimHash 64-bit fingerprints, md5-hex form so DuckDB reproduces the
    // bits exactly (the xxhash64 scale form and the hamming-near-pair
    // operator stay pinned in DedupSimilaritySpec).
    "q42_simhash" -> { (s, d) =>
      Dedup.simHashMd5(Tables.documents(s, d), idCol = "doc_id",
          textCol = "text")
        .filter(col("doc_id") <= 50)
        .orderBy("doc_id")
    },

    // Embedding-cosine near-duplicate pairs above a threshold — EXACT on a
    // bounded id slice, so DuckDB brute force is a true oracle. The
    // approximate scale path (Similarity.nearDuplicates, hyperplane-LSH
    // bucketing) has no exact SQL equivalent by construction (banding
    // trades recall for candidate count); its subset-of-brute-force and
    // planted-duplicate recall contracts are pinned in DedupSimilaritySpec.
    "q43_embedding_near_dup" -> { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("vec_id") <= 800)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val a = emb.select(col("vec_id").as("id_a"), col("emb").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("emb").as("eb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          fr(cosineFast(s, col("ea"), col("eb")), 4).as("sim"))
        .filter(col("sim") >= 0.3)
        .orderBy(col("sim").desc, col("id_a"), col("id_b"))
        .limit(50)
    },

    // The distributed as-of OPERATOR (tag-union + merge scan — AsofJoin
    // scaladoc) in its hot-key-proof range layout, checked
    // against the same correlated-subquery oracle as q12: identical
    // semantics, one-shuffle plan, and no per-key straggler ceiling.
    "q44_asof_operator" -> { (s, d) =>
      val events = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"), col("o_orderdate"))
      graft.operators.AsofJoin.asof(events, orders, Seq("user_id"),
          "ts", "o_orderdate", Seq("o_orderdate"))
        .select(col("event_id"),
          col("asof_o_orderdate").cast("timestamp_ntz").as("asof_order"))
        .orderBy("event_id")
        .limit(500)
    },

    // IVF-bucketed ANN with EXHAUSTIVE probing (nProbe = nLists): every
    // corpus vector sits in exactly one list and the probe set covers all
    // lists, so the result is provably the brute-force top-k — q39's
    // oracle applies verbatim, and the query proves the probe/bucket
    // plumbing loses nothing. Centroids train on a seeded 20% sample with
    // one Lloyd round (training shapes bucket quality only, never probe
    // correctness). The bounded-probe production form (nProbe < nLists)
    // stays pinned by DedupSimilaritySpec's planted-duplicate recall test.
    "q45_ivf_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") <= 5), emb,
          "vec_id", "vec_id", "embedding", k = 3, nLists = 8, nProbe = 8,
          iterations = 1, sampleFraction = 0.2)
        .orderBy("qid", "rn")
    },

    // Multimodal plumbing over DRIVER data: each document's bytes ride as
    // the opaque payload through probe + feature extraction. Text payloads
    // carry no PNG/GIF/JPEG magic, so the probe takes the deterministic
    // digest path (md5/sha256 byte math) — which DuckDB replays hex-digit
    // by hex-digit, giving the query a full oracle; the REAL header-probe
    // path is pinned by MultimodalStreamingSpec on crafted magic bytes.
    "q46_media_pipeline" -> { (s, d) =>
      val media = graft.operators.Multimodal.fromDocuments(
        Tables.documents(s, d))
      val feats = graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.probeMedia(media), dim = 16)
      feats.select(col("media_id"), col("probe_width"), col("probe_height"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("f0"))
        .orderBy("media_id")
    },

    // Near-dup CLUSTERING — the dedup pipeline's final stage: word-Jaccard
    // pairs (bounded doc subset so the all-pairs oracle stays replayable;
    // the operator itself takes ANY pair frame — LSH pairs at scale) →
    // connected components → min-id canonical label per doc. The oracle
    // recomputes the transitive closure with a recursive CTE.
    "q49_dedup_clusters" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          array_distinct(split(trim(col("text")), "\\s+")).as("ws"))
      val a = docs.select(col("doc_id").as("da"), col("ws").as("wa"))
      val b = docs.select(col("doc_id").as("db"), col("ws").as("wb"))
      val pairs = a.join(b, col("da") < col("db"))
        .filter(size(array_intersect(col("wa"), col("wb"))).cast("double")
          / size(array_union(col("wa"), col("wb"))) >= 0.94)
        .select(col("da"), col("db"))
      Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id",
          pairs, "da", "db")
        .orderBy("doc_id")
    },

    // Near-dup CLUSTER-SIZE census over the q49 component graph: how is
    // duplicate mass distributed — many pairs, or a few giant blobs? The
    // count-of-counts census (one row per distinct cluster size) is the
    // corpus-health view a dedup pipeline reports before deciding its
    // canonical-keep policy; singleton clusters are unique docs. All
    // integer; bounded by distinct sizes, never docs.
    "q286_dedup_cluster_sizes" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 200)
        .select(col("doc_id"),
          array_distinct(split(trim(col("text")), "\\s+")).as("ws"))
      val a = docs.select(col("doc_id").as("da"), col("ws").as("wa"))
      val b = docs.select(col("doc_id").as("db"), col("ws").as("wb"))
      val pairs = a.join(b, col("da") < col("db"))
        .filter(size(array_intersect(col("wa"), col("wb"))).cast("double")
          / size(array_union(col("wa"), col("wb"))) >= 0.94)
        .select(col("da"), col("db"))
      Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id",
          pairs, "da", "db")
        .groupBy(col("component")).agg(count(lit(1)).as("_sz"))
        .groupBy(col("_sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("docs_in_size",
          col("cluster_size") * col("n_clusters"))
        .orderBy("cluster_size")
    },

    // Connected-component census of the q118 co-activity graph: how
    // fragmented is the user graph — one giant component or many
    // islands? Components via the pointer-jumping operator (lineage-
    // truncated, the q49 machinery) seeded with EVERY active user, so
    // isolated users count as singleton components; the giant-component
    // share is the standard percolation health scalar. All integer but
    // the one share division.
    "q290_graph_components" -> { (s, d) =>
      val edges = Graph.coActivityEdges(Tables.events(s, d))
      val nodes = Tables.events(s, d).select(col("user_id")).distinct()
      val sizes = Dedup.connectedComponents(nodes, "user_id",
          edges, "src", "dst")
        .groupBy(col("component")).agg(count(lit(1)).as("_sz"))
      sizes.agg(sum(col("_sz")).as("n_nodes"),
          count(lit(1)).as("n_components"),
          max(col("_sz")).as("giant_size"),
          sum(when(col("_sz") === 1, 1L).otherwise(0L)).as("n_isolated"))
        .withColumn("giant_share",
          fr(col("giant_size").cast("double")
            / col("n_nodes").cast("double"), 6))
    },

    // BM25 document ranking for a fixed 3-term query ("hash join dup" —
    // two common terms plus the rare planted-dup marker, so idf actually
    // discriminates): the Lucene-form idf ln((N−df+0.5)/(df+0.5)+1) and
    // the k1=1.2/b=0.75 saturation, all double math from exact integer
    // tf/df/length censuses, per-doc term scores folded in term order,
    // top-20 under the (score DESC, doc_id) total order. Complements the
    // raw inverted index (q106) and tf-idf (q64) with the ranking
    // function production retrieval actually ships.
    "q287_bm25_topk" -> { (s, d) =>
      val qTerms = Seq("hash", "join", "dup")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("_t"))
        .filter(col("_t") =!= "")
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("_len"))
      val stats = dl.agg(count(lit(1)).as("_N"),
        sum(col("_len")).as("_totlen"))
      val tf = toks.filter(col("_t").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("_t")).agg(count(lit(1)).as("_tf"))
      val dfreq = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      val terms = tf.join(dfreq, Seq("_t")).join(dl, Seq("doc_id"))
        .crossJoin(stats)
        .withColumn("_idf", log(
          (col("_N").cast("double") - col("_df").cast("double")
            + lit(0.5)) / (col("_df").cast("double") + lit(0.5))
            + lit(1.0)))
        .withColumn("_score", col("_idf")
          * (col("_tf").cast("double") * lit(2.2))
          / (col("_tf").cast("double") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("_len").cast("double")
              / (col("_totlen").cast("double")
                / col("_N").cast("double")))))
      terms.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"),
          aggregate(transform(array_sort(collect_list(
            struct(col("_t"), col("_score").as("_v")))),
            e => e.getField("_v")), lit(0.0), (a, x) => a + x).as("_s"))
        .select(col("doc_id"), col("n_terms"), fr(col("_s"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },

    // Global vocabulary top-k (token-frequency census): the map-side-
    // combine shape every corpus statistics job needs — hot tokens collapse
    // inside scan tasks, top-k plans as TakeOrderedAndProject.
    "q50_vocab_topk" -> { (s, d) =>
      TextAnalysis.vocabulary(Tables.documents(s, d), "text")
        .orderBy(col("cnt").desc, col("token"))
        .limit(30)
    },

    // Repeated-bigram fraction (repetition quality signal).
    "q51_repetition_ratio" -> { (s, d) =>
      graft.plans.GraftExtensions.register(s)
      Tables.documents(s, d).filter(col("doc_id") <= 50)
        .select(col("doc_id"),
          fr(TextAnalysis.repetitionRatio(col("text")), 4).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // Benchmark-contamination scoring: docs 0-10 stand in for the eval
    // suite, docs 11-100 are the corpus slice; broadcast shingle-set
    // left-join, no corpus-vs-corpus shuffle.
    "q52_contamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.contaminationScore(
          docs.filter(col("doc_id") > 10 && col("doc_id") <= 100),
          docs.filter(col("doc_id") <= 10), "doc_id", "text", n = 3)
        .select(col("doc_id"), fr(col("contamination"), 4).as("contamination"))
        .orderBy("doc_id")
    },

    // PERSISTED IVF index — the production ANN layout: buildIvfIndex pays
    // training + assignment once and writes the corpus PARTITIONED BY list
    // id (codebook in a sidecar); ivfProbe reads the codebook and scans
    // only the probed list directories (partition pruning — PlanSpec pins
    // that a bounded probe touches nProbe partitions). Probing is
    // exhaustive here (nProbe = nLists) so the result is provably the
    // brute-force top-k and q45's oracle applies verbatim.
    "q54_ivf_persisted" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val table = "graft_bkt_ivf_q54"
      Similarity.buildIvfIndex(emb, table, "vec_id", "embedding",
        nLists = 8, iterations = 1, sampleFraction = 0.2)
      Similarity.ivfProbe(s, table, emb.filter(col("vec_id") <= 5),
          "vec_id", "embedding", k = 3, nProbe = 8)
        .orderBy("qid", "rn")
    },

    // C4-style paragraph dedup. The corpus texts are single-line, so the
    // query synthesizes overlapping 3-doc "documents" (stride 1 — every
    // text appears in up to three of them), giving real cross-document
    // duplicate paragraphs; the operator must keep exactly the first
    // occurrence of each and reassemble survivors in position order.
    "q56_paragraph_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 120)
        .select(col("doc_id"), col("text"))
      val a = docs.select(col("doc_id").as("gid"), col("text").as("t0"))
      val b = docs.select((col("doc_id") - 1).as("gid"), col("text").as("t1"))
      val c = docs.select((col("doc_id") - 2).as("gid"), col("text").as("t2"))
      val synth = a.join(b, "gid").join(c, "gid")
        .select(col("gid").as("doc_id"),
          concat_ws("\n\n", col("t0"), col("t1"), col("t2")).as("text"))
      Dedup.paragraphDedup(synth, "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          length(col("text")).cast("long").as("text_len"))
        .orderBy("doc_id")
    },

    // PII redaction (emails / IPv4s / phone-shaped runs -> typed
    // placeholders). The corpus plants no PII, so the query injects a
    // deterministic synthetic footer per document (built from doc_id —
    // both engines concat identical bytes), redacts, and compares the
    // full digest, so every replacement byte is oracle-checked.
    "q55_pii_redact" -> { (s, d) =>
      val footer = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 call +49 30 1234 "),
        (col("doc_id") % 10000).cast("string"))
      val red = TextAnalysis.redactPii(footer)
      Tables.documents(s, d).filter(col("doc_id") <= 100)
        .select(col("doc_id"), md5(red).as("red_md5"),
          length(red).cast("long").as("red_len"))
        .orderBy("doc_id")
    },

    // Deterministic stratified downsampling (content-hash thresholds:
    // en 50%, de 25%, rest 12.5%), verified through per-stratum counts.
    "q53_stratified_sample" -> { (s, d) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, d), "text", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.125)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"),
          fr(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    },

    // NDJSON source round-trip: documents written as JSON-lines, read
    // back through the quarantining reader; per-lang counts + a 16-bit
    // md5 checksum prove texts survive the round trip byte-exactly.
    // The oracle aggregates the original table — round trip ≡ identity.
    "q69_ndjson_roundtrip" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      // run-unique dir: two harness runs on one host must not clobber
      // each other's round-trip data mid-read (overwrite-mode race)
      val dir = System.getProperty("java.io.tmpdir") +
        s"/graft_q69_ndjson_${s.sparkContext.applicationId}"
      docs.coalesce(4).write.mode("overwrite").json(dir)
      val rr = graft.sources.Readers.readNdjson(s, dir, Some(docs.schema))
      val hv16 = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
      val agg = rr.df.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(hv16).as("md5sum16"))
        .orderBy("lang")
      val rows = agg.collect() // fixed-size (one row per lang); lets the
      rr.release()             // reader's parse cache release eagerly
      deleteRecursively(new java.io.File(dir))
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq, 1), agg.schema)
    },

    // Gopher composite quality rules: per-rule verdicts + the combined
    // pass bit, audited per document.
    "q71_gopher_rules" -> { (s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d), "text")
        .filter(col("doc_id") <= 200)
        .select(col("doc_id"), col("rule_tokens"), col("rule_mean_len"),
          col("rule_alpha"), col("rule_stopwords"), col("quality_pass"))
        .orderBy("doc_id")
    },

    // Extended Gopher rules (the Rae et al. repetition block): corpus
    // texts are single-line, so the query synthesizes 5-line documents
    // whose duplicate/ellipsis/bullet line mix varies deterministically
    // by doc_id — both engines concat identical bytes — and audits every
    // fraction and per-rule verdict.
    "q72_gopher_extended" -> { (s, d) =>
      val did = col("doc_id")
      val synth = Tables.documents(s, d).filter(did <= 150)
        .select(did, concat(
          col("text"), lit("\n"),
          lit("- "), substring(col("text"), 1, 40), lit("\n"),
          when(did % 3 === 0, col("text"))
            .otherwise(concat(lit("unique line "), did.cast("string"))),
          lit("\n"),
          when(did % 4 < 2, lit("read more..."))
            .otherwise(lit("regular footer")),
          lit("\n"),
          when(did % 12 === 0, col("text"))
            .when(did % 5 === 0, concat(lit("- tail "), did.cast("string")))
            .when(did % 4 === 0, lit("continued..."))
            .otherwise(concat(lit("tail "), did.cast("string")))
        ).as("text"))
      TextAnalysis.gopherExtendedRules(synth, "doc_id", "text")
        .select(did,
          fr(col("dup_line_frac"), 4).as("dup_line_frac"),
          fr(col("ellipsis_line_frac"), 4).as("ellipsis_line_frac"),
          fr(col("bullet_line_frac"), 4).as("bullet_line_frac"),
          fr(col("top2gram_frac"), 4).as("top2gram_frac"),
          col("rule_dup_lines"), col("rule_ellipsis_lines"),
          col("rule_bullet_lines"), col("rule_top2gram"), col("ext_pass"))
        .orderBy("doc_id")
    },

    // Encoding-noise probe: the corpus is clean, so the query injects a
    // deterministic per-doc mojibake footer (doc_id%3 replacement chars,
    // a 5-BEL run every 7th doc) — both engines concat identical
    // codepoints — and audits counts, ratio, and the pass verdict.
    "q73_encoding_noise" -> { (s, d) =>
      val did = col("doc_id")
      val noisy = Tables.documents(s, d).filter(did <= 200)
        .select(did, concat(
          col("text"),
          repeat(lit("\uFFFD"), (did % 3).cast("int")),
          when(did % 7 === 0, lit("\u0007" * 5)).otherwise(lit(""))
        ).as("text"))
      TextAnalysis.encodingQuality(noisy, "text")
        .select(did, col("fffd_count"), col("ctrl_count"),
          fr(col("ctrl_ratio"), 6).as("ctrl_ratio"), col("enc_pass"))
        .orderBy("doc_id")
    },

    // EXACT corpus heavy hitters (every token with freq ≥ total/500):
    // Misra-Gries candidate sketch (one fixed-size aggregate, no
    // occurrence shuffle) + exact count of candidates only. The integer
    // threshold compare makes the result deterministic even though sketch
    // contents depend on partition merge order.
    "q74_heavy_hitters" -> { (s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), "text", k = 500)
        .orderBy(col("cnt").desc, col("term"))
    },

    // Embedding-cosine near-dup dedup end-to-end: pairs → transitive
    // clusters → canonical keeper. The pair frame here is the EXACT
    // bounded all-pairs build (the q43/q49 replayable-oracle convention —
    // DuckDB replays it with a recursive-CTE closure); the production
    // LSH-bucketed pair path through the same operator is pinned in
    // DedupSimilaritySpec (subset-of-brute-force + planted-dup recall).
    "q75_embedding_dedup" -> { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(col("vec_id") <= 800)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val a = emb.select(col("vec_id").as("id_a"), col("emb").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("emb").as("eb"))
      val pairs = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          fr(cosineFast(s, col("ea"), col("eb")), 4).as("sim"))
        .filter(col("sim") >= 0.38)
      Dedup.embeddingDedup(emb, "vec_id", "emb", 0.38, pairs = Some(pairs))
        .select(col("vec_id"), col("component"), col("is_dup"))
        .orderBy("vec_id")
    },

    // Bigram-LM fluency score: tf-weighted mean conditional log-prob
    // ln(c(w1 w2)/c(w1 ·)) — the q68 shape one order up; joins probe
    // (doc, bigram, tf) aggregates, never the occurrence explode.
    "q76_bigram_logprob" -> { (s, d) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), fr(col("logprob"), 4).as("logprob"))
        .orderBy("doc_id")
    },

    // Per-source vocabulary drift: KL divergence from the corpus unigram
    // distribution over the EXACT heavy-hitter vocabulary (freq ≥
    // total/500) — sketch-bounded corpus health monitoring; all math over
    // (source, term) aggregates, integer counts until the final ratios.
    "q79_vocab_drift" -> { (s, d) =>
      TextAnalysis.vocabularyDrift(Tables.documents(s, d), "source", "text",
          k = 500)
        .select(col("source"), fr(col("kl"), 4).as("kl"), col("n_terms"))
        .orderBy("source")
    },

    // Deterministic k-means corpus clustering (Forgy-by-id init, 2 Lloyd
    // rounds, 1e-6 centroid snap): the semantic-bucketing stage behind
    // cluster-based mixing and SemDedup-style pruning. Integer-only
    // output (assignment + cluster size) — the float math stays internal.
    "q81_kmeans_cluster" -> { (s, d) =>
      Similarity.kmeansCluster(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iterations = 2)
        .withColumn("cluster_n",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy("vec_id")
    },

    // CCNet-style perplexity bucketing: q68's unigram-LM scores, rounded
    // to the 1e-4 grid, terciled per source into head/middle/tail. The
    // ranking window runs over the bounded (source, score) census, never
    // the documents — the q66 lesson applied to quantiles.
    "q84_ppl_buckets" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
        .select(col("doc_id"), fr(col("logprob"), 4).as("logprob"))
      val withSrc = docs.select(col("doc_id"), col("source"))
        .join(scored, Seq("doc_id"))
      TextAnalysis.scoreTerciles(withSrc, "source", "logprob")
        .select(col("doc_id"), col("source"), col("logprob"),
          col("ppl_bucket"))
        .orderBy("doc_id")
    },

    // Character-entropy quality probe: one fused codegen pass per doc
    // (graft.plans.CharEntropy) — the census never leaves the row. The
    // low-entropy flag compares the ROUNDED score, so a last-ulp sum
    // difference can't flip a verdict the hash compare accepts.
    "q85_char_entropy" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.charEntropy(docs, "text")
        .select(col("doc_id"), fr(col("char_entropy"), 4).as("entropy"))
        .withColumn("low_entropy", col("entropy") < lit(2.5))
        .orderBy("doc_id")
    },

    // Exact per-source token-count percentiles via the census rank —
    // integer-only threshold math (cum·den >= num·n), no per-group sort
    // of document rows (the q66/q84 scale shape applied to quantiles).
    "q86_tok_percentiles" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val withTok = docs.select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("toks"))
      TextAnalysis.percentileCensus(withTok, "source", "toks")
        .orderBy("source")
    },

    // C4-style boilerplate line removal: lines stamped across > 20
    // documents (synthesized header/footer boilerplate) are stripped
    // from every document; per-source footers (15 docs each) survive.
    // The operator strips by 64-bit line hash; the oracle replays at
    // line-string identity (identical modulo the q31/q61 collision
    // caveat).
    "q87_boilerplate_lines" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 300)
      val synth = docs.select(col("doc_id"),
        concat(lit("FOLLOW US ON SOCIAL MEDIA\n"), col("text"),
          lit("\n(c) "), col("source"),
          lit(" newsletter\nAll rights reserved")).as("text"))
      Dedup.boilerplateLines(synth, "doc_id", "text", maxDocFreq = 20)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_lines"), col("n_removed"))
        .orderBy("doc_id")
    },

    // Efraimidis-Spirakis weighted sample: 200 docs drawn with
    // probability ∝ n_chars from content-seeded exponential keys —
    // verified row-for-row including the snapped keys.
    "q88_weighted_sample" -> { (s, d) =>
      TextAnalysis.weightedSample(Tables.documents(s, d), "doc_id",
          "n_chars", k = 200, seed = "graft-es")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("es_key"))
        .orderBy("doc_id")
    },

    // Pivot/unpivot round trip: per-day event_type value totals pivoted
    // wide, melted back to tall with DataFrame.unpivot, and re-pivoted —
    // the wide result gates both directions (a wrong melt cannot
    // re-pivot to the oracle's conditional-aggregation answer).
    "q89_pivot_unpivot" -> { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("value"))
      val wide = ev.groupBy(col("day")).pivot("event_type", types)
        .agg(sum(col("value")))
      val tall = wide.unpivot(Array(col("day")), types.map(col).toArray,
        "event_type", "total")
      tall.groupBy(col("day")).pivot("event_type", types)
        .agg(sum(col("total")))
        .select(col("day") +: types.map(t => fr(col(t), 4).as(t)): _*)
        .orderBy("day")
    },

    // Token-budget curriculum: ~600 tokens per source in content-hash
    // order (boundary doc included), via the hierarchical prefix-sum —
    // the q62 bucket decomposition applied to running token totals.
    "q90_token_budget" -> { (s, d) =>
      TextAnalysis.tokenBudgetSelect(Tables.documents(s, d), "doc_id",
          "text", "source", budget = 600L)
        .orderBy("source", "doc_id")
    },

    // BPE-ish pre-tokenization count beside the whitespace count, over
    // text salted with digit runs, punctuation, and CJK: the lookaround
    // split isn't RE2-expressible, but its count decomposes exactly into
    // letter-runs + digit-runs + non-space-punct chars — which is how
    // the oracle replays it.
    "q91_bpe_tokens" -> { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") <= 250)
      val synth = docs.select(col("doc_id"),
        concat(col("text"), lit(" v2.0, price: $"), col("n_chars"),
          lit("! ok 你好")).as("text"))
      synth.select(col("doc_id"),
          size(TextAnalysis.bpeTokens(col("text"))).cast("long")
            .as("bpe_count"),
          TextAnalysis.tokenCount(col("text")).as("ws_count"))
        .orderBy("doc_id")
    },

    // Overlapping token-window chunking (40-token chunks, stride 20):
    // every token covered, short docs one chunk, no contained tail
    // fragment; verified chunk-for-chunk including the reassembled text.
    "q96_doc_chunking" -> { (s, d) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
          size = 40, stride = 20)
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_md5"), col("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_id")
    },

    // IVF recall@k vs the exact brute-force top-k — the ANN evaluation
    // loop as a first-class operator ("measure, don't guess"): both sides
    // share one deterministic ranking (rounded cosine desc, id asc), so
    // recall is a set intersection; the quantizer is the snapped-Lloyd
    // codebook, bit-replayable by the oracle.
    "q83_ivf_recall" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfRecall(emb.filter(col("vec_id") <= 10), emb,
          "vec_id", "vec_id", "embedding",
          k = 10, nLists = 8, nProbe = 2, iterations = 2)
        .orderBy("qid")
    },

    // SemDedup-style semantic pruning: k-means cells (q81's deterministic
    // clustering) bound candidate generation — pairs come from an
    // equi-join on the cluster id, never all-pairs — and a vector is a dup
    // iff a smaller-id cell-mate sits at rounded cosine ≥ 0.38 (greedy
    // id-ordered, not transitive; CC-based closure is q75).
    "q82_semantic_dedup" -> { (s, d) =>
      Dedup.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, threshold = 0.38)
        .orderBy("vec_id")
    },

    // Model-based quality filter: frozen-weight logistic scorer over the
    // q37 feature set (the FineWeb-Edu/DCLM curation stage) — one codegen
    // projection, no shuffle; downstream filters on one calibrated score
    // instead of per-feature cutoffs.
    "q80_quality_classifier" -> { (s, d) =>
      TextAnalysis.qualityClassifier(Tables.documents(s, d), "text")
        .select(col("doc_id"), fr(col("quality_score"), 4).as("quality_score"),
          col("keep"))
        .orderBy("doc_id")
    },

    // End-to-end curation funnel — the composition every pretraining
    // pipeline runs, as ONE lazy plan (no materialization between
    // stages): exact-dedup keeper → token-count quality gate →
    // per-source cap (boilerplate-farm throttle, RefinedWeb-style) →
    // leakage-safe split assignment → per-(lang, split) yield report.
    "q78_curation_funnel" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val deduped = Dedup.exact(docs, "doc_id", "text")
      val ntok = size(split(trim(lower(col("text"))), "\\s+"))
      val quality = deduped.filter(ntok.between(20, 90))
      val capped = TextAnalysis.stratifiedTopK(quality, "doc_id", "text",
        "source", k = 15)
      capped
        .withColumn("split", TextAnalysis.assignSplit(col("text"), 0.8, 0.1))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("docs"))
        .orderBy("lang", "split")
    },

    // Span-level exact substring dedup (Lee et al. 2022): tokens covered
    // by any corpus-duplicated 8-gram are removed from every document —
    // the suffix-array method's relational equivalent. The oracle replays
    // it at gram-STRING identity; the operator works on 64-bit gram
    // hashes (identical counts modulo 2^-64 collisions, the q61 caveat).
    "q77_span_dedup" -> { (s, d) =>
      Dedup.spanDedup(Tables.documents(s, d), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    },

    // ORC source round-trip: same checksum contract as q69 over the
    // other columnar interchange format.
    "q70_orc_roundtrip" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val dir = System.getProperty("java.io.tmpdir") +
        s"/graft_q70_orc_${s.sparkContext.applicationId}"
      docs.coalesce(4).write.mode("overwrite").orc(dir)
      val rr = graft.sources.Readers.readOrc(s, dir)
      val hv16 = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
      val agg = rr.df.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(hv16).as("md5sum16"))
        .orderBy("lang")
      val rows = agg.collect()
      deleteRecursively(new java.io.File(dir))
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq, 1), agg.schema)
    },

    // Unigram-LM log-probability (perplexity-filter stand-in): mean
    // ln(count/total) over each doc's token occurrences.
    "q68_unigram_logprob" -> { (s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), fr(col("logprob"), 4).as("logprob"))
        .orderBy("doc_id")
    },

    // Embedding outlier scoring: cosine of each vector to its own label
    // centroid (mislabeled-example probe). Centroids are avg-per-position;
    // quantization absorbs cross-engine summation-order ulps.
    "q67_label_outliers" -> { (s, d) =>
      Similarity.labelCentroidScores(Tables.embeddings(s, d),
          "vec_id", "embedding", "label")
        .orderBy("vec_id")
    },

    // Fixed-budget stratified sample: exactly 20 docs per language,
    // selected by content-hash order (deterministic, growth-stable).
    "q66_stratified_topk" -> { (s, d) =>
      TextAnalysis.stratifiedTopK(Tables.documents(s, d), "doc_id", "text",
          "lang", k = 20)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "doc_id")
    },

    // TF-IDF top-3 salient terms per document; score quantized to 4
    // decimals (ln is within-1-ulp on both engines, ranks are safe:
    // distinct (tf, df) pairs never land within an ulp of each other).
    "q64_tfidf_topk" -> { (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text",
          k = 3)
        .select(col("doc_id"), col("rn"), col("term"),
          fr(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "rn")
    },

    // Fixed-width histogram of document lengths (20 integer-edge buckets).
    "q65_histogram" -> { (s, d) =>
      graft.operators.Reporting.histogram(
          Tables.documents(s, d), "n_chars", buckets = 20)
        .orderBy("bucket")
    },

    // Deterministic training-order shuffle: shuffle_pos must equal the
    // global rank under md5("42:" || doc_id) — the bucket-decomposed
    // distributed form vs the oracle's single ORDER BY.
    "q62_training_shuffle" -> { (s, d) =>
      TextAnalysis.deterministicShuffle(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", seed = "42")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy("doc_id")
    },

    // Hash-based train/val/test split (80/10/10): leakage-safe (duplicate
    // texts share a split), verified through per-(split, lang) counts.
    "q63_split_assign" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("split",
          TextAnalysis.assignSplit(col("text"), 0.8, 0.1))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("docs"))
        .orderBy("split", "lang")
    },

    // N-gram novelty: fraction of each doc's distinct 3-gram shingles
    // seen in other documents (duplicate texts score 1.0 against their
    // copies; quantized to 4 decimals for the cross-engine compare).
    "q61_ngram_novelty" -> { (s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), fr(col("dup_fraction"), 4).as("dup_fraction"))
        .orderBy("doc_id")
    },

    // Snapshot diff: v2 derives deterministically from v1 (drop %11,
    // revise %7, add %13 under shifted ids); every key's status checked.
    "q60_snapshot_diff" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val v1 = docs.withColumn("fp", md5(col("text")))
      val v2 = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))).as("fp"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            md5(concat(lit("new "), col("text"))).as("fp")))
      Dedup.snapshotDiff(v1, v2, "doc_id", "fp").orderBy("doc_id")
    },

    // Sequence packing: 4 round-robin shards, 256-token bins; every
    // document's placement (offset + spanned bins) is oracle-checked.
    "q59_sequence_packing" -> { (s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
          shards = 4, budget = 256)
        .orderBy("doc_id")
    },

    // Temperature mixture rebalancing (α = 0.5): per-lang keep-rate
    // min(1, sqrt(30 / n_lang)), content-hash row selection; verified
    // through per-stratum counts like q53 but with data-driven rates.
    "q58_mixture_sample" -> { (s, d) =>
      TextAnalysis.dampedMixtureSample(Tables.documents(s, d), "text", "lang",
          nRef = 30L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"),
          fr(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang")
    },

    // Incremental cross-corpus dedup: new-crawl docs (doc_id % 3 != 0)
    // whose text is not already in the seen corpus (doc_id % 3 == 0).
    // Bloom pre-screen map-side, exact anti-join only for sketch hits;
    // the oracle is the plain anti-join the two-phase split must equal.
    "q57_incremental_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val seen = docs.filter(col("doc_id") % 3 === 0)
      val batch = docs.filter(col("doc_id") % 3 =!= 0)
      Dedup.notSeen(batch, seen, "text",
          expectedSeen = 100000L, fpp = 0.01)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },

    // Edit-distance verify stage (Dedup.editDistanceVerify): exact
    // Levenshtein similarity over candidate pairs from a cheap 30-char
    // prefix block (the replayable stand-in for an LSH candidate set —
    // same pairs q41's banding surfaces). The O(|a|·|b|) DP only ever
    // runs on the blocked pairs, never a cross join.
    //
    // Conjunct ORDER is the performance contract here (r8: 11 s -> 0.4 s).
    // Catalyst pushes the whole filter into the BHJ join condition
    // preserving written order, and the condition short-circuits left to
    // right — so the cheap prunes go first and the O(|a|·|b|) levenshtein
    // literally last. The length-ratio prune is LOSSLESS: edit_dist >=
    // |len_a-len_b|, so sim >= 0.8 forces 5*min_len >= 4*max_len (integer
    // math, no float boundary); boilerplate-heavy corpora that collapse
    // thousands of docs into one prefix block skip the DP for every
    // length-incompatible pair, and no output row changes (the oracle
    // keeps the plain blocked join). PlanSpec pins levenshtein last.
    "q102_edit_distance" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          substring(col("text"), 1, 30).as("pfx"),
          length(col("text")).as("len"))
      val pairs = docs.as("a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"),
          col("pfx").as("pfx_b"), col("len").as("len_b")),
          col("pfx") === col("pfx_b"))
      Dedup.editDistanceVerify(pairs, col("text"), col("text_b"))
        .filter(col("doc_id") < col("doc_b") &&
          least(col("len"), col("len_b")) * 5 >=
            greatest(col("len"), col("len_b")) * 4 &&
          col("edit_sim") >= 0.8)
        .select(col("doc_id").as("doc_a"), col("doc_b"), col("edit_dist"),
          fr(col("edit_sim"), 4).as("sim"))
        .orderBy("doc_a", "doc_b")
    },

    // Fixed-point integer PageRank (Graph.pageRankFixedPoint) over the
    // user<->event_type bipartite graph: 3 damped rounds, all math in
    // BIGINT micro-units so the oracle replays it bit-for-bit and no
    // summation order can drift the ranks.
    "q104_pagerank" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(concat(lit("u:"), col("user_id").cast("string")).as("u"),
          concat(lit("t:"), col("event_type")).as("t"))
        .distinct()
      val edges = ev.select(col("u").as("src"), col("t").as("dst"))
        .unionByName(ev.select(col("t").as("src"), col("u").as("dst")))
      graft.operators.Graph.pageRankFixedPoint(edges, iterations = 3)
        .withColumnRenamed("r", "rank_fp")
        .orderBy(col("rank_fp").desc, col("node"))
    },

    // PMI collocation mining (TextAnalysis.pmiCollocations): top-40
    // adjacent pairs by pointwise mutual information with a count-floor
    // of 5. Ranking runs over the 1e-6-snapped PMI (plus the (w1, w2)
    // tiebreak), so engine ln() ulps can't reorder the kept set.
    "q105_pmi_collocations" -> { (s, d) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, d), "text",
          minCount = 5L, k = 40)
        .select(col("w1"), col("w2"), col("pair_count"), col("pmi"))
    },

    // Capped inverted index (TextAnalysis.invertedIndex): postings for
    // every term in at most 10% of documents — integer cap math
    // (df * 10 <= n_docs) so neither engine touches a float boundary.
    // The synthetic corpus has a deliberately tiny vocabulary, so the
    // cap keeps only its rare tail; postings strings stay bounded.
    "q106_inverted_index" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cap = docs.count() / 10L
      TextAnalysis.invertedIndex(docs, "doc_id", "text", maxDf = cap)
        .orderBy("term")
    },

    // SCD2 history build (Analytics.scd2): each user's event-type stream
    // run-length encoded into validity intervals. Timestamps out as NTZ
    // (the DuckDB-written convention used across the suite).
    "q107_scd2" -> { (s, d) =>
      graft.operators.Analytics.scd2(
          Tables.events(s, d), "user_id", "event_type", "ts")
        .select(col("user_id"), col("event_type"),
          col("valid_from").cast("timestamp_ntz").as("valid_from"),
          col("valid_to").cast("timestamp_ntz").as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from", "event_type")
    },

    // Trailing 1-hour rolling aggregate (Analytics.rollingRange): RANGE
    // frame over integer microseconds, decimal window sum. Sampled to
    // ~1% of users so the verify dump stays bounded; event_id makes the
    // output order total.
    "q108_rolling_range" -> { (s, d) =>
      graft.operators.Analytics.rollingRange(
          Tables.events(s, d).filter(col("user_id") % 97 === 0),
          "user_id", "ts", "value", windowSec = 3600L)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("n_win"), col("sum_win"))
        .orderBy("user_id", "ts", "event_id")
    },

    // Product-quantization encode (Similarity.pqCodebooks/pqEncode):
    // 64-dim embeddings → 8 sub-space codes from k=16 snapped-Lloyd
    // codebooks (2 rounds, Forgy-by-id init) + exact reconstruction
    // error folded in sub order. The oracle replays the entire training
    // in SQL — the q81 kmeans replay with `sub` as one more grouping key.
    "q112_pq_encode" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        m = 8, k = 16, iterations = 2)
      Similarity.pqEncode(emb, "vec_id", "embedding", books)
        .select(col("vec_id"),
          concat_ws(",", transform(col("codes"), _.cast("string")))
            .as("codes"),
          fr(col("recon_err"), 4).as("recon_err"))
        .orderBy("vec_id")
    },

    // PQ asymmetric-distance top-10 (Similarity.pqAdcTopK): each query
    // builds its m·k lookup table once; the corpus side is CODES ONLY —
    // the 32× memory compression that makes 100 TB ANN fit executors.
    // Ranking on the 1e-6-snapped ADC, ties by corpus id.
    "q113_pq_adc_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
        m = 8, k = 16, iterations = 2)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      Similarity.pqAdcTopK(emb.filter(col("vec_id") <= 5), enc,
          "vec_id", "embedding", books, k = 10)
        .select(col("qid"), col("cid"), fr(col("adc"), 4).as("adc"),
          col("rank"))
        .orderBy("qid", "rank")
    },

    // The composed IVF-PQ ANN stack (Similarity.ivfPqTopK): coarse lists
    // prune the scan, PQ codes compress it — the FAISS IndexIVFPQ shape.
    // The gate probes ALL lists, which is bit-identical to plain ADC
    // (q113's oracle re-used verbatim proves the composition changes
    // nothing when pruning is off); the spec pins that pruned probes
    // return the same ADC values on the probed subset.
    "q157_ivf_pq_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") <= 5), emb,
          "vec_id", "vec_id", "embedding", k = 10,
          nLists = 8, nProbe = 8, m = 8, kCodes = 16,
          ivfIterations = 1, pqIterations = 2)
        .select(col("qid"), col("cid"), fr(col("adc"), 4).as("adc"),
          col("rank"))
        .orderBy("qid", "rank")
    },

    // Key-skew profile (Reporting.skewProfile): exact per-key-count
    // quantiles + heaviest keys for events.user_id — the pre-flight
    // diagnostic behind every salting/bucketing decision in this repo.
    "q114_skew_profile" -> { (s, d) =>
      graft.operators.Reporting.skewProfile(
        Tables.events(s, d), "user_id", topK = 5)
    },

    // Incremental aggregate-state merge (Analytics.aggState/merge):
    // events split into three batches by event_id mod 3, each aggregated
    // independently, states folded pairwise. Every component is an
    // algebraic merge (DECIMAL sum), so the oracle aggregates ALL rows
    // in one pass and the hash compare proves split-invariance.
    "q115_incremental_agg" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val a = graft.operators.Analytics.aggState(
        ev.filter(col("event_id") % 3 === 0), "user_id", "value")
      val b = graft.operators.Analytics.aggState(
        ev.filter(col("event_id") % 3 === 1), "user_id", "value")
      val c = graft.operators.Analytics.aggState(
        ev.filter(col("event_id") % 3 === 2), "user_id", "value")
      graft.operators.Analytics.mergeAggStates(
          graft.operators.Analytics.mergeAggStates(a, b), c)
        .select(col("k").as("user_id"), col("n"),
          fr(col("s").cast("double"), 4).as("sum_v"),
          col("mn").as("min_v"), col("mx").as("max_v"))
        .orderBy("user_id")
    },

    // Z-order clustering sink (Exporter.writeZOrdered): lineitem laid out
    // by the Morton interleave of (l_partkey, l_suppkey), read back
    // through a box predicate. Values are layout-neutral — the oracle
    // filters the original table — while the spec proves the skipping:
    // box-matching rows concentrate in strictly fewer files than a
    // linear sort of the same data.
    "q117_zorder_scan" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"))
      // scratch on tmpfs when it safely fits (QueryUtils.scratchDir — the
      // replay harness's placement rule): the gate measures the z-order
      // write + min/max-skipping scan, not /tmp fsync jitter (r17's
      // loaded run alarmed this query 1.14→2.77 on disk tenancy alone).
      // The eager checkpoint of the 11-row aggregate lets the dir be
      // deleted on exit — the old /tmp form leaked one 16-file copy of
      // lineitem per invocation.
      val est = li.queryExecution.optimizedPlan.stats.sizeInBytes
      val dir = graft.queries.QueryUtils.scratchDir("graft_zorder", est)
      try {
        graft.operators.Exporter.writeZOrdered(li, dir.toString,
          "l_partkey", "l_suppkey", files = 16)
        s.read.parquet(dir.toString)
          .filter(col("l_partkey").between(100, 400) &&
            col("l_suppkey").between(5, 15))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n"),
            fr(decSum(col("l_quantity")).cast("double"), 4).as("sum_qty"))
          .localCheckpoint()
          .orderBy("l_suppkey")
      } finally deleteRecursively(dir.toFile)
    },

    // Degree-oriented triangle counting (Graph.triangleCount) over the
    // user co-activity graph (Graph.coActivityEdges: users linked when
    // active in the same (event_type, minute) bucket — minute granularity
    // keeps it sparse, the shared per-bucket member cap bounds a hot
    // minute's pair blowup). Top-20 nodes by triangle membership — the
    // local-density signal community detection starts from.
    "q118_triangle_count" -> { (s, d) =>
      val pairs = Graph.coActivityEdges(Tables.events(s, d))
      graft.operators.Graph.triangleCount(pairs)
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    },

    // Common-neighbors link prediction (Graph.commonNeighborLinks) over
    // the q118 co-activity graph: top-20 NON-edges by shared-neighbor
    // count. Hub middles above the degree cap drop before wedge building
    // (quadratic-wedge guard; no hub exists at gate scale so the cap is
    // inert for values).
    "q119_link_prediction" -> { (s, d) =>
      val pairs = Graph.coActivityEdges(Tables.events(s, d))
      graft.operators.Graph.commonNeighborLinks(pairs, k = 20)
    },

    // Z-score anomaly flags: events whose value sits more than 3 sample
    // standard deviations from their event_type's mean. Stats come from
    // ONE partial-aggregated pass broadcast back (five rows) — never a
    // window over the raw stream; the z itself is the only double math,
    // under the fr grid.
    "q120_anomaly_zscore" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("_mu"),
          stddev_samp(col("value")).as("_sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("_z", (col("value") - col("_mu")) / col("_sd"))
        .filter(abs(col("_z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          fr(col("_z"), 4).as("z"))
        .orderBy("event_id")
    },

    // Association rules over per-user event-type baskets: support,
    // confidence and lift for every ordered type pair — the market-basket
    // classic. All ratios are single divisions of exact integer counts
    // (fr-gridded); baskets collapse to DISTINCT (user, type) first so
    // repeat events can't inflate support.
    "q121_association_rules" -> { (s, d) =>
      val basket = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val n = basket.agg(countDistinct(col("user_id")).as("_n"))
      val item = basket.groupBy(col("event_type")).agg(count(lit(1)).as("_c"))
      val pair = basket.as("x")
        .join(basket.select(col("user_id"), col("event_type").as("b")),
          Seq("user_id"))
        .filter(col("event_type") =!= col("b"))
        .groupBy(col("event_type").as("a"), col("b"))
        .agg(count(lit(1)).as("_cab"))
        .withColumnRenamed("a", "ante")
      pair
        .join(item.select(col("event_type").as("ante"), col("_c").as("_ca")),
          Seq("ante"))
        .join(item.select(col("event_type").as("b"), col("_c").as("_cb")),
          Seq("b"))
        .crossJoin(broadcast(n))
        .select(col("ante"), col("b").as("cons"), col("_cab").as("n_both"),
          fr(col("_cab").cast("double") / col("_n"), 6).as("support"),
          fr(col("_cab").cast("double") / col("_ca"), 6).as("confidence"),
          fr((col("_cab").cast("double") * col("_n")) /
            (col("_ca").cast("double") * col("_cb")), 6).as("lift"))
        .orderBy("ante", "cons")
    },

    // First-order Markov transition matrix of each user's event-type
    // sequence: P(next = b | current = a) from lead() pairs under the
    // (ts, event_id) total order. Counts are exact; the probability is
    // one division on the fr grid.
    "q122_markov_transitions" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val steps = Tables.events(s, d)
        .withColumn("_next", lead(col("event_type"), 1).over(w))
        .filter(col("_next").isNotNull)
        .groupBy(col("event_type").as("cur"), col("_next").as("nxt"))
        .agg(count(lit(1)).as("n"))
      val outTot = steps.groupBy(col("cur")).agg(sum(col("n")).as("_t"))
      steps.join(outTot, Seq("cur"))
        .select(col("cur"), col("nxt"), col("n"),
          fr(col("n").cast("double") / col("_t"), 6).as("p"))
        .orderBy("cur", "nxt")
    },

    // Mergeable HLL distinct sketches (Datasketches hll_sketch_agg /
    // hll_union_agg): per-day sketches union into the per-type count —
    // the incremental-distinct analog of q115's algebraic state, and the
    // only way distinct counts compose across partitions/days at 100 TB.
    // Union is NOT register-exact once sketches leave sparse mode (the
    // sf0.1 corpus promotes; measured), so the contract is tolerance:
    // both the merged and the one-pass estimates must sit within 5% of
    // the exact count — booleans the oracle pins TRUE (q93 pattern).
    "q123_hll_merge" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events_hll_v")
      s.sql("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 hll_sketch_agg(user_id) AS sk
          FROM events_hll_v GROUP BY event_type, CAST(ts AS DATE)),
        merged AS (
          SELECT event_type,
                 hll_sketch_estimate(hll_union_agg(sk)) AS est_merged
          FROM daily GROUP BY event_type),
        whole AS (
          SELECT event_type,
                 hll_sketch_estimate(hll_sketch_agg(user_id)) AS est_whole,
                 count(DISTINCT user_id) AS n_exact
          FROM events_hll_v GROUP BY event_type)
        SELECT w.event_type, w.n_exact,
          (abs(m.est_merged - w.n_exact) / w.n_exact <= 0.05)
            AS merged_within_5pct,
          (abs(w.est_whole - w.n_exact) / w.n_exact <= 0.05)
            AS whole_within_5pct
        FROM whole w JOIN merged m ON w.event_type = m.event_type
        ORDER BY w.event_type""")
    },

    // Cutler's RSI (Analytics.rsi): 14-period SMA-form relative strength
    // per user value stream, sampled to ~1% of users. Decimal frame sums
    // make the window replayable; the ratio is the only double math.
    "q124_rsi" -> { (s, d) =>
      graft.operators.Analytics.rsi(
          Tables.events(s, d).filter(col("user_id") % 97 === 0),
          "user_id", "value", "ts", "event_id", periods = 14)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"), col("rsi"))
        .orderBy("user_id", "ts", "event_id")
    },

    // Relational data-contract audit — the O18 pre-export validation
    // idea extended to warehouse constraints: PK uniqueness, FK
    // containment, domain ranges, null rates. Each constraint is one
    // fixed-size aggregate (the anti-join for FKs); verdicts union into
    // a per-constraint report exactly like the Gopher rule audits.
    "q125_constraint_audit" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val events = Tables.events(s, d)
      def row(name: String, violations: DataFrame) =
        violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_violations"),
            (col("n_violations") === 0).as("pass"))
      val pkDup = orders.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("_c")).filter(col("_c") > 1)
      row("pk_orders_orderkey_unique", pkDup)
        .unionByName(row("fk_orders_custkey_in_customer",
          orders.join(customer,
            col("o_custkey") === col("c_custkey"), "left_anti")))
        .unionByName(row("domain_orders_totalprice_positive",
          orders.filter(col("o_totalprice") <= 0)))
        .unionByName(row("not_null_events_value",
          events.filter(col("value").isNull)))
        .unionByName(row("domain_events_type_known",
          events.filter(!col("event_type").isin(
            "click", "view", "purchase", "signup", "error"))))
        .orderBy("check_name")
    },

    // BPE merge induction (TextAnalysis.bpeMerges): the first 5 merges a
    // byte-pair tokenizer trainer learns from the documents corpus — the
    // actual Sennrich et al. loop at a fixed merge count so the oracle
    // unrolls it round by round (the kmeans replay pattern).
    "q126_bpe_merges" -> { (s, d) =>
      TextAnalysis.bpeMerges(Tables.documents(s, d), "text", nMerges = 5)
        .orderBy("merge_rank")
    },

    // CDC changelog apply (Analytics.applyChangelog): snapshot = each
    // user's earliest-event value; changelog = their later events with
    // op = D for 'error' events, U otherwise. Latest change per key wins
    // under the (ts, op, value) total order; a final D deletes.
    "q116_cdc_apply" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val wFirst = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ranked = ev.withColumn("_rn", row_number().over(wFirst))
      val snapshot = ranked.filter(col("_rn") === 1)
        .select(col("user_id"), col("value"))
      val changes = ranked.filter(col("_rn") > 1)
        .select(col("user_id"), col("value"), col("ts"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
            .as("op"))
      graft.operators.Analytics.applyChangelog(snapshot, changes,
          "user_id", "value", "ts", "op")
        .orderBy("user_id")
    },

    // Record-linkage scorer: native codegen Jaro–Winkler (JaroWinklerExpr,
    // DuckDB-parity semantics — byte-level, integer-halved transpositions,
    // 0.7 Winkler gate) over every pair of DISTINCT part names. The pair
    // source is the deduplicated name domain (64 values here; bounded by
    // vocabulary, not row count), so the quadratic stays on the broadcast
    // side even at 100 TB of parts — production pairs come from blocking
    // (q174 / the LSH family) with this same scorer inside the codegen
    // stage.
    "q173_jaro_winkler" -> { (s, d) =>
      graft.plans.GraftExtensions.register(s)
      val names = Tables.part(s, d).select(col("p_name").as("a")).distinct()
      val other = names.select(col("a").as("b"))
      names.join(broadcast(other), col("a") < col("b"))
        .withColumn("jw",
          fr(call_function("jaro_winkler", col("a"), col("b")), 6))
        .filter(col("jw") >= 0.5)
        .select(col("a"), col("b"), col("jw"))
        .orderBy("a", "b")
    },

    // Sorted-neighborhood blocking (the multi-pass SNM variant): docs
    // sort by a normalized 40-char prefix key WITHIN 2-char blocks, and
    // only lag-adjacent neighbors are compared (levenshtein ≤ 10 on the
    // keys). The window partitions by block — never a single global
    // sort partition — so at 100 TB each block sorts independently;
    // cross-block boundary pairs are the documented SNM trade-off (the
    // multi-pass fix is a second key, e.g. reversed suffix). Candidate
    // counts per block, integer-exact.
    "q174_sorted_neighborhood" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_blk")).orderBy(col("_key"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(lower(substring(col("text"), 1, 60)),
            "[^a-z ]", "").substr(1, 40).as("_key"))
        .withColumn("_blk", col("_key").substr(1, 2))
        .withColumn("_prev", lag(col("_key"), 1).over(w))
        .groupBy(col("_blk").as("block"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_prev").isNotNull
            && levenshtein(col("_key"), col("_prev")) <= 10, 1L)
            .otherwise(0L)).as("n_close"))
        .filter(col("n_docs") >= 2)
        .orderBy("block")
    },

    // End-to-end entity resolution on top of q174's blocking: within each
    // block's sorted chain, a BREAK opens wherever the adjacent pair is
    // not close (levenshtein > 10), and the running sum of breaks is the
    // cluster id — chain clustering as one window pass, the relational
    // equivalent of union-find on SNM adjacency edges. Outputs the
    // per-block cluster census (all integer-exact). At 100 TB each block
    // clusters independently; no global structure is ever materialized.
    "q175_er_clusters" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_blk")).orderBy(col("_key"), col("doc_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val chained = Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(lower(substring(col("text"), 1, 60)),
            "[^a-z ]", "").substr(1, 40).as("_key"))
        .withColumn("_blk", col("_key").substr(1, 2))
        .withColumn("_prev", lag(col("_key"), 1).over(w))
        .withColumn("_brk", when(col("_prev").isNull
          || levenshtein(col("_key"), col("_prev")) > 10, 1L)
          .otherwise(0L))
        .withColumn("_cluster", sum(col("_brk")).over(run))
      chained.groupBy(col("_blk"), col("_cluster"))
        .agg(count(lit(1)).as("_sz"))
        .groupBy(col("_blk").as("block"))
        .agg(sum(col("_sz")).as("n_docs"),
          count(lit(1)).as("n_clusters"),
          max(col("_sz")).as("max_cluster"),
          sum(when(col("_sz") >= 2, 1L).otherwise(0L)).as("n_multi"))
        .filter(col("n_docs") >= 2)
        .orderBy("block")
    },

    // Corpus length power law: document lengths bucket into log2 octaves
    // and ln(count) regresses on the octave index — the standard check
    // that a crawl's length distribution has the expected heavy tail.
    // Bucket counts are exact ints; the two double sums (Σy, Σxy) fold
    // in bucket order over the ≤40-row octave census.
    "q195_length_power_law" -> { (s, d) =>
      val census = Tables.documents(s, d)
        .select(floor(log2(col("n_chars").cast("double"))).as("_b"))
        .groupBy(col("_b")).agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= 5)
        .withColumn("_y", log(col("_c").cast("double")))
        .withColumn("_t", col("_b").cast("double") * col("_y"))
      val agg = census.agg(count(lit(1)).as("_n"),
        sum(col("_b")).as("_sx"), sum(col("_b") * col("_b")).as("_sxx"),
        aggregate(transform(array_sort(collect_list(struct(col("_b"),
          col("_y")))), e => e.getField("_y")),
          lit(0.0), (a, x) => a + x).as("_sy"),
        aggregate(transform(array_sort(collect_list(struct(col("_b"),
          col("_t")))), e => e.getField("_t")),
          lit(0.0), (a, x) => a + x).as("_sxy"))
      agg
        .withColumn("_slope", (col("_n").cast("double") * col("_sxy")
          - col("_sx").cast("double") * col("_sy"))
          / (col("_n").cast("double") * col("_sxx").cast("double")
            - col("_sx").cast("double") * col("_sx").cast("double")))
        .select(col("_n").as("n_buckets"),
          fr(col("_slope"), 4).as("slope"),
          fr((col("_sy") - col("_slope") * col("_sx").cast("double"))
            / col("_n").cast("double"), 4).as("intercept"))
    },

    // Zipf slope of the vocabulary: ln(freq) vs ln(rank) over the top-50
    // terms (rank pinned by the (cnt DESC, token) total order). All four
    // regression sums fold in rank order over the 50-row array — the
    // corpus-health twin of q195, checking the rank-frequency law.
    "q196_vocab_zipf" -> { (s, d) =>
      val top = TextAnalysis.vocabulary(Tables.documents(s, d), "text")
        .orderBy(col("cnt").desc, col("token")).limit(50)
        .withColumn("_rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token"))))
        .withColumn("_x", log(col("_rank").cast("double")))
        .withColumn("_y", log(col("cnt").cast("double")))
      def fold(field: String): org.apache.spark.sql.Column =
        aggregate(transform(array_sort(collect_list(struct(col("_rank"),
          col("_x"), col("_y"), (col("_x") * col("_y")).as("_xy"),
          (col("_x") * col("_x")).as("_xx")))),
          e => e.getField(field)), lit(0.0), (a, x) => a + x)
      top.agg(count(lit(1)).as("_n"), fold("_x").as("_sx"),
          fold("_y").as("_sy"), fold("_xy").as("_sxy"),
          fold("_xx").as("_sxx"))
        .select(col("_n").as("n_terms"),
          fr((col("_n").cast("double") * col("_sxy")
            - col("_sx") * col("_sy"))
            / (col("_n").cast("double") * col("_sxx")
              - col("_sx") * col("_sx")), 4).as("zipf_slope"))
    },

    // Transposition-aware typo distance beside plain edit distance over
    // the bounded distinct-name domain: DamerauLevenshteinExpr is the
    // FULL Lowrance-Wagner metric (dl("CA","ABC")=2 where the common OSA
    // shortcut says 3), exactly the oracle's algorithm, codegen-resident.
    // The lev column sits alongside so the output exhibits the
    // transposition savings ("red widget" vs "red widgte" type typos).
    "q201_damerau_pairs" -> { (s, d) =>
      graft.plans.GraftExtensions.register(s)
      val names = Tables.part(s, d).select(col("p_name").as("a")).distinct()
      val other = names.select(col("a").as("b"))
      names.join(broadcast(other), col("a") < col("b"))
        .withColumn("dl",
          call_function("damerau_levenshtein", col("a"), col("b")))
        .withColumn("lev", levenshtein(col("a"), col("b")))
        .filter(col("dl") <= 5)
        .select(col("a"), col("b"), col("dl"), col("lev"))
        .orderBy("a", "b")
    },

    // 2-core of the q290 co-activity graph (Graph.kCore): iteratively
    // peel degree-<2 nodes until the maximal subgraph where everyone
    // keeps ≥2 co-activity partners remains — the standard prefilter
    // before community/triangle analytics (degree-1 tendrils can't be in
    // any cycle). Synchronous peeling converges in peel-depth rounds;
    // the oracle replays the identical simultaneous-removal rounds
    // unrolled (8 covers the gate's depth with margin — extra rounds
    // past convergence are no-ops on both engines).
    "q309_kcore" -> { (s, d) =>
      val edges = Graph.coActivityEdges(Tables.events(s, d))
      Graph.kCore(edges, 2, oracleRounds = 8)
        .select(col("node").as("user_id"), col("core_degree"))
        .orderBy("user_id")
    },

    // Community detection via 3 rounds of deterministic synchronous
    // label propagation (Graph.labelPropagation) over the q290
    // co-activity graph: every node adopts its neighbors' most frequent
    // label, ties to the smallest — a replayable variant of LPA (the
    // usual random-order async walk can't have a SQL oracle). The
    // per-node community assignment is the output; the argmax is a
    // scalar-only min(struct(-count, label)) hash aggregate per round,
    // never a sort window.
    "q314_label_propagation" -> { (s, d) =>
      val edges = Graph.coActivityEdges(Tables.events(s, d))
      val nodes = Tables.events(s, d).select(col("user_id")).distinct()
      Graph.labelPropagation(nodes, "user_id", edges, rounds = 3)
        .select(col("node").as("user_id"), col("community"))
        .orderBy("user_id")
    },

    // 3-truss of the co-activity graph (Graph.kTruss): every surviving
    // edge sits in ≥1 triangle AMONG surviving edges — edge-cohesion
    // peeling, the stricter sibling of node-degree k-core (q309): a hub
    // star survives a 2-core but no truss. Support counting picks its
    // physical strategy by a density probe (symmetric common-neighbor
    // join at gate sparsity, oriented triangle enumeration past avg
    // degree 64 — value-identical, see Graph.kTruss); the oracle replays
    // the synchronous support-peel rounds unrolled (4 covers the gate
    // depth; extra rounds are no-ops).
    "q320_ktruss" -> { (s, d) =>
      val edges = Graph.coActivityEdges(Tables.events(s, d))
      Graph.kTruss(edges, 3, oracleRounds = 4)
        .select(col("a").as("user_a"), col("b").as("user_b"),
          col("support"))
        .orderBy("user_a", "user_b")
    },

    // Katz centrality, 3-term truncation: Σ_{k≤3} β^k · (#length-k walks
    // ending at the node) with β=0.1 — the attenuated-walk centrality
    // beside damped-random-walk PageRank (q104) and geodesic closeness
    // (q207). Walk counts are exact int64 (three chained neighbor-sum
    // aggregates, each one keyed join + hash agg); β powers are literal
    // products so both engines combine identical doubles. Truncation is
    // the scale story: the infinite Katz series needs a linear solve,
    // the k-term form is k scan-shaped rounds.
    "q323_katz_centrality" -> { (s, d) =>
      val e = Graph.coActivityEdges(Tables.events(s, d))
        .select(col("src").as("a"), col("dst").as("b"))
      // eager localCheckpoint (r18): the symmetrized adjacency feeds all
      // THREE chained walk-count rounds plus the final three-way join, so
      // the lazy form optimized a plan with four copies of the co-activity
      // build subtree (the q314/q104 pathology; same measured fix)
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint(true)
      val p1 = sym.groupBy(col("u")).agg(count(lit(1)).as("_c1"))
      val p2 = sym.join(p1.withColumnRenamed("u", "v"), Seq("v"))
        .groupBy(col("u")).agg(sum(col("_c1")).as("_c2"))
      val p3 = sym.join(p2.withColumnRenamed("u", "v"), Seq("v"))
        .groupBy(col("u")).agg(sum(col("_c2")).as("_c3"))
      p1.join(p2, Seq("u"), "left").join(p3, Seq("u"), "left")
        .select(col("u").as("user_id"), col("_c1").as("degree"),
          fr(lit(0.1) * col("_c1").cast("double")
            + lit(0.1) * lit(0.1)
              * coalesce(col("_c2"), lit(0L)).cast("double")
            + lit(0.1) * lit(0.1) * lit(0.1)
              * coalesce(col("_c3"), lit(0L)).cast("double"), 6)
            .as("katz"))
        .orderBy("user_id")
    },

    // Count-Min accuracy gate (VERDICT r12 item 4b): the CMS sketch's
    // one-sided error contract — estimate ≥ exact ALWAYS (min over rows of
    // non-negative overcounts), and estimate ≤ exact + 4εN with ε = e/width
    // — gated as an AGGREGATE the oracle pins: keys_checked = distinct
    // keys, out_of_bound = 0. The sketch is bit-deterministic (fixed
    // splitmix64 hash family, linear merges), so for a FIXED corpus the
    // bound holds always or never; the aggregate shape + the 4× margin
    // over the textbook εN (ADVICE r13 — per-key violation tail drops
    // from ~2e-4 to ~1e-6, and one flipped key out of ~15k at sf1 would
    // otherwise fail a pinned per-key TRUE) keep the gate safe under
    // corpus regeneration at higher sf with no engine bug. Exact per-key
    // overcounts for THIS corpus are asserted in MisraGriesSpec.
    // Sketch cost: one 5×8192-cell aggregate (320 KB) riding a single
    // events scan — the 100 TB frequency-table shape.
    "q343_cms_accuracy" -> { (s, d) =>
      graft.plans.GraftExtensions.register(s)
      val row = Tables.events(s, d)
        .agg(expr("cms_sketch(user_id, 5, 8192)").as("_sk"),
          count(lit(1)).as("_n")).head()
      val sketch = row.getAs[Array[Byte]](0)
      val n = row.getLong(1)
      val bound = math.ceil(4.0 * math.E * n / 8192.0).toLong
      val est = call_function("cms_estimate", lit(sketch), col("user_id"))
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("keys_checked"),
          sum(when(est < col("cnt") || est > col("cnt") + lit(bound), 1L)
            .otherwise(0L)).as("out_of_bound"))
    },

    // Exporter.compact value-neutrality gate (VERDICT r12 item 4c): write
    // the events projection as 64 small files, compact the leaf, and
    // return the READ-BACK contents — the DuckDB compare hashes them
    // against the original table, so "only layout changes" is a driver-
    // gated contract, not a spec assertion. File-count reduction and the
    // report's row accounting are engine-side requires (a failure is a
    // loud err row). localCheckpoint pins the read-back rows before the
    // scratch dir is deleted.
    "q344_compact_roundtrip" -> { (s, d) =>
      val src = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
      // tmpfs scratch when it fits (QueryUtils.scratchDir): the gate
      // measures compaction's rewrite + swap, not /tmp fsync jitter;
      // peak usage is two parquet copies (64-file + staged), well under
      // the helper's 4× uncompressed-estimate headroom
      val est = src.queryExecution.optimizedPlan.stats.sizeInBytes
      val dir = graft.queries.QueryUtils
        .scratchDir("graft_q344", est).toFile
      try {
        val leaf = s"${dir.getAbsolutePath}/data"
        src.repartition(64).write.mode("overwrite").parquet(leaf)
        val rep = graft.operators.Exporter.compact(s, leaf,
          targetBytes = 1L << 30)
        require(rep.filesBefore == 64 && rep.filesAfter < rep.filesBefore,
          s"q344: compact did not reduce files " +
            s"(${rep.filesBefore} -> ${rep.filesAfter})")
        s.read.parquet(leaf).localCheckpoint().orderBy("event_id")
      } finally deleteRecursively(dir)
    },

    // PERSISTED co-activity edge index (VERDICT r16 item 2) — q54's
    // build/probe shape applied to the graph suite: buildEdgeTable pays
    // the expensive build (bucket census + pair census + mutual-kNN
    // prune at scale) ONCE into a bucketed managed table; the probe
    // reads the table and runs the same degree-oriented triangle census
    // as q118 over it. Results must equal the inline-build q118 exactly
    // (the q54-vs-q45 equivalence contract), so q118's oracle applies
    // verbatim — the persistence round-trip is value-neutral.
    "q345_triangles_persisted" -> { (s, d) =>
      val tbl = "graft_bkt_edges_q345"
      Graph.buildEdgeTable(Tables.events(s, d), tbl)
      graft.operators.Graph.triangleCount(s.table(tbl))
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    },

    // Component census probed from the SAME persisted edge index shape
    // (its own table: gate closures must not order-depend). Equals the
    // inline-build q290 — one build, many probe queries is the 100 TB
    // deployment; at the 100× probe the shared inline build is ~300 s
    // PER QUERY, amortized to once by this layout.
    "q346_components_persisted" -> { (s, d) =>
      val tbl = "graft_bkt_edges_q346"
      Graph.buildEdgeTable(Tables.events(s, d), tbl)
      val nodes = Tables.events(s, d).select(col("user_id")).distinct()
      val sizes = Dedup.connectedComponents(nodes, "user_id",
          s.table(tbl), "src", "dst")
        .groupBy(col("component")).agg(count(lit(1)).as("_sz"))
      sizes.agg(sum(col("_sz")).as("n_nodes"),
          count(lit(1)).as("n_components"),
          max(col("_sz")).as("giant_size"),
          sum(when(col("_sz") === 1, 1L).otherwise(0L)).as("n_isolated"))
        .withColumn("giant_share",
          fr(col("giant_size").cast("double")
            / col("n_nodes").cast("double"), 6))
    },

    // PERSISTED near-dup index (the dedup family's q345/q54 shape): at
    // 100 TB the MinHash pass over the corpus is the expensive scan, paid
    // ONCE into a bucketed band-hash table; each incoming batch is then
    // near-dup-screened against the corpus WITHOUT recomputing or
    // reshuffling it (the band join leaves the index side exchange-free —
    // PlanSpec pins that). Split: even doc_ids = indexed corpus, odd =
    // the incoming batch. Candidates at est >= 0.35 are exact-verified at
    // jac >= 0.5 (q41's prefilter-then-verify contract: signatures are
    // text-functions, so every true pair q41 catches collides here too);
    // output is the batch-side screen decision — each batch doc's BEST
    // corpus match (max jac, ties to the smallest corpus id), linear in
    // the batch, never a quadratic pair list.
    "q347_neardup_index_probe" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val tbl = "graft_bkt_lsh_q347"
      // index the exact-DEDUPED corpus half: value-neutral for the
      // screen (the (max jac, min id) best match is always an exact-
      // dedup representative — a member's text equals its rep's, so its
      // jac does too and the rep's id is the smaller), and it keeps the
      // index sized by distinct texts under verbatim-copy growth
      Dedup.buildLshIndex(
        Dedup.exact(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        tbl, "doc_id", "text", numHashes = 64, bands = 16,
        shingleSize = 3)
      Dedup.nearDupScreen(s, tbl, docs.filter(col("doc_id") % 2 === 1),
          docs, "doc_id", "text", numHashes = 64, bands = 16,
          shingleSize = 3)
        .orderBy("doc_id")
    }
  )

  val sql: Map[String, String] = Map(
    "q31_exact_dedup" ->
      """SELECT count(*) AS total, count(DISTINCT md5(text)) AS distinct_texts,
        |count(*) - count(DISTINCT md5(text)) AS exact_dups
        |FROM documents""".stripMargin,

    "q32_text_stats" ->
      """SELECT lang, count(*) AS docs,
        |floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars,
        |min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |floor(avg(length(text)) * 10000.0 + 0.5) / 10000.0 AS avg_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q33_json_extract" ->
      """SELECT event_type,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sk,
        |count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q34_cosine_pairs" ->
      """SELECT a.vec_id AS qa, b.vec_id AS qb,
        |floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0 AS sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id <= 10
        |ORDER BY sim DESC, qa, qb LIMIT 20""".stripMargin,

    "q35_token_count" ->
      """WITH t AS (SELECT source,
        |  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT source, count(*) AS docs,
        |CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |floor(avg(n_tokens) * 10000.0 + 0.5) / 10000.0 AS avg_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "q36_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents WHERE doc_id <= 20 ORDER BY doc_id""".stripMargin,

    "q37_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |CAST(length(toks) AS BIGINT) AS n_tokens,
        |floor(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / length(text) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
        |floor(CAST(length(list_filter(toks,
        |      t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
        |      / length(toks) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
        |floor(CAST(length(text) - length(toks) + 1 AS DOUBLE)
        |      / length(toks) * 10000.0 + 0.5) / 10000.0 AS mean_tok_len
        |FROM t WHERE doc_id <= 50 ORDER BY doc_id""".stripMargin,

    "q38_word_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |  list_distinct(string_split_regex(trim(text), '\s+')) AS ws
        |  FROM documents WHERE doc_id <= 15)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |floor(CAST(length(list_intersect(a.ws, b.ws)) AS DOUBLE)
        |      / length(list_distinct(list_concat(a.ws, b.ws))) * 10000.0 + 0.5) / 10000.0 AS jac
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |ORDER BY jac DESC, da, db LIMIT 30""".stripMargin,

    // mirrors Dedup.simHashMd5 bit-for-bit: token hash = md5 hex digits,
    // bit i = bit (i%4) of digit i/4; vote>0 sets fingerprint bit i. The
    // i=63 term is written as long-min (1L<<63 in two's complement).
    "q42_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents WHERE doc_id <= 50),
        |th AS (SELECT doc_id, md5(t) AS h FROM toks),
        |votes AS (
        |  SELECT th.doc_id, r.i,
        |    SUM(2 * (((strpos('0123456789abcdef', substr(th.h, CAST(1 + r.i // 4 AS INTEGER), 1)) - 1)
        |              >> CAST(r.i % 4 AS INTEGER)) & 1) - 1) AS v
        |  FROM th CROSS JOIN range(64) AS r(i)
        |  GROUP BY th.doc_id, r.i),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN
        |      (CASE WHEN i = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
        |            ELSE (CAST(1 AS BIGINT) << CAST(i AS INTEGER)) END)
        |      ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,

    "q44_asof_operator" ->
      """SELECT e.event_id,
        |       (SELECT max(o.o_orderdate) FROM orders o
        |        WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS asof_order
        |FROM events e ORDER BY e.event_id LIMIT 500""".stripMargin,

    "q40_language_id" ->
      """WITH t AS (
        |  SELECT lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks,
        |    CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS cjk
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
        |  FROM s)
        |SELECT lang, lang_pred, count(*) AS docs
        |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,

    "q43_embedding_near_dup" ->
      """WITH s AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |               CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0 AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id <= 800 AND b.vec_id <= 800)
        |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.3
        |ORDER BY sim DESC, id_a, id_b LIMIT 50""".stripMargin,

    "q41_minhash_lsh" ->
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
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh)))
        |      * 10000.0 + 0.5) / 10000.0 AS jac
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jac FROM p WHERE jac >= 0.5
        |ORDER BY jac DESC, id_a, id_b""".stripMargin,

    "q45_ivf_topk" ->
      """WITH s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |         floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |               CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0 AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id <= 5),
        |r AS (SELECT qid, cid, sim,
        |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        |      FROM s)
        |SELECT qid, cid, sim, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    // paragraph explode via lockstep unnest/generate_subscripts; keeper =
    // first (doc_id, pos) per paragraph; reassembly ordered by position
    "q56_paragraph_dedup" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id <= 120),
        |synth AS (SELECT a.doc_id AS doc_id,
        |    a.text || chr(10) || chr(10) || b.text || chr(10) || chr(10)
        |      || c.text AS text
        |  FROM docs a JOIN docs b ON b.doc_id = a.doc_id + 1
        |              JOIN docs c ON c.doc_id = a.doc_id + 2),
        |p AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(10) || chr(10)), 1) - 1 AS pos,
        |    unnest(string_split(text, chr(10) || chr(10))) AS para
        |  FROM synth),
        |k AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM p),
        |r AS (SELECT p.doc_id,
        |    string_agg(p.para, chr(10) || chr(10) ORDER BY p.pos) AS text
        |  FROM p JOIN k ON p.doc_id = k.doc_id AND p.pos = k.pos AND k.rn = 1
        |  GROUP BY p.doc_id)
        |SELECT doc_id, md5(text) AS text_md5,
        |CAST(length(text) AS BIGINT) AS text_len
        |FROM r ORDER BY doc_id""".stripMargin,

    // the same three RE2-compatible patterns, same order (emails, then
    // IPs so dotted quads never phone-match, then phones), 'g' for the
    // replace-all semantics Spark applies by default
    "q55_pii_redact" ->
      """WITH w AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |       || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |       || '.7 call +49 30 1234 ' || CAST(doc_id % 10000 AS VARCHAR) AS t
        |  FROM documents WHERE doc_id <= 100),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |  '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
        |  '\+?[0-9][0-9() .-]{7,}[0-9]', '[PHONE]', 'g') AS red
        |  FROM w)
        |SELECT doc_id, md5(red) AS red_md5,
        |CAST(length(red) AS BIGINT) AS red_len
        |FROM r ORDER BY doc_id""".stripMargin,

    // mirrors MediaCodec's digest fallback bit-for-bit: probe dims from
    // md5 bytes 0/1 (& 0x7f, biased +64), f0 from sha256 byte 0 mapped to
    // [-1, 1) — hex digits parsed the q42 strpos way. Text payloads never
    // match an image magic, so the fallback is the whole story here.
    "q46_media_pipeline" ->
      """WITH b AS (SELECT doc_id, md5(text) AS mh, sha256(text) AS sh
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |CAST(64 + ((strpos('0123456789abcdef', substr(mh, 1, 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(mh, 2, 1)) - 1)) % 128
        |     AS INTEGER) AS probe_width,
        |CAST(64 + ((strpos('0123456789abcdef', substr(mh, 3, 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(mh, 4, 1)) - 1)) % 128
        |     AS INTEGER) AS probe_height,
        |round((((strpos('0123456789abcdef', substr(sh, 1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(sh, 2, 1)) - 1)) - 128)
        |      / 128.0, 4) AS f0
        |FROM b ORDER BY media_id""".stripMargin,

    // identical oracle to q45: exhaustive probing of a lossless partition
    // of the corpus reproduces brute-force top-k exactly
    "q54_ivf_persisted" ->
      """WITH s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |         floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |               CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0 AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id <= 5),
        |r AS (SELECT qid, cid, sim,
        |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        |      FROM s)
        |SELECT qid, cid, sim, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    "q39_ann_topk" ->
      """WITH s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |         floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |               CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0 AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id <= 5),
        |r AS (SELECT qid, cid, sim,
        |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
        |      FROM s)
        |SELECT qid, cid, sim, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,

    // q259-q261 share the ranked-retrieval CTE (cosine fr-gridded at 4
    // decimals, (sim DESC, cid) order, same-label relevance); discounts
    // in natural log and every float sum list-folded in rank order.
    "q259_ndcg" ->
      """WITH s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
        |    floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0
        |      AS sim
        |  FROM embeddings a JOIN embeddings b ON b.vec_id >= 20
        |  WHERE a.vec_id < 20),
        |r AS (SELECT qid, cid, rel, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS rn FROM s),
        |pool AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel
        |  FROM r GROUP BY 1),
        |d AS (SELECT qid,
        |    list_sum(list(CASE WHEN rel = 1
        |      THEN 1.0 / ln(CAST(rn AS DOUBLE) + 1.0) ELSE 0.0 END
        |      ORDER BY rn)) AS dcg
        |  FROM r WHERE rn <= 10 GROUP BY 1),
        |i AS (SELECT qid,
        |    list_sum(list_transform(
        |      generate_series(1, CAST(least(n_rel, 10) AS INT)),
        |      x -> 1.0 / ln(CAST(x AS DOUBLE) + 1.0))) AS idcg
        |  FROM pool)
        |SELECT pool.qid, pool.n_rel,
        |  floor(d.dcg * 1000000.0 + 0.5) / 1000000.0 AS dcg10,
        |  CASE WHEN i.idcg > 0 THEN
        |    floor(d.dcg / i.idcg * 1000000.0 + 0.5) / 1000000.0 END
        |    AS ndcg10
        |FROM pool JOIN d ON d.qid = pool.qid JOIN i ON i.qid = pool.qid
        |ORDER BY pool.qid""".stripMargin,

    "q260_mrr" ->
      """WITH s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
        |    floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0
        |      AS sim
        |  FROM embeddings a JOIN embeddings b ON b.vec_id >= 20
        |  WHERE a.vec_id < 20),
        |r AS (SELECT qid, rel, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS rn FROM s)
        |SELECT qid,
        |  CAST(min(CASE WHEN rel = 1 THEN rn END) AS BIGINT)
        |    AS first_rel_rank,
        |  floor(1.0 / CAST(min(CASE WHEN rel = 1 THEN rn END) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS rr
        |FROM r GROUP BY 1 ORDER BY qid""".stripMargin,

    "q261_avg_precision" ->
      """WITH s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
        |    floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) * 10000.0 + 0.5) / 10000.0
        |      AS sim
        |  FROM embeddings a JOIN embeddings b ON b.vec_id >= 20
        |  WHERE a.vec_id < 20),
        |r AS (SELECT qid, rel, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid)
        |      AS rn FROM s),
        |pool AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel
        |  FROM r GROUP BY 1),
        |c AS (SELECT qid, rel, rn,
        |    sum(rel) OVER (PARTITION BY qid ORDER BY rn) AS cum
        |  FROM r WHERE rn <= 20),
        |a AS (SELECT qid,
        |    list_sum(list(CASE WHEN rel = 1
        |      THEN CAST(cum AS DOUBLE) / CAST(rn AS DOUBLE) ELSE 0.0 END
        |      ORDER BY rn)) AS ap
        |  FROM c GROUP BY 1)
        |SELECT pool.qid, pool.n_rel,
        |  floor(a.ap / CAST(least(pool.n_rel, 20) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS ap20
        |FROM pool JOIN a ON a.qid = pool.qid ORDER BY pool.qid""".stripMargin,

    "q273_heaps_law" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |np AS (SELECT fd AS doc_id, count(*) AS nw
        |  FROM (SELECT bg, min(doc_id) AS fd FROM b GROUP BY 1)
        |  GROUP BY 1),
        |curve AS (SELECT t.doc_id,
        |    greatest(len(toks) - 1, 0) AS nbig, coalesce(nw, 0) AS nw
        |  FROM t LEFT JOIN np ON np.doc_id = t.doc_id),
        |c2 AS (SELECT row_number() OVER (ORDER BY doc_id) AS r,
        |    sum(nbig) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cb,
        |    sum(nw) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS cv
        |  FROM curve)
        |SELECT CAST(r AS BIGINT) AS n_docs, CAST(cb AS BIGINT)
        |    AS cum_bigrams, CAST(cv AS BIGINT) AS cum_vocab
        |FROM c2 WHERE r % 50 = 0 ORDER BY n_docs""".stripMargin,

    "q274_burrows_delta" ->
      """WITH toks AS (SELECT source, t FROM (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents) WHERE t <> ''),
        |top AS (SELECT t FROM (SELECT t, count(*) AS c,
        |    row_number() OVER (ORDER BY count(*) DESC, t) AS rn
        |  FROM toks GROUP BY t) WHERE rn <= 15),
        |bys AS (SELECT source, t, count(*) AS n FROM toks GROUP BY 1, 2),
        |tot AS (SELECT source, count(*) AS tt FROM toks GROUP BY 1),
        |grid AS (SELECT tot.source, top.t,
        |    CAST(coalesce(n, 0) AS DOUBLE) / CAST(tt AS DOUBLE) AS f
        |  FROM top CROSS JOIN tot
        |  LEFT JOIN bys ON bys.source = tot.source AND bys.t = top.t),
        |st AS (SELECT t, count(*) AS k,
        |    list_sum(list(f ORDER BY source)) AS sf,
        |    list_sum(list(f * f ORDER BY source)) AS sff
        |  FROM grid GROUP BY 1),
        |st2 AS (SELECT t,
        |    sf / CAST(k AS DOUBLE) AS mu,
        |    sff / CAST(k AS DOUBLE)
        |      - (sf / CAST(k AS DOUBLE)) * (sf / CAST(k AS DOUBLE)) AS v
        |  FROM st),
        |z AS (SELECT grid.t, source, (f - mu) / sqrt(v) AS z
        |  FROM grid JOIN st2 ON st2.t = grid.t WHERE v > 0),
        |pairs AS (SELECT a.t, a.source AS source_a, b.source AS source_b,
        |    abs(a.z - b.z) AS dz
        |  FROM z a JOIN z b ON a.t = b.t AND a.source < b.source)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_terms,
        |  floor(list_sum(list(dz ORDER BY t)) / CAST(count(*) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS delta
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // transitive closure by recursive CTE: `reach` propagates every label
    // along edges until fixpoint (UNION dedups), min per node = the
    // operator's min-label component
    "q49_dedup_clusters" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS ws
        |      FROM documents WHERE doc_id <= 200),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(length(list_intersect(a.ws, b.ws)) AS DOUBLE)
        |        / length(list_distinct(list_concat(a.ws, b.ws))) >= 0.94),
        |edges AS (SELECT da AS s, db AS d FROM pairs UNION ALL SELECT db, da FROM pairs),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q286_dedup_cluster_sizes" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS ws
        |      FROM documents WHERE doc_id <= 200),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  WHERE CAST(length(list_intersect(a.ws, b.ws)) AS DOUBLE)
        |        / length(list_distinct(list_concat(a.ws, b.ws))) >= 0.94),
        |edges AS (SELECT da AS s, db AS d FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
        |comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
        |  FROM comp GROUP BY 1)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS docs_in_size
        |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,

    "q290_graph_components" ->
      """WITH RECURSIVE
        |act AS (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |edges AS (SELECT u AS s, v AS d FROM e
        |  UNION ALL SELECT v, u FROM e),
        |nodes AS (SELECT DISTINCT user_id FROM events),
        |reach(id, comp) AS (
        |  SELECT user_id, user_id FROM nodes
        |  UNION
        |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
        |cmp AS (SELECT id, min(comp) AS c FROM reach GROUP BY id),
        |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS sz
        |  FROM cmp GROUP BY 1)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_nodes,
        |  CAST(count(*) AS BIGINT) AS n_components,
        |  CAST(max(sz) AS BIGINT) AS giant_size,
        |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_isolated,
        |  floor(CAST(max(sz) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS giant_share
        |FROM sz""".stripMargin,

    "q287_bm25_topk" ->
      """WITH toks AS (SELECT doc_id, t FROM (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents) WHERE t <> ''),
        |dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |    CAST(sum(len) AS BIGINT) AS totlen FROM dl),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
        |  WHERE t IN ('hash', 'join', 'dup') GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |terms AS (SELECT tf.doc_id, tf.t,
        |    ln((CAST(nn AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |      / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (CAST(tf AS DOUBLE) + 1.2 * (0.25
        |      + 0.75 * CAST(len AS DOUBLE)
        |        / (CAST(totlen AS DOUBLE) / CAST(nn AS DOUBLE))))
        |      AS score
        |  FROM tf JOIN df ON df.t = tf.t
        |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  floor(list_sum(list(score ORDER BY t)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS score
        |FROM terms GROUP BY 1
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q50_vocab_topk" ->
      """SELECT t AS token, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |      FROM documents)
        |WHERE t <> '' GROUP BY t ORDER BY cnt DESC, token LIMIT 30""".stripMargin,

    "q51_repetition_ratio" ->
      """WITH l AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id <= 50),
        |g AS (SELECT doc_id,
        |  list_transform(range(1, length(t)), i -> t[i] || ' ' || t[i+1]) AS b FROM l)
        |SELECT doc_id, CASE WHEN length(b) < 1 THEN NULL ELSE
        |  floor((1 - CAST(length(list_distinct(b)) AS DOUBLE)/length(b)) * 10000.0 + 0.5)/10000.0
        |  END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    // 3-gram shingles replicate Dedup.shingles exactly, including the
    // shorter-than-n whole-text collapse
    "q52_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN length(t) < 3 THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, length(t) - 1),
        |                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        |  FROM tok),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id <= 10),
        |corp AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh
        |  WHERE doc_id > 10 AND doc_id <= 100)
        |SELECT c.doc_id,
        |  floor(CAST(count(b.g) AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0 AS contamination
        |FROM corp c LEFT JOIN bench b ON c.g = b.g
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // first 16 bits of md5(text) vs per-stratum thresholds (en 50%,
    // de 25%, default 12.5%) — hex digits parsed the q42 strpos way
    "q53_stratified_sample" ->
      """WITH h AS (SELECT lang, n_chars,
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS hv
        |  FROM documents),
        |s AS (SELECT * FROM h WHERE hv <
        |  CASE lang WHEN 'en' THEN 32768 WHEN 'de' THEN 16384 ELSE 8192 END)
        |SELECT lang, count(*) AS kept,
        |  floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    // identical thresholds; integer-derived ratios divide exactly on
    // both engines, so every comparison lands the same side
    "q71_gopher_rules" ->
      """WITH tok AS (SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE doc_id <= 200),
        |m AS (SELECT doc_id,
        |    length(t) AS n,
        |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / GREATEST(length(t), 1) AS mean_len,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / GREATEST(length(text), 1) AS alpha,
        |    length(list_filter(t, x -> x IN ('the','and','of','to','a','in',
        |      'is','it','you','that','for','was'))) AS sw
        |  FROM tok)
        |SELECT doc_id,
        |  n >= 5 AND n <= 100000 AS rule_tokens,
        |  mean_len >= 3.0 AND mean_len <= 10.0 AS rule_mean_len,
        |  alpha >= 0.6 AS rule_alpha,
        |  sw >= 2 AS rule_stopwords,
        |  (n >= 5 AND n <= 100000) AND mean_len >= 3.0 AND mean_len <= 10.0
        |    AND alpha >= 0.6 AND sw >= 2 AS quality_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // same synthesized 5-line documents; line fractions via list
    // functions, top-2-gram coverage via the same count → rank-1 →
    // char-coverage construction. Formulas mirror the Spark side
    // literally (1.0 - nd/n, integer-derived divisions) so every
    // threshold comparison lands the same side.
    "q72_gopher_extended" ->
      """WITH s AS (SELECT doc_id,
        |    text || chr(10) ||
        |    '- ' || substr(text, 1, 40) || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         ELSE 'unique line ' || doc_id END || chr(10) ||
        |    CASE WHEN doc_id % 4 < 2 THEN 'read more...'
        |         ELSE 'regular footer' END || chr(10) ||
        |    CASE WHEN doc_id % 12 = 0 THEN text
        |         WHEN doc_id % 5 = 0 THEN '- tail ' || doc_id
        |         WHEN doc_id % 4 = 0 THEN 'continued...'
        |         ELSE 'tail ' || doc_id END AS t
        |  FROM documents WHERE doc_id <= 150),
        |l AS (SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), x -> trim(x) <> '') AS ls
        |  FROM s),
        |m AS (SELECT doc_id, t,
        |    CAST(length(ls) AS DOUBLE) AS n,
        |    length(list_distinct(ls)) AS nd,
        |    length(list_filter(ls, x -> trim(x) LIKE '%...')) AS ne,
        |    length(list_filter(ls, x -> trim(x) LIKE '- %'
        |      OR trim(x) LIKE '* %' OR trim(x) LIKE '• %')) AS nb
        |  FROM l),
        |tok AS (SELECT doc_id, t,
        |    string_split_regex(trim(lower(t)), '\s+') AS w FROM s),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, length(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM tok WHERE length(w) >= 2),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        |r AS (SELECT doc_id, g, c, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c),
        |top AS (SELECT doc_id, c * length(g) AS cov FROM r WHERE rn = 1),
        |f AS (SELECT m.doc_id,
        |    1.0 - nd / n AS df_, ne / n AS ef_, nb / n AS bf_,
        |    COALESCE(CAST(cov AS DOUBLE) / GREATEST(length(m.t), 1), 0.0) AS tf_
        |  FROM m LEFT JOIN top ON m.doc_id = top.doc_id)
        |SELECT doc_id,
        |  floor(df_ * 10000.0 + 0.5) / 10000.0 AS dup_line_frac,
        |  floor(ef_ * 10000.0 + 0.5) / 10000.0 AS ellipsis_line_frac,
        |  floor(bf_ * 10000.0 + 0.5) / 10000.0 AS bullet_line_frac,
        |  floor(tf_ * 10000.0 + 0.5) / 10000.0 AS top2gram_frac,
        |  df_ <= 0.30 AS rule_dup_lines,
        |  ef_ <= 0.30 AS rule_ellipsis_lines,
        |  bf_ <= 0.90 AS rule_bullet_lines,
        |  tf_ <= 0.20 AS rule_top2gram,
        |  df_ <= 0.30 AND ef_ <= 0.30 AND bf_ <= 0.90 AND tf_ <= 0.20
        |    AS ext_pass
        |FROM f ORDER BY doc_id""".stripMargin,

    // replacement chars counted by single-char replace, control chars by
    // an RE2 class mirroring the operator's translate alphabet (C0 minus
    // tab/newline/CR, plus DEL); ratio division is integer-derived
    "q73_encoding_noise" ->
      """WITH s AS (SELECT doc_id,
        |    text || repeat(chr(65533), CAST(doc_id % 3 AS INT)) ||
        |    CASE WHEN doc_id % 7 = 0 THEN repeat(chr(7), 5) ELSE '' END AS t
        |  FROM documents WHERE doc_id <= 200),
        |m AS (SELECT doc_id,
        |    CAST(length(t) - length(replace(t, chr(65533), '')) AS BIGINT)
        |      AS fffd_count,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{01}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g'))
        |      AS BIGINT) AS ctrl_count,
        |    length(t) AS n
        |  FROM s)
        |SELECT doc_id, fffd_count, ctrl_count,
        |  floor(CAST(ctrl_count AS DOUBLE) / GREATEST(n, 1) * 1000000.0
        |    + 0.5) / 1000000.0 AS ctrl_ratio,
        |  fffd_count = 0 AND
        |    CAST(ctrl_count AS DOUBLE) / GREATEST(n, 1) <= 0.001 AS enc_pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // the oracle is the naive full groupBy the operator avoids — exact
    // heavy hitters are engine-independent, only the plan shape differs
    "q74_heavy_hitters" ->
      """WITH tok AS (SELECT
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM tok),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |SELECT term, cnt FROM c, n WHERE cnt * 500 >= total
        |ORDER BY cnt DESC, term""".stripMargin,

    // transitive closure replayed as a recursive min-label propagation;
    // min(root) over all reached roots = the component minimum, matching
    // the CC operator's canonical label
    "q75_embedding_dedup" ->
      """WITH RECURSIVE
        |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings WHERE vec_id <= 800),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
        |  WHERE floor(list_cosine_similarity(a.emb, b.emb) * 10000.0 + 0.5)
        |    / 10000.0 >= 0.38),
        |e AS (SELECT id_a AS s, id_b AS t FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |r(id, root) AS (SELECT vec_id, vec_id FROM e0
        |  UNION SELECT e.t, r.root FROM r JOIN e ON e.s = r.id)
        |SELECT id AS vec_id, min(root) AS component,
        |  id <> min(root) AS is_dup
        |FROM r GROUP BY id ORDER BY vec_id""".stripMargin,

    "q76_bigram_logprob" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, bg, count(*) AS tf FROM b GROUP BY doc_id, bg),
        |cb AS (SELECT bg, sum(tf) AS cb FROM tf GROUP BY bg),
        |cw AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cw
        |  FROM cb GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.tf,
        |    ln(CAST(cb.cb AS DOUBLE) / cw.cw) AS lp
        |  FROM tf JOIN cb USING (bg)
        |  JOIN cw ON split_part(tf.bg, ' ', 1) = cw.w1)
        |SELECT doc_id,
        |  floor(sum(tf * lp) / sum(tf) * 10000.0 + 0.5) / 10000.0 AS logprob
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the KL ratios divide doubles derived from exact integer counts, so
    // each per-term contribution is bit-identical across engines; only
    // the final sum's order differs (absorbed by the floor rounding)
    "q79_vocab_drift" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM tok),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |v AS (SELECT term, cnt FROM c, n WHERE cnt * 500 >= total),
        |vt AS (SELECT sum(cnt) AS vtot FROM v),
        |s AS (SELECT source, term, count(*) AS scnt FROM tok
        |  JOIN v USING (term) GROUP BY source, term),
        |st AS (SELECT source, sum(scnt) AS stot FROM s GROUP BY source),
        |kl AS (SELECT s.source,
        |    sum((CAST(scnt AS DOUBLE) / stot) *
        |        ln((CAST(scnt AS DOUBLE) / stot) /
        |           (CAST(cnt AS DOUBLE) / vtot))) AS kl,
        |    count(*) AS n_terms
        |  FROM s JOIN v USING (term) JOIN st USING (source) CROSS JOIN vt
        |  GROUP BY s.source)
        |SELECT source, floor(kl * 10000.0 + 0.5) / 10000.0 AS kl, n_terms
        |FROM kl ORDER BY source""".stripMargin,

    // the two Lloyd rounds unrolled as CTE pairs (assign = row_number over
    // (distance, cid) — argmin of sqrt-L2 equals argmin of the squared form
    // Spark's nearest_centroid uses; update = per-(cid, dim) avg snapped to
    // the same 1e-6 grid, empty clusters coalesce to the previous round).
    // Output is integer-only, so no float ever reaches the hash.
    "q81_kmeans_cluster" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
        |a0 AS (SELECT vec_id, e, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c0),
        |s0 AS (SELECT vec_id, e, cid FROM a0 WHERE rn = 1),
        |u0 AS (SELECT cid, pos, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |        FROM s0) t
        |  GROUP BY cid, pos),
        |n0 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM u0 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(n0.ce, c0.ce) AS ce
        |  FROM c0 LEFT JOIN n0 USING (cid)),
        |a1 AS (SELECT vec_id, e, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c1),
        |s1 AS (SELECT vec_id, e, cid FROM a1 WHERE rn = 1),
        |u1 AS (SELECT cid, pos, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |        FROM s1) t
        |  GROUP BY cid, pos),
        |n1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM u1 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(n1.ce, c1.ce) AS ce
        |  FROM c1 LEFT JOIN n1 USING (cid)),
        |af AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c2)
        |SELECT vec_id, cid AS cluster,
        |  count(*) OVER (PARTITION BY cid) AS cluster_n
        |FROM af WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the q68 scoring chain, then the census tercile: cumulative counts
    // over distinct (source, rounded-score) values ordered desc, bucket =
    // least(floor(3·prev/n), 2) — integer-exact double math, ties take the
    // run's first-rank bucket on both engines
    "q84_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |t AS (SELECT count(*) AS tot FROM tok),
        |sc0 AS (SELECT doc_id,
        |    floor(avg(lp) * 10000.0 + 0.5) / 10000.0 AS logprob
        |  FROM (SELECT tok.doc_id, ln(CAST(cnt AS DOUBLE) / tot) AS lp
        |        FROM tok JOIN c USING (term) CROSS JOIN t) s
        |  GROUP BY doc_id),
        |ds AS (SELECT d.doc_id, d.source, sc0.logprob
        |  FROM documents d JOIN sc0 USING (doc_id)),
        |cen AS (SELECT source, logprob, count(*) AS cc
        |  FROM ds GROUP BY source, logprob),
        |cum AS (SELECT source, logprob, cc, sum(cc) OVER (PARTITION BY source
        |    ORDER BY logprob DESC ROWS UNBOUNDED PRECEDING) AS cm
        |  FROM cen),
        |tt AS (SELECT source, sum(cc) AS n FROM cen GROUP BY source),
        |bk AS (SELECT cum.source, cum.logprob,
        |    CASE least(CAST(floor(3.0 * (cm - cc) / n) AS INTEGER), 2)
        |      WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
        |    END AS ppl_bucket
        |  FROM cum JOIN tt USING (source))
        |SELECT ds.doc_id, ds.source, ds.logprob, bk.ppl_bucket
        |FROM ds JOIN bk ON ds.source = bk.source AND ds.logprob = bk.logprob
        |ORDER BY ds.doc_id""".stripMargin,

    // relational replay of the fused expression: per-doc char census,
    // H = ln(n) - sum(c·ln c)/n — every ln() argument an exact integer,
    // both engines round the same 1e-4 grid value
    "q85_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cen AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
        |n AS (SELECT doc_id, sum(cnt) AS n FROM cen GROUP BY doc_id),
        |e AS (SELECT cen.doc_id,
        |    floor((ln(n) - sum(cnt * ln(cnt)) / n) * 10000.0 + 0.5)
        |      / 10000.0 AS entropy
        |  FROM cen JOIN n USING (doc_id) GROUP BY cen.doc_id, n)
        |SELECT doc_id, entropy, entropy < 2.5 AS low_entropy
        |FROM e ORDER BY doc_id""".stripMargin,

    // census cumulative rank, type-1 quantile: smallest value whose
    // cumulative count reaches ceil(p·n), checked as cum·den >= num·n in
    // integers — no float thresholds, no engine quantile() builtins
    "q86_tok_percentiles" ->
      """WITH v AS (SELECT source,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS tk
        |  FROM documents),
        |cen AS (SELECT source, tk, count(*) AS c FROM v GROUP BY source, tk),
        |cum AS (SELECT source, tk, c, sum(c) OVER (PARTITION BY source
        |    ORDER BY tk ROWS UNBOUNDED PRECEDING) AS cm FROM cen),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM cen GROUP BY source)
        |SELECT cum.source, max(n) AS n_rows,
        |  CAST(min(CASE WHEN cm * 2 >= 1 * n THEN tk END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cm * 10 >= 9 * n THEN tk END) AS BIGINT) AS p90,
        |  CAST(min(CASE WHEN cm * 100 >= 99 * n THEN tk END) AS BIGINT) AS p99
        |FROM cum JOIN t USING (source) GROUP BY cum.source
        |ORDER BY cum.source""".stripMargin,

    // line explode via lockstep unnest/generate_subscripts (the q56
    // shape at line granularity); DF at line-string identity; lines in
    // > 20 docs stripped everywhere; reassembly ordered by position
    "q87_boilerplate_lines" ->
      """WITH synth AS (SELECT doc_id,
        |    'FOLLOW US ON SOCIAL MEDIA' || chr(10) || text || chr(10)
        |    || '(c) ' || source || ' newsletter' || chr(10)
        |    || 'All rights reserved' AS text
        |  FROM documents WHERE doc_id <= 300),
        |l AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
        |    unnest(string_split(text, chr(10))) AS line
        |  FROM synth),
        |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line),
        |k AS (SELECT l.doc_id, l.pos, l.line
        |  FROM l JOIN f USING (line) WHERE f.df <= 20),
        |r AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept
        |  FROM k GROUP BY doc_id)
        |SELECT s.doc_id, md5(coalesce(r.clean_text, '')) AS clean_md5,
        |  CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(string_split(s.text, chr(10)))
        |    - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM synth s LEFT JOIN r USING (doc_id) ORDER BY s.doc_id""".stripMargin,

    // the same 16-bit md5 uniform (q53 hex parse) seeded 'graft-es:id',
    // exponential key -ln(u)/w snapped to the 1e-12 grid before the
    // top-200 cut, id tiebreak — selection AND keys replay exactly
    "q88_weighted_sample" ->
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |  ((strpos('0123456789abcdef', substr(md5('graft-es:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (strpos('0123456789abcdef', substr(md5('graft-es:' ||
        |      CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substr(md5('graft-es:' ||
        |      CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5('graft-es:' ||
        |      CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        |   + 0.5) / 65536.0 AS u
        |  FROM documents),
        |k AS (SELECT doc_id, lang, n_chars,
        |    floor((-ln(u) / greatest(CAST(n_chars AS DOUBLE), 1.0)) * 1e12
        |      + 0.5) / 1e12 AS es_key
        |  FROM h)
        |SELECT doc_id, lang, n_chars, es_key FROM
        |  (SELECT * FROM k ORDER BY es_key, doc_id LIMIT 200)
        |ORDER BY doc_id""".stripMargin,

    // conditional aggregation IS the pivot the round trip must land on
    "q89_pivot_unpivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  floor(sum(CASE WHEN event_type = 'click' THEN value END)
        |    * 10000.0 + 0.5) / 10000.0 AS click,
        |  floor(sum(CASE WHEN event_type = 'error' THEN value END)
        |    * 10000.0 + 0.5) / 10000.0 AS error,
        |  floor(sum(CASE WHEN event_type = 'purchase' THEN value END)
        |    * 10000.0 + 0.5) / 10000.0 AS purchase,
        |  floor(sum(CASE WHEN event_type = 'signup' THEN value END)
        |    * 10000.0 + 0.5) / 10000.0 AS signup,
        |  floor(sum(CASE WHEN event_type = 'view' THEN value END)
        |    * 10000.0 + 0.5) / 10000.0 AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    // one running sum per source in (md5, id) order, exclusive frame =
    // tokens before the doc; keep while the prefix is under budget
    "q90_token_budget" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT) AS n_tokens,
        |    md5(text) AS key
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tok_before
        |  FROM t)
        |SELECT source, doc_id, n_tokens, tok_before FROM c
        |WHERE tok_before < 600 ORDER BY source, doc_id""".stripMargin,

    // the token identity: maximal \p{L}+ runs + \p{N}+ runs + individual
    // [^\s\p{L}\p{N}] chars — RE2 classes match Java's for these
    "q91_bpe_tokens" ->
      """WITH synth AS (SELECT doc_id,
        |    text || ' v2.0, price: $' || CAST(n_chars AS VARCHAR)
        |    || '! ok 你好' AS text
        |  FROM documents WHERE doc_id <= 250)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\p{L}+'))
        |     + len(regexp_extract_all(text, '\p{N}+'))
        |     + len(regexp_extract_all(text, '[^\s\p{L}\p{N}]'))
        |    AS BIGINT) AS bpe_count,
        |  CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |    AS BIGINT) AS ws_count
        |FROM synth ORDER BY doc_id""".stripMargin,

    // chunk count 1 + ceil(max(n-40,0)/20) in all-positive integer math;
    // list_slice is 1-based inclusive = Spark's slice(start, length)
    "q96_doc_chunking" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks,
        |    unnest(generate_series(0,
        |      CAST(1 + (greatest(n - 40, 0) + 19) // 20 AS BIGINT) - 1))
        |      AS chunk_id
        |  FROM n)
        |SELECT doc_id, chunk_id,
        |  md5(array_to_string(
        |    list_slice(toks, chunk_id * 20 + 1, chunk_id * 20 + 40), ' '))
        |    AS chunk_md5,
        |  CAST(len(list_slice(toks, chunk_id * 20 + 1, chunk_id * 20 + 40))
        |    AS BIGINT) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // the q81 Lloyd chain gives the codebook (c2) and corpus buckets
    // (asg); each query probes its 2 nearest centroids, ranks candidates
    // by the same (rounded cosine desc, id) order as the exact side, and
    // recall counts the overlap of the two id sets
    "q83_ivf_recall" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
        |a0 AS (SELECT vec_id, e, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c0),
        |s0 AS (SELECT vec_id, e, cid FROM a0 WHERE rn = 1),
        |u0 AS (SELECT cid, pos, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |        FROM s0) t
        |  GROUP BY cid, pos),
        |n0 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM u0 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(n0.ce, c0.ce) AS ce
        |  FROM c0 LEFT JOIN n0 USING (cid)),
        |a1 AS (SELECT vec_id, e, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c1),
        |s1 AS (SELECT vec_id, e, cid FROM a1 WHERE rn = 1),
        |u1 AS (SELECT cid, pos, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |        FROM s1) t
        |  GROUP BY cid, pos),
        |n1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM u1 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(n1.ce, c1.ce) AS ce
        |  FROM c1 LEFT JOIN n1 USING (cid)),
        |af AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c2),
        |asg AS (SELECT vec_id, cid AS bucket FROM af WHERE rn = 1),
        |qs AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id <= 10),
        |pr AS (SELECT qid, cid AS bucket, row_number() OVER (PARTITION BY qid
        |    ORDER BY list_distance(qe, ce), cid) AS prn
        |  FROM qs CROSS JOIN c2),
        |probes AS (SELECT qid, bucket FROM pr WHERE prn <= 2),
        |iv AS (SELECT p.qid, a.vec_id AS cid, row_number() OVER (
        |    PARTITION BY p.qid ORDER BY
        |    floor(list_cosine_similarity(q.qe, cv.e) * 10000.0 + 0.5)
        |      / 10000.0 DESC, a.vec_id) AS rn
        |  FROM probes p
        |  JOIN asg a ON a.bucket = p.bucket AND a.vec_id <> p.qid
        |  JOIN v cv ON cv.vec_id = a.vec_id
        |  JOIN qs q ON q.qid = p.qid),
        |ivfk AS (SELECT qid, cid FROM iv WHERE rn <= 10),
        |ex AS (SELECT q.qid, cv.vec_id AS cid, row_number() OVER (
        |    PARTITION BY q.qid ORDER BY
        |    floor(list_cosine_similarity(q.qe, cv.e) * 10000.0 + 0.5)
        |      / 10000.0 DESC, cv.vec_id) AS rn
        |  FROM qs q JOIN v cv ON cv.vec_id <> q.qid),
        |exk AS (SELECT qid, cid FROM ex WHERE rn <= 10)
        |SELECT exk.qid, count(ivfk.cid) AS hits,
        |  floor(count(ivfk.cid) / 10.0 * 10000.0 + 0.5) / 10000.0 AS recall
        |FROM exk LEFT JOIN ivfk ON exk.qid = ivfk.qid AND exk.cid = ivfk.cid
        |GROUP BY exk.qid ORDER BY exk.qid""".stripMargin,

    // the q81 Lloyd chain verbatim, then the SemDedup verdict: dup iff a
    // smaller-id cell-mate has floor-rounded cosine ≥ the threshold (the
    // rounding happens BEFORE the compare on both engines, so a last-ulp
    // cosine can't flip a verdict)
    "q82_semantic_dedup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS ce
        |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8)),
        |a0 AS (SELECT vec_id, e, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c0),
        |s0 AS (SELECT vec_id, e, cid FROM a0 WHERE rn = 1),
        |u0 AS (SELECT cid, pos, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |        FROM s0) t
        |  GROUP BY cid, pos),
        |n0 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM u0 GROUP BY cid),
        |c1 AS (SELECT c0.cid, coalesce(n0.ce, c0.ce) AS ce
        |  FROM c0 LEFT JOIN n0 USING (cid)),
        |a1 AS (SELECT vec_id, e, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c1),
        |s1 AS (SELECT vec_id, e, cid FROM a1 WHERE rn = 1),
        |u1 AS (SELECT cid, pos, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS m
        |  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |        FROM s1) t
        |  GROUP BY cid, pos),
        |n1 AS (SELECT cid, list(m ORDER BY pos) AS ce FROM u1 GROUP BY cid),
        |c2 AS (SELECT c1.cid, coalesce(n1.ce, c1.ce) AS ce
        |  FROM c1 LEFT JOIN n1 USING (cid)),
        |af AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(e, ce), cid) AS rn
        |  FROM v CROSS JOIN c2),
        |asg AS (SELECT vec_id, cid AS cluster FROM af WHERE rn = 1),
        |d AS (SELECT DISTINCT b.vec_id
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster
        |    AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE floor(list_cosine_similarity(va.e, vb.e) * 10000.0 + 0.5)
        |        / 10000.0 >= 0.38)
        |SELECT asg.vec_id, asg.cluster, d.vec_id IS NOT NULL AS is_dup
        |FROM asg LEFT JOIN d ON asg.vec_id = d.vec_id
        |ORDER BY asg.vec_id""".stripMargin,

    // the logistic replayed feature-by-feature; exp/ln agree across
    // engines on identical double inputs, and the floor rounding absorbs
    // any final-sum ulp (the q68/q76 convention). keep compares the
    // UNROUNDED score, matching the Spark side.
    "q80_quality_classifier" ->
      """WITH t AS (SELECT doc_id, text,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |z AS (SELECT doc_id,
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
        |sc AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) AS s FROM z)
        |SELECT doc_id,
        |  floor(s * 10000.0 + 0.5) / 10000.0 AS quality_score,
        |  s >= 0.5 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    // each funnel stage replayed relationally: keeper = row_number 1 per
    // md5(text) ordered by doc_id (= min_by), cap = the q66 window, split
    // thresholds = the q63 16-bit md5-prefix buckets
    "q78_curation_funnel" ->
      """WITH k AS (SELECT doc_id, text, lang, source FROM (
        |    SELECT doc_id, text, lang, source,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |        AS drn
        |    FROM documents) WHERE drn = 1),
        |q AS (SELECT * FROM k
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+'))
        |    BETWEEN 20 AND 90),
        |c AS (SELECT lang, text FROM (
        |    SELECT lang, text, row_number() OVER (
        |      PARTITION BY source ORDER BY md5(text), doc_id) AS srn
        |    FROM q) WHERE srn <= 15),
        |h AS (SELECT lang,
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS hv
        |  FROM c),
        |s AS (SELECT lang, CASE WHEN hv < 52428 THEN 'train'
        |  WHEN hv < 58982 THEN 'val' ELSE 'test' END AS split FROM h)
        |SELECT lang, split, count(*) AS docs FROM s
        |GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // positions are 0-based on both sides (posexplode / range(0, len));
    // toks[j+1:j+8] is DuckDB's 1-based inclusive slice of the same window
    "q77_span_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) AS j, toks
        |  FROM t WHERE len(toks) >= 8),
        |g2 AS (SELECT doc_id, j,
        |    array_to_string(toks[j + 1:j + 8], ' ') AS gram FROM g),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |ds AS (SELECT g2.doc_id, g2.j FROM g2 JOIN dup USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, j + u AS pos
        |  FROM ds, unnest(range(0, 8)) AS t2(u)),
        |tokpos AS (SELECT doc_id, unnest(toks) AS tok,
        |    unnest(range(0, len(toks))) AS pos FROM t),
        |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
        |  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(re.clean_text, '') AS clean_text,
        |  len(t.toks) AS n_tokens,
        |  len(t.toks) - coalesce(re.n_kept, 0) AS n_removed
        |FROM t LEFT JOIN re USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    "q70_orc_roundtrip" ->
      """WITH h AS (SELECT lang, n_chars,
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS hv
        |  FROM documents)
        |SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(hv) AS BIGINT) AS md5sum16
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,

    "q69_ndjson_roundtrip" ->
      """WITH h AS (SELECT lang, n_chars,
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS hv
        |  FROM documents)
        |SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(hv) AS BIGINT) AS md5sum16
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,

    "q68_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |t AS (SELECT count(*) AS tot FROM tok),
        |s AS (SELECT tok.doc_id, ln(CAST(cnt AS DOUBLE) / tot) AS lp
        |  FROM tok JOIN c USING (term) CROSS JOIN t)
        |SELECT doc_id, floor(avg(lp) * 10000.0 + 0.5) / 10000.0 AS logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q67_label_outliers" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |p AS (SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS x
        |  FROM v),
        |c AS (SELECT label, pos, avg(x) AS m FROM p GROUP BY label, pos),
        |cent AS (SELECT label, list(m ORDER BY pos) AS ce FROM c
        |  GROUP BY label)
        |SELECT v.vec_id, v.label,
        |  floor(list_cosine_similarity(v.e, cent.ce) * 10000.0 + 0.5)
        |    / 10000.0 AS centroid_sim
        |FROM v JOIN cent USING (label) ORDER BY v.vec_id""".stripMargin,

    "q66_stratified_topk" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(text), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 20
        |ORDER BY lang, doc_id""".stripMargin,

    "q64_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |       GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df_docs) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rn
        |  FROM sc)
        |SELECT doc_id, rn, term,
        |  floor(tfidf * 10000.0 + 0.5) / 10000.0 AS tfidf
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q65_histogram" ->
      """WITH mm AS (SELECT CAST(min(n_chars) AS BIGINT) AS lo,
        |    CAST(max(n_chars) AS BIGINT) AS hi FROM documents),
        |wd AS (SELECT lo, CAST(floor((hi - lo + 20) / 20.0) AS BIGINT) AS w
        |  FROM mm),
        |b AS (SELECT CAST(floor((n_chars - lo) / CAST(w AS DOUBLE)) AS BIGINT)
        |    AS bucket, lo, w FROM documents, wd)
        |SELECT bucket, CAST(lo + bucket * w AS BIGINT) AS bucket_lo,
        |  count(*) AS cnt
        |FROM b GROUP BY bucket, lo, w ORDER BY bucket""".stripMargin,

    // the oracle computes the SAME permutation the naive way: one global
    // ORDER BY over the md5 key (fine at DuckDB's scale)
    "q62_training_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |  md5('42:' || CAST(doc_id AS VARCHAR)) AS key FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT)
        |    AS shuffle_pos
        |FROM k ORDER BY doc_id""".stripMargin,

    "q63_split_assign" ->
      """WITH h AS (SELECT lang,
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS hv
        |  FROM documents),
        |s AS (SELECT lang, CASE WHEN hv < 52428 THEN 'train'
        |  WHEN hv < 58982 THEN 'val' ELSE 'test' END AS split FROM h)
        |SELECT split, lang, count(*) AS docs FROM s
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    // q52's shingle construction, document frequency over distinct
    // per-doc shingles, mean of exact 0/1 indicators (float-order-free)
    "q61_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN length(t) < 3 THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, length(t) - 1),
        |                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS s
        |  FROM tok),
        |ex AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh),
        |f AS (SELECT g, count(*) AS df FROM ex GROUP BY g)
        |SELECT ex.doc_id,
        |  floor(avg(CASE WHEN f.df > 1 THEN 1.0 ELSE 0.0 END) * 10000.0 + 0.5)
        |    / 10000.0 AS dup_fraction
        |FROM ex JOIN f ON ex.g = f.g
        |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,

    "q60_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |v2 AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
        |                          ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, md5('new ' || text) AS fp
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.fp = v2.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,

    // same round-robin shard, same q35 tokenizer, same window cumsum
    "q59_sequence_packing" ->
      """WITH t AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
        |  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS end_off
        |  FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(end_off - n_tokens AS BIGINT) AS start_off,
        |  CAST(floor((end_off - n_tokens) / 256.0) AS BIGINT) AS bin_first,
        |  CAST(floor((end_off - 1) / 256.0) AS BIGINT) AS bin_last
        |FROM c ORDER BY doc_id""".stripMargin,

    // same sqrt/division/floor math — both engines' sqrt is IEEE
    // correctly-rounded, and the rate needs no cross-group summation
    "q58_mixture_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |  CAST(floor(LEAST(1.0, sqrt(30.0 / n)) * 65536) AS INT) AS thr
        |  FROM c),
        |h AS (SELECT lang, n_chars,
        |  (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS hv
        |  FROM documents),
        |s AS (SELECT h.lang, h.n_chars FROM h JOIN r ON h.lang = r.lang
        |      WHERE h.hv < r.thr)
        |SELECT lang, count(*) AS kept,
        |  floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    // the bloom-screen + anti-join split must equal the plain anti-join
    "q57_incremental_dedup" ->
      """SELECT b.doc_id, b.lang, b.n_chars
        |FROM documents b
        |WHERE b.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM documents s
        |                  WHERE s.doc_id % 3 = 0 AND s.text = b.text)
        |ORDER BY b.doc_id""".stripMargin,

    // DuckDB's levenshtein is the same unit-cost DP as Spark's built-in
    "q102_edit_distance" ->
      """WITH d AS (SELECT doc_id, text, substr(text, 1, 30) AS pfx
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  levenshtein(a.text, b.text) AS edit_dist,
        |  floor((1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |         / greatest(length(a.text), length(b.text)))
        |        * 10000.0 + 0.5) / 10000.0 AS sim
        |FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        |WHERE 1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
        |      / greatest(length(a.text), length(b.text)) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // 3 unrolled damped rounds; // is BIGINT floor division on positives,
    // matching Spark's `div` — no doubles anywhere in the rank math
    "q104_pagerank" ->
      """WITH ev AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u,
        |    't:' || event_type AS t FROM events),
        |edges AS (SELECT u AS src, t AS dst FROM ev
        |          UNION ALL SELECT t, u FROM ev),
        |deg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        |n0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS node, CAST(sum(n.r // d.od) AS BIGINT) AS c
        |  FROM edges e JOIN n0 n ON e.src = n.node JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |n1 AS (SELECT nodes.node,
        |    150000000 + (85 * COALESCE(c1.c, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.node = c1.node),
        |c2 AS (SELECT e.dst AS node, CAST(sum(n.r // d.od) AS BIGINT) AS c
        |  FROM edges e JOIN n1 n ON e.src = n.node JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |n2 AS (SELECT nodes.node,
        |    150000000 + (85 * COALESCE(c2.c, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON nodes.node = c2.node),
        |c3 AS (SELECT e.dst AS node, CAST(sum(n.r // d.od) AS BIGINT) AS c
        |  FROM edges e JOIN n2 n ON e.src = n.node JOIN deg d ON d.src = e.src
        |  GROUP BY e.dst),
        |n3 AS (SELECT nodes.node,
        |    CAST(150000000 + (85 * COALESCE(c3.c, 0)) // 100 AS BIGINT) AS r
        |  FROM nodes LEFT JOIN c3 ON nodes.node = c3.node)
        |SELECT node, r AS rank_fp FROM n3
        |ORDER BY rank_fp DESC, node""".stripMargin,

    "q105_pmi_collocations" ->
      """WITH tok AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |w AS (SELECT unnest(toks) AS w FROM tok),
        |cw AS (SELECT w, count(*) AS cw FROM w WHERE w <> '' GROUP BY w),
        |b AS (SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM tok WHERE len(toks) >= 2),
        |cball AS (SELECT bg, count(*) AS cb FROM b GROUP BY bg),
        |tot AS (SELECT (SELECT sum(cw) FROM cw) AS n,
        |               (SELECT sum(cb) FROM cball) AS nb),
        |cb AS (SELECT split_part(bg, ' ', 1) AS w1,
        |    split_part(bg, ' ', 2) AS w2, cb
        |  FROM cball WHERE cb >= 5)
        |SELECT cb.w1, cb.w2, cb.cb AS pair_count,
        |  floor(ln((CAST(cb.cb AS DOUBLE) * tot.n * tot.n)
        |    / (CAST(tot.nb AS DOUBLE) * c1.cw * c2.cw)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS pmi
        |FROM cb
        |JOIN cw c1 ON c1.w = cb.w1
        |JOIN cw c2 ON c2.w = cb.w2
        |CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 40""".stripMargin,

    "q106_inverted_index" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |td AS (SELECT DISTINCT term, doc_id FROM tok WHERE term <> ''),
        |dfc AS (SELECT term, count(*) AS doc_freq FROM td GROUP BY term
        |  HAVING count(*) * 10 <= (SELECT count(*) FROM documents))
        |SELECT td.term AS term, dfc.doc_freq,
        |  string_agg(CAST(td.doc_id AS VARCHAR), ',' ORDER BY td.doc_id)
        |    AS postings
        |FROM td JOIN dfc ON td.term = dfc.term
        |GROUP BY td.term, dfc.doc_freq
        |ORDER BY td.term""".stripMargin,

    "q112_pq_encode" -> (pqTrainSql +
      """SELECT vec_id,
        |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes,
        |  floor(list_sum(list(dd ORDER BY sub)) * 10000.0 + 0.5) / 10000.0
        |    AS recon_err
        |FROM sf GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    "q113_pq_adc_topk" -> (pqTrainSql.stripSuffix("\n") +
      """,
        |qsv AS (SELECT vec_id AS qid, sub, s AS qs FROM sv
        |  WHERE vec_id <= 5),
        |tbl AS (SELECT q.qid, c.sub, c.code,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (q.qs[i] - c.ce[i])^2)) AS qd
        |  FROM qsv q JOIN c2 c ON q.sub = c.sub),
        |adc AS (SELECT t.qid, sf.vec_id AS cid,
        |    floor(list_sum(list(t.qd ORDER BY t.sub)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS a
        |  FROM sf JOIN tbl t ON sf.sub = t.sub AND sf.code = t.code
        |  GROUP BY t.qid, sf.vec_id),
        |rk AS (SELECT qid, cid, a,
        |    row_number() OVER (PARTITION BY qid ORDER BY a, cid) AS rank
        |  FROM adc)
        |SELECT qid, cid, floor(a * 10000.0 + 0.5) / 10000.0 AS adc,
        |  CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // identical text to q113's oracle: with every list probed, IVF-PQ IS
    // plain PQ ADC — any drift the coarse-quantizer stage introduced
    // would hash-mismatch here
    "q157_ivf_pq_topk" -> (pqTrainSql.stripSuffix("\n") +
      """,
        |qsv AS (SELECT vec_id AS qid, sub, s AS qs FROM sv
        |  WHERE vec_id <= 5),
        |tbl AS (SELECT q.qid, c.sub, c.code,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (q.qs[i] - c.ce[i])^2)) AS qd
        |  FROM qsv q JOIN c2 c ON q.sub = c.sub),
        |adc AS (SELECT t.qid, sf.vec_id AS cid,
        |    floor(list_sum(list(t.qd ORDER BY t.sub)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS a
        |  FROM sf JOIN tbl t ON sf.sub = t.sub AND sf.code = t.code
        |  GROUP BY t.qid, sf.vec_id),
        |rk AS (SELECT qid, cid, a,
        |    row_number() OVER (PARTITION BY qid ORDER BY a, cid) AS rank
        |  FROM adc)
        |SELECT qid, cid, floor(a * 10000.0 + 0.5) / 10000.0 AS adc,
        |  CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    "q114_skew_profile" ->
      """WITH counts AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
        |  FROM events GROUP BY 1),
        |census AS (SELECT c, count(*) AS nk FROM counts GROUP BY c),
        |tot AS (SELECT CAST(sum(c * nk) AS BIGINT) AS n_rows,
        |    CAST(sum(nk) AS BIGINT) AS n_keys, max(c) AS max_key_rows
        |  FROM census),
        |cum AS (SELECT c, sum(nk) OVER (ORDER BY c) AS cumk FROM census),
        |qs AS (SELECT
        |    min(CASE WHEN cum.cumk * 2 >= tot.n_keys THEN c END)
        |      AS p50_key_rows,
        |    min(CASE WHEN cum.cumk * 10 >= tot.n_keys * 9 THEN c END)
        |      AS p90_key_rows,
        |    min(CASE WHEN cum.cumk * 100 >= tot.n_keys * 99 THEN c END)
        |      AS p99_key_rows
        |  FROM cum CROSS JOIN tot),
        |top AS (SELECT string_agg(k || ':' || c, ',' ORDER BY c DESC, k)
        |    AS top_keys
        |  FROM (SELECT k, c FROM counts ORDER BY c DESC, k LIMIT 5))
        |SELECT tot.n_rows, tot.n_keys, tot.max_key_rows, qs.p50_key_rows,
        |  qs.p90_key_rows, qs.p99_key_rows, top.top_keys
        |FROM tot CROSS JOIN qs CROSS JOIN top""".stripMargin,

    "q126_bpe_merges" -> bpeMergeSql,

    "q125_constraint_audit" ->
      """WITH rows_ AS (
        |  SELECT 'pk_orders_orderkey_unique' AS c, count(*) AS v FROM (
        |    SELECT o_orderkey FROM orders GROUP BY o_orderkey
        |    HAVING count(*) > 1) t
        |  UNION ALL
        |  SELECT 'fk_orders_custkey_in_customer', count(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'domain_orders_totalprice_positive', count(*) FROM orders
        |    WHERE o_totalprice <= 0
        |  UNION ALL
        |  SELECT 'not_null_events_value', count(*) FROM events
        |    WHERE value IS NULL
        |  UNION ALL
        |  SELECT 'domain_events_type_known', count(*) FROM events
        |    WHERE event_type NOT IN
        |      ('click', 'view', 'purchase', 'signup', 'error'))
        |SELECT c AS check_name, v AS n_violations, (v = 0) AS pass
        |FROM rows_ ORDER BY c""".stripMargin,

    "q124_rsi" ->
      """WITH d AS (SELECT user_id, event_id, ts, value,
        |    value - lag(value) OVER w AS delta,
        |    row_number() OVER w AS rn
        |  FROM events WHERE user_id % 97 = 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, rn,
        |    sum(CAST(greatest(delta, 0) AS DECIMAL(18,6))) OVER f AS sg,
        |    sum(CAST(greatest(-delta, 0) AS DECIMAL(18,6))) OVER f AS sl
        |  FROM d
        |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  floor(CASE WHEN sl = 0 THEN 100.0
        |    ELSE 100.0 - 100.0 / (1.0 + CAST(sg AS DOUBLE)
        |      / CAST(sl AS DOUBLE)) END * 10000.0 + 0.5) / 10000.0 AS rsi
        |FROM s WHERE rn > 14
        |ORDER BY user_id, ts, event_id""".stripMargin,

    // TRUE booleans are the contract: a merged-daily or one-pass sketch
    // estimate drifting past 5% of exact flips them and fails the compare
    "q123_hll_merge" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS merged_within_5pct, TRUE AS whole_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q120_anomaly_zscore" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
        |    stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  floor((e.value - st.mu) / st.sd * 10000.0 + 0.5) / 10000.0 AS z
        |FROM events e JOIN st ON e.event_type = st.event_type
        |WHERE abs((e.value - st.mu) / st.sd) > 3.0
        |ORDER BY e.event_id""".stripMargin,

    "q121_association_rules" ->
      """WITH basket AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS nu FROM basket),
        |item AS (SELECT event_type, count(*) AS c FROM basket
        |  GROUP BY event_type),
        |pair AS (SELECT x.event_type AS ante, y.event_type AS cons,
        |    count(*) AS cab
        |  FROM basket x JOIN basket y ON x.user_id = y.user_id
        |    AND x.event_type <> y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ante, p.cons, p.cab AS n_both,
        |  floor(CAST(p.cab AS DOUBLE) / n.nu * 1000000.0 + 0.5)
        |    / 1000000.0 AS support,
        |  floor(CAST(p.cab AS DOUBLE) / ia.c * 1000000.0 + 0.5)
        |    / 1000000.0 AS confidence,
        |  floor((CAST(p.cab AS DOUBLE) * n.nu)
        |    / (CAST(ia.c AS DOUBLE) * ib.c) * 1000000.0 + 0.5)
        |    / 1000000.0 AS lift
        |FROM pair p
        |JOIN item ia ON ia.event_type = p.ante
        |JOIN item ib ON ib.event_type = p.cons
        |CROSS JOIN n
        |ORDER BY ante, cons""".stripMargin,

    "q122_markov_transitions" ->
      """WITH steps AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |cnt AS (SELECT cur, nxt, count(*) AS n FROM steps
        |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |tot AS (SELECT cur, sum(n) AS t FROM cnt GROUP BY cur)
        |SELECT cnt.cur AS cur, cnt.nxt, cnt.n,
        |  floor(CAST(cnt.n AS DOUBLE) / tot.t * 1000000.0 + 0.5)
        |    / 1000000.0 AS p
        |FROM cnt JOIN tot ON cnt.cur = tot.cur
        |ORDER BY cnt.cur, nxt""".stripMargin,

    "q119_link_prediction" ->
      """WITH act AS (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |adj AS (SELECT u AS m, v AS n FROM e
        |  UNION ALL SELECT v AS m, u AS n FROM e),
        |cand AS (SELECT a1.n AS x, a2.n AS y, count(*) AS common_neighbors
        |  FROM adj a1 JOIN adj a2 ON a1.m = a2.m AND a1.n < a2.n
        |  GROUP BY a1.n, a2.n)
        |SELECT cand.x AS a, cand.y AS b, cand.common_neighbors
        |FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.u = cand.x AND e.v = cand.y)
        |ORDER BY common_neighbors DESC, a, b LIMIT 20""".stripMargin,

    // p<q<r enumeration over id-ordered edges finds each triangle once;
    // corner explode matches the operator's per-node membership counts
    "q118_triangle_count" ->
      """WITH act AS (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |tri AS (SELECT e1.u AS p, e1.v AS q, e2.v AS r
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT unnest([p, q, r]) AS node FROM tri)
        |SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
        |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin,

    // layout-neutral: the oracle filters the ORIGINAL table — equal
    // values prove the z-ordered round trip loses and reorders nothing
    "q117_zorder_scan" ->
      """SELECT l_suppkey, count(*) AS n,
        |  floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 400
        |  AND l_suppkey BETWEEN 5 AND 15
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // ONE pass over all rows: equality with the three-way split-and-merge
    // is the algebraic-state contract under test
    "q115_incremental_agg" ->
      """SELECT user_id, count(*) AS n,
        |  floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS sum_v,
        |  min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q116_cdc_apply" ->
      """WITH ranked AS (SELECT user_id, event_id, ts, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |snap AS (SELECT user_id, value FROM ranked WHERE rn = 1),
        |chg AS (SELECT user_id, value, ts,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        |  FROM ranked WHERE rn > 1),
        |latest AS (SELECT user_id, value, op FROM (
        |    SELECT user_id, value, op,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, op DESC, value DESC) AS rn2
        |    FROM chg) t WHERE rn2 = 1)
        |SELECT COALESCE(s.user_id, l.user_id) AS user_id,
        |  COALESCE(l.value, s.value) AS value
        |FROM snap s FULL OUTER JOIN latest l ON s.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY user_id""".stripMargin,

    "q107_scd2" ->
      """WITH m AS (SELECT user_id, event_type, ts,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_type) AS prev
        |  FROM events),
        |c AS (SELECT user_id, event_type, ts FROM m
        |  WHERE prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS valid_from,
        |  CAST(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_type) AS TIMESTAMP) AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_type)) IS NULL AS is_current
        |FROM c
        |ORDER BY user_id, valid_from, event_type""".stripMargin,

    "q108_rolling_range" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  count(*) OVER w AS n_win,
        |  floor(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS sum_win
        |FROM events
        |WHERE user_id % 97 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q173_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part),
        |p AS (SELECT a.p_name AS a, b.p_name AS b,
        |    floor(jaro_winkler_similarity(a.p_name, b.p_name)
        |      * 1000000.0 + 0.5) / 1000000.0 AS jw
        |  FROM n a JOIN n b ON a.p_name < b.p_name)
        |SELECT a, b, jw FROM p WHERE jw >= 0.5 ORDER BY a, b""".stripMargin,

    "q174_sorted_neighborhood" ->
      """WITH k AS (SELECT doc_id,
        |    substr(regexp_replace(lower(substr(text, 1, 60)),
        |      '[^a-z ]', '', 'g'), 1, 40) AS key
        |  FROM documents),
        |b AS (SELECT doc_id, key, substr(key, 1, 2) AS blk FROM k),
        |l AS (SELECT blk, key,
        |    lag(key) OVER (PARTITION BY blk ORDER BY key, doc_id) AS prev
        |  FROM b)
        |SELECT blk AS block, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN prev IS NOT NULL
        |    AND levenshtein(key, prev) <= 10 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_close
        |FROM l GROUP BY blk HAVING count(*) >= 2
        |ORDER BY block""".stripMargin,

    "q175_er_clusters" ->
      """WITH k AS (SELECT doc_id,
        |    substr(regexp_replace(lower(substr(text, 1, 60)),
        |      '[^a-z ]', '', 'g'), 1, 40) AS key
        |  FROM documents),
        |b AS (SELECT doc_id, key, substr(key, 1, 2) AS blk FROM k),
        |l AS (SELECT blk, key, doc_id,
        |    lag(key) OVER (PARTITION BY blk ORDER BY key, doc_id) AS prev
        |  FROM b),
        |c AS (SELECT blk, key, doc_id,
        |    CASE WHEN prev IS NULL OR levenshtein(key, prev) > 10
        |      THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |cl AS (SELECT blk,
        |    CAST(sum(brk) OVER (PARTITION BY blk ORDER BY key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cluster
        |  FROM c),
        |sz AS (SELECT blk, cluster, count(*) AS sz
        |  FROM cl GROUP BY blk, cluster)
        |SELECT blk AS block, CAST(sum(sz) AS BIGINT) AS n_docs,
        |  count(*) AS n_clusters, CAST(max(sz) AS BIGINT) AS max_cluster,
        |  CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_multi
        |FROM sz GROUP BY blk HAVING sum(sz) >= 2
        |ORDER BY block""".stripMargin,

    "q195_length_power_law" ->
      """WITH census AS (SELECT
        |    CAST(floor(log2(CAST(n_chars AS DOUBLE))) AS BIGINT) AS b,
        |    count(*) AS c
        |  FROM documents GROUP BY 1),
        |f AS (SELECT b, c, ln(CAST(c AS DOUBLE)) AS y,
        |    CAST(b AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS t
        |  FROM census WHERE c >= 5),
        |a AS (SELECT count(*) AS n,
        |    CAST(sum(b) AS BIGINT) AS sx,
        |    CAST(sum(b * b) AS BIGINT) AS sxx,
        |    list_sum(list(y ORDER BY b)) AS sy,
        |    list_sum(list(t ORDER BY b)) AS sxy
        |  FROM f),
        |sl AS (SELECT n, sx, sy,
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |  FROM a)
        |SELECT n AS n_buckets,
        |  floor(slope * 10000.0 + 0.5) / 10000.0 AS slope,
        |  floor((sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |    * 10000.0 + 0.5) / 10000.0 AS intercept
        |FROM sl""".stripMargin,

    "q196_vocab_zipf" ->
      """WITH v AS (SELECT t AS token, count(*) AS cnt
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)),
        |      '\s+')) AS t FROM documents)
        |  WHERE t <> '' GROUP BY t ORDER BY cnt DESC, token LIMIT 50),
        |r AS (SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token) AS rank
        |  FROM v),
        |x AS (SELECT rank, ln(CAST(rank AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM r),
        |a AS (SELECT count(*) AS n,
        |    list_sum(list(x ORDER BY rank)) AS sx,
        |    list_sum(list(y ORDER BY rank)) AS sy,
        |    list_sum(list(x * y ORDER BY rank)) AS sxy,
        |    list_sum(list(x * x ORDER BY rank)) AS sxx
        |  FROM x)
        |SELECT n AS n_terms,
        |  floor((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sxx - sx * sx)
        |    * 10000.0 + 0.5) / 10000.0 AS zipf_slope
        |FROM a""".stripMargin,

    "q201_damerau_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS a, b.p_name AS b,
        |  CAST(damerau_levenshtein(a.p_name, b.p_name) AS INT) AS dl,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 5
        |ORDER BY a, b""".stripMargin,

    "q309_kcore" -> kCoreUnrolledSql(k = 2, rounds = 8),

    "q314_label_propagation" -> lpaUnrolledSql(rounds = 3),

    "q320_ktruss" -> kTrussUnrolledSql(k = 3, rounds = 4),

    "q323_katz_centrality" ->
      """WITH act AS MATERIALIZED (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', ts) AS h FROM events),
        |e AS MATERIALIZED (SELECT DISTINCT a.user_id AS a, b.user_id AS b
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e
        |  UNION ALL SELECT b, a FROM e),
        |p1 AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS c
        |  FROM sym GROUP BY 1),
        |p2 AS MATERIALIZED (SELECT s.u, CAST(sum(p.c) AS BIGINT) AS c
        |  FROM sym s JOIN p1 p ON s.v = p.u GROUP BY 1),
        |p3 AS MATERIALIZED (SELECT s.u, CAST(sum(p.c) AS BIGINT) AS c
        |  FROM sym s JOIN p2 p ON s.v = p.u GROUP BY 1)
        |SELECT p1.u AS user_id, p1.c AS degree,
        |  floor((0.1 * CAST(p1.c AS DOUBLE)
        |    + 0.1 * 0.1 * CAST(coalesce(p2.c, 0) AS DOUBLE)
        |    + 0.1 * 0.1 * 0.1 * CAST(coalesce(p3.c, 0) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS katz
        |FROM p1 LEFT JOIN p2 ON p1.u = p2.u
        |LEFT JOIN p3 ON p1.u = p3.u
        |ORDER BY user_id""".stripMargin,

    // the oracle pins the accuracy booleans TRUE: exact counts are
    // engine-independent, and the sketch bound is the engine's claim
    "q343_cms_accuracy" ->
      """SELECT count(DISTINCT user_id) AS keys_checked,
        |CAST(0 AS BIGINT) AS out_of_bound FROM events""".stripMargin,

    // value-neutrality: the compacted read-back must hash-equal the
    // original projection, row for row
    "q344_compact_roundtrip" ->
      """SELECT event_id, user_id, value FROM events
        |ORDER BY event_id""".stripMargin,

    // persisted-edge probe == inline build (q54-vs-q45 contract): q118's
    // oracle verbatim — the bucketed round trip must be value-neutral
    "q345_triangles_persisted" ->
      """WITH act AS (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |tri AS (SELECT e1.u AS p, e1.v AS q, e2.v AS r
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT unnest([p, q, r]) AS node FROM tri)
        |SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
        |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin,

    // q290's oracle verbatim: the component census from the persisted
    // edge table equals the inline co-activity build
    "q346_components_persisted" ->
      """WITH RECURSIVE
        |act AS (SELECT DISTINCT user_id, event_type,
        |    date_trunc('minute', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |e AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
        |  FROM act a JOIN act b ON a.event_type = b.event_type
        |    AND a.h = b.h AND a.user_id < b.user_id),
        |edges AS (SELECT u AS s, v AS d FROM e
        |  UNION ALL SELECT v, u FROM e),
        |nodes AS (SELECT DISTINCT user_id FROM events),
        |reach(id, comp) AS (
        |  SELECT user_id, user_id FROM nodes
        |  UNION
        |  SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
        |cmp AS (SELECT id, min(comp) AS c FROM reach GROUP BY id),
        |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS sz
        |  FROM cmp GROUP BY 1)
        |SELECT CAST(sum(sz) AS BIGINT) AS n_nodes,
        |  CAST(count(*) AS BIGINT) AS n_components,
        |  CAST(max(sz) AS BIGINT) AS giant_size,
        |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_isolated,
        |  floor(CAST(max(sz) AS DOUBLE) / CAST(sum(sz) AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS giant_share
        |FROM sz""".stripMargin,

    // exact brute-force screen: each odd (batch) doc's best even (corpus)
    // match at word-shingle jaccard >= 0.5 — the LSH index + estimate
    // prefilter must be candidate-complete above the verify threshold, so
    // the verified best-match answer equals brute force (q41's contract)
    "q347_neardup_index_probe" ->
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
        |  SELECT b.doc_id AS doc_id, c.doc_id AS dup_of,
        |    floor(CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(b.sh, c.sh)))
        |      * 10000.0 + 0.5) / 10000.0 AS jac
        |  FROM g b JOIN g c ON b.doc_id % 2 = 1 AND c.doc_id % 2 = 0),
        |r AS (
        |  SELECT doc_id, dup_of, jac,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY jac DESC, dup_of) AS rn
        |  FROM p WHERE jac >= 0.5)
        |SELECT doc_id, dup_of, jac FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin
  )

  /** q320 oracle: synchronous support peeling unrolled — round i keeps
    * only edges whose common-neighbor count within e(i-1) is ≥ k−2
    * (the inner join against the support table drops support-0 edges by
    * construction). The final select recomputes support on the converged
    * edge set.
    */
  private def kTrussUnrolledSql(k: Int, rounds: Int): String = {
    def supSql(i: Int): String =
      s"""sym$i AS MATERIALIZED (SELECT a AS u, b AS v FROM e$i
         |  UNION ALL SELECT b, a FROM e$i),
         |sup$i AS MATERIALIZED (SELECT e.a, e.b, count(*) AS sup
         |  FROM e$i e JOIN sym$i x ON x.u = e.a
         |  JOIN sym$i y ON y.u = e.b AND y.v = x.v
         |  GROUP BY e.a, e.b),""".stripMargin
    val steps = (1 to rounds).map { i =>
      supSql(i - 1) + "\n" +
      s"""e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN sup${i - 1} s ON s.a = e.a AND s.b = e.b
         |    AND s.sup >= ${k - 2}),""".stripMargin
    }.mkString("\n")
    s"""WITH act AS MATERIALIZED (SELECT DISTINCT user_id, event_type,
       |    date_trunc('minute', ts) AS h FROM events),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS a, b.user_id AS b
       |  FROM act a JOIN act b ON a.event_type = b.event_type
       |    AND a.h = b.h AND a.user_id < b.user_id),
       |$steps
       |${supSql(rounds)}
       |fin AS (SELECT 1 AS _one)
       |SELECT e.a AS user_a, e.b AS user_b,
       |  CAST(coalesce(s.sup, 0) AS BIGINT) AS support
       |FROM e$rounds e LEFT JOIN sup$rounds s
       |  ON s.a = e.a AND s.b = e.b
       |WHERE coalesce(s.sup, 0) >= ${k - 2}
       |ORDER BY user_a, user_b""".stripMargin
  }

  /** q314 oracle: the synchronous LPA rounds unrolled — each round every
    * node simultaneously takes its neighbors' (count desc, label asc)
    * argmax label from the PREVIOUS round's frame; isolated nodes keep
    * their own. QUALIFY keeps the max-count labels, min() breaks ties.
    */
  private def lpaUnrolledSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT n.u, coalesce(v.lab, n.u) AS lab
         |  FROM nodes n LEFT JOIN (
         |    SELECT u, min(lab) AS lab FROM (
         |      SELECT s.u, l.lab, count(*) AS c
         |      FROM sym s JOIN l${i - 1} l ON s.v = l.u
         |      GROUP BY s.u, l.lab
         |      QUALIFY c = max(c) OVER (PARTITION BY s.u))
         |    GROUP BY u) v ON n.u = v.u),"""
        .stripMargin
    }.mkString("\n")
    s"""WITH act AS MATERIALIZED (SELECT DISTINCT user_id, event_type,
       |    date_trunc('minute', ts) AS h FROM events),
       |e AS MATERIALIZED (SELECT DISTINCT a.user_id AS a, b.user_id AS b
       |  FROM act a JOIN act b ON a.event_type = b.event_type
       |    AND a.h = b.h AND a.user_id < b.user_id),
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e
       |  UNION ALL SELECT b, a FROM e),
       |nodes AS MATERIALIZED (SELECT DISTINCT user_id AS u FROM events),
       |l0 AS MATERIALIZED (SELECT u, u AS lab FROM nodes),
       |$steps
       |sel AS (SELECT u, lab FROM l$rounds)
       |SELECT u AS user_id, CAST(lab AS BIGINT) AS community
       |FROM sel ORDER BY user_id""".stripMargin
  }

  /** q309 oracle: the synchronous peel unrolled — round i drops every
    * node whose degree in e(i-1) is < k, then keeps only edges between
    * survivors. `rounds` must cover the gate data's peel depth; rounds
    * past convergence are no-ops, so overshooting is safe (and cheap —
    * the edge set has stopped shrinking).
    */
  private def kCoreUnrolledSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT n FROM (SELECT n, count(*) AS dg
         |    FROM (SELECT a AS n FROM e${i - 1}
         |      UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1)
         |  WHERE dg >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT n FROM s$i) AND b IN (SELECT n FROM s$i)),"""
        .stripMargin
    }.mkString("\n")
    s"""WITH act AS MATERIALIZED (SELECT DISTINCT user_id, event_type,
       |    date_trunc('minute', ts) AS h FROM events),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.user_id AS a, b.user_id AS b
       |  FROM act a JOIN act b ON a.event_type = b.event_type
       |    AND a.h = b.h AND a.user_id < b.user_id),
       |$peels
       |core AS (SELECT n, count(*) AS dg
       |  FROM (SELECT a AS n FROM e$rounds
       |    UNION ALL SELECT b FROM e$rounds) GROUP BY 1)
       |SELECT n AS user_id, CAST(dg AS BIGINT) AS core_degree
       |FROM core WHERE dg >= $k ORDER BY user_id""".stripMargin
  }

  /** Shared oracle prefix for q112/q113: the full PQ training replay —
    * the q81 snapped-Lloyd kmeans replay with `sub` as one more grouping
    * key (8 sub-spaces × 16 codes × 2 rounds), ending in `sf` =
    * (vec_id, sub, code, dd) final assignments. Every float fold is an
    * in-list-order sum, mirroring the Spark side's ordered
    * `aggregate(zip_with(...))`.
    */
  /** Generated oracle for q126: the 5 BPE merge rounds unrolled — each
    * round re-derives the winning pair over the previous round's symbol
    * strings and applies the same sentinel-space `replace`. Built
    * programmatically because the rounds are strictly mechanical.
    */
  private lazy val bpeMergeSql: String = {
    val init =
      """WITH vocab AS (SELECT w, count(*) AS f FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |v0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ')
        |    || ' ' AS s, f FROM vocab)""".stripMargin
    val rounds = (1 to 5).map { i =>
      s""",
         |p$i AS (SELECT split_part(pr, ' ', 1) AS l,
         |    split_part(pr, ' ', 2) AS r, sum(f) AS n
         |  FROM (SELECT f, unnest(list_transform(range(1, len(sy)),
         |      j -> sy[j] || ' ' || sy[j + 1])) AS pr
         |    FROM (SELECT string_split(trim(s), ' ') AS sy, f
         |          FROM v${i - 1}) t1) t2
         |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
         |v$i AS (SELECT replace(s,
         |    ' ' || (SELECT l FROM p$i) || ' ' || (SELECT r FROM p$i) || ' ',
         |    ' ' || (SELECT l FROM p$i) || (SELECT r FROM p$i) || ' ') AS s,
         |    f FROM v${i - 1})""".stripMargin
    }.mkString
    val finals = (1 to 5).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"l || r AS merged, CAST(n AS BIGINT) AS pair_count FROM p$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_rank")
    init + rounds + finals
  }

  // lazy: declared below the `sql` map that references it, so a strict val
  // would still be null during the map's initialization
  private lazy val pqTrainSql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |subs AS (SELECT unnest(range(0, 8)) AS sub),
      |sv AS (SELECT vec_id, sub, e[sub*8+1 : sub*8+8] AS s
      |  FROM v CROSS JOIN subs),
      |seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
      |  FROM (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
      |c0 AS (SELECT sv.sub, seed.code, sv.s AS ce
      |  FROM sv JOIN seed ON sv.vec_id = seed.vec_id),
      |a0 AS (SELECT sv.vec_id, sv.sub, sv.s, c.code,
      |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
      |      ORDER BY list_sum(list_transform(range(1, 9),
      |        i -> (sv.s[i] - c.ce[i])^2)), c.code) AS rn
      |  FROM sv JOIN c0 c ON sv.sub = c.sub),
      |s0 AS (SELECT vec_id, sub, s, code FROM a0 WHERE rn = 1),
      |u0 AS (SELECT sub, code, pos,
      |    floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS mn
      |  FROM (SELECT sub, code, generate_subscripts(s, 1) AS pos,
      |        unnest(s) AS x FROM s0) t
      |  GROUP BY sub, code, pos),
      |n0 AS (SELECT sub, code, list(mn ORDER BY pos) AS ce FROM u0
      |  GROUP BY sub, code),
      |c1 AS (SELECT c0.sub, c0.code, coalesce(n0.ce, c0.ce) AS ce
      |  FROM c0 LEFT JOIN n0 ON c0.sub = n0.sub AND c0.code = n0.code),
      |a1 AS (SELECT sv.vec_id, sv.sub, sv.s, c.code,
      |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
      |      ORDER BY list_sum(list_transform(range(1, 9),
      |        i -> (sv.s[i] - c.ce[i])^2)), c.code) AS rn
      |  FROM sv JOIN c1 c ON sv.sub = c.sub),
      |s1 AS (SELECT vec_id, sub, s, code FROM a1 WHERE rn = 1),
      |u1 AS (SELECT sub, code, pos,
      |    floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS mn
      |  FROM (SELECT sub, code, generate_subscripts(s, 1) AS pos,
      |        unnest(s) AS x FROM s1) t
      |  GROUP BY sub, code, pos),
      |n1 AS (SELECT sub, code, list(mn ORDER BY pos) AS ce FROM u1
      |  GROUP BY sub, code),
      |c2 AS (SELECT c1.sub, c1.code, coalesce(n1.ce, c1.ce) AS ce
      |  FROM c1 LEFT JOIN n1 ON c1.sub = n1.sub AND c1.code = n1.code),
      |af AS (SELECT sv.vec_id, sv.sub, c.code,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (sv.s[i] - c.ce[i])^2)) AS dd,
      |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
      |      ORDER BY list_sum(list_transform(range(1, 9),
      |        i -> (sv.s[i] - c.ce[i])^2)), c.code) AS rn
      |  FROM sv JOIN c2 c ON sv.sub = c.sub),
      |sf AS (SELECT vec_id, sub, code, dd FROM af WHERE rn = 1)
      |""".stripMargin
}
