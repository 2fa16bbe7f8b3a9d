package graft

import graft.core.Tables
import graft.queries.RelationalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the engine's queries must produce the plans a
  * 100 TB deployment needs — parquet filter/column pushdown, broadcast
  * joins for dimensions, map-side partial aggregation, and top-k without a
  * global sort. Catching a plan regression here is as important as a value
  * regression.
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01: filter and projection push into the parquet scan") {
    val p = plan(RelationalQueries.defs("q01_scan_filter")(spark, d))
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThan(l_quantity,30") ||
        p.contains("GreaterThan(l_quantity, 30")),
      s"quantity filter must reach the scan:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_comment"), "unused columns pruned from ReadSchema")
    // 4 projected + 2 filter columns only
    assert(!p.contains("l_partkey"), "column pruning: l_partkey not read")
  }

  test("q07: dimension joins broadcast; no shuffle for nation/region") {
    val p = plan(RelationalQueries.defs("q07_multiway_join_agg")(spark, d))
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    // the fact side must flow scan → broadcast joins → partial agg with NO
    // join shuffle: every exchange in the plan belongs to the aggregate or
    // the final ordering, never to a join input
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no join may shuffle the fact table:\n$p")
  }

  test("q13: aggregation is partial (map-side combine) then final") {
    val p = plan(RelationalQueries.defs("q13_multi_agg")(spark, d))
    assert(p.contains("HashAggregate"), "hash aggregate selected")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial + final aggregation phases present")
  }

  test("co-bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val a = (1L to 500L).map(i => (i % 40, i, i * 1.5)).toDF("k", "ida", "va")
    val b = (1L to 300L).map(i => (i % 40, i, i * 2.5)).toDF("k", "idb", "vb")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.operators.Exporter.writeBucketed(a, "bkt_a", Seq("k"), 4,
        sortCols = Seq("k"))
      graft.operators.Exporter.writeBucketed(b, "bkt_b", Seq("k"), 4,
        sortCols = Seq("k"))
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$p")
      assert(joined.count() == (1L to 500L).flatMap(i =>
        (1L to 300L).filter(j => j % 40 == i % 40)).size)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      graft.operators.Exporter.dropBucketed(spark, "bkt_a")
      graft.operators.Exporter.dropBucketed(spark, "bkt_b")
    }
  }

  test("writeBucketed overwrites an orphaned warehouse dir (fresh-catalog idempotence)") {
    import spark.implicits._
    // Reproduce the cross-JVM failure mode: the in-memory catalog has never
    // heard of the table, but its managed location survives on disk (what a
    // previous session's write leaves behind). saveAsTable(overwrite) alone
    // dies with LOCATION_ALREADY_EXISTS here — writeBucketed must clear it.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val stale = java.nio.file.Paths.get(wh, "bkt_idem")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.writeString(stale.resolve("orphan.txt"), "stale")
    try {
      val df = (1L to 50L).map(i => (i % 5, i)).toDF("k", "v")
      graft.operators.Exporter.writeBucketed(df, "bkt_idem", Seq("k"), 2)
      assert(spark.table("bkt_idem").count() == 50)
      // and again in the SAME session (catalog-known overwrite path)
      graft.operators.Exporter.writeBucketed(df, "bkt_idem", Seq("k"), 2)
      assert(spark.table("bkt_idem").count() == 50)
    } finally {
      graft.operators.Exporter.dropBucketed(spark, "bkt_idem")
    }
    assert(!java.nio.file.Files.exists(stale),
      "dropBucketed must remove the on-disk location")
  }

  test("exact dedup reduces duplicates map-side, no window over all rows") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.exact(df, "doc_id", "text"))
    // two aggregation phases around one exchange: a hot duplicate
    // collapses inside each scan task before it is shuffled
    assert("Aggregate".r.findAllIn(p).length >= 2,
      s"partial + final min_by phases expected:\n$p")
    assert(!p.contains("Window"),
      s"dedup must not sort every row through a window:\n$p")
  }

  test("paragraph dedup collapses duplicates map-side, no window over paragraphs") {
    import spark.implicits._
    val df = Seq((1L, "a\n\nb"), (2L, "b\n\nc")).toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.paragraphDedup(df, "doc_id", "text"))
    assert("Aggregate".r.findAllIn(p).length >= 2,
      s"partial + final min_by phases expected:\n$p")
    assert(!p.contains("Window"),
      s"keeper choice must not sort every paragraph copy through a window:\n$p")
  }

  test("q11: range self-join keys include the time bucket (skew-bounded)") {
    val p = plan(RelationalQueries.defs("q11_range_self_join")(spark, d))
    // the equi-join must run on (user_id, bucket), not user_id alone —
    // otherwise pair enumeration is quadratic in events-per-user
    assert(p.contains("_bkt"), s"bucket column must appear in the plan:\n$p")
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("u1"))
      .getOrElse("")
    assert(joinLine.contains("_bkt"),
      s"join condition must include the bucket key:\n$joinLine\n$p")
  }

  test("q24: global top-k avoids a full sort (TakeOrderedAndProject)") {
    val p = plan(RelationalQueries.defs("q24_global_topk")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT+ORDER BY must use per-partition top-k:\n$p")
  }

  test("q52: benchmark shingle set broadcasts into the contamination join") {
    val p = plan(graft.queries.ExtensionQueries.defs("q52_contamination")(spark, d))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"bench set must broadcast; corpus stays un-shuffled through the join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"contamination must never sort-merge the corpus:\n$p")
  }

  test("q50: vocabulary top-k is partial-aggregated and sort-free") {
    val p = plan(graft.queries.ExtensionQueries.defs("q50_vocab_topk")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k must not global-sort the token census:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"hot tokens must collapse map-side before the shuffle:\n$p")
  }

  test("persisted IVF probe scans only the probed list partitions") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
    val table = "bkt_ivf_planspec"
    try {
      graft.operators.Similarity.buildIvfIndex(emb, table, "vec_id",
        "embedding", nLists = 8, iterations = 1, sampleFraction = 0.5)
      // the index must have more lists on disk than a bounded probe touches
      val loc = graft.operators.Exporter.managedLocation(spark, table)
      val listDirs = new java.io.File(loc.toUri).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("ivf_list="))
      assert(listDirs > 2, s"expected >2 populated lists, got $listDirs")
      val probe = graft.operators.Similarity.ivfProbe(spark, table,
        emb.filter($"vec_id" === 1), "vec_id", "embedding", k = 3, nProbe = 2)
      val p = plan(probe)
      // the CORPUS scan (the catalog table) must carry the list filter —
      // the query-side scan has no partition columns at all
      val pf = p.linesIterator
        .find(l => l.contains(table) && l.contains("PartitionFilters"))
        .getOrElse("")
      assert(pf.contains("ivf_list"),
        s"probe scan must prune on the list partition column:\n$p")
      // the pruning predicate carries at most nProbe list ids (single
      // query => exactly its nProbe nearest lists)...
      val inVals = "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf).map(_.group(1))
      val nPruned = inVals.map(_.split(",").length)
        .getOrElse(if (pf.contains(" = ")) 1 else Int.MaxValue)
      assert(nPruned <= 2,
        s"probe must touch at most nProbe=2 partitions, got $nPruned:\n$pf")
      // ...and the scan's file index lists only the pruned directories
      val nPaths = "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findFirstMatchIn(pf).map(_.group(1).toInt).getOrElse(Int.MaxValue)
      assert(nPaths <= 2,
        s"file index must list only the probed list dirs:\n$pf")
      assert(probe.count() == 3, "bounded probe still returns full top-k")
    } finally graft.operators.Similarity.dropIvfIndex(spark, table)
  }

  /** The lambda functions in `df`'s optimized plan. */
  private def lambdas(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l.sql
    })

  test("LSH, IVF, k-means and MinHash paths run no interpreted lambdas") {
    // higher-order functions evaluate their lambdas per element outside
    // whole-stage codegen; these per-row hot paths use native kernels
    val emb = Tables.embeddings(spark, d)
    val docs = Tables.documents(spark, d)
    val table = "bkt_ivf_lambda_planspec"
    try {
      val cents = graft.operators.Similarity.buildIvfIndex(emb, table, "vec_id",
        "embedding", nLists = 4, iterations = 1)
      val paths = Seq(
        "lshNearPairs" -> graft.operators.Similarity.lshNearPairs(emb,
          "vec_id", "embedding", dim = cents.head.length, threshold = 0.9),
        "trainCentroids update" -> graft.operators.Similarity.lloydUpdate(
          emb.select(col("embedding").cast("array<double>").as("_v")), cents),
        "ivfProbe" -> graft.operators.Similarity.ivfProbe(spark, table,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, nProbe = 2),
        "withMinHash" -> graft.operators.Dedup.withMinHash(docs, "doc_id",
          "text", numHashes = 64, bands = 16, shingleSize = 5),
        "minHashLshPairs" -> graft.operators.Dedup.minHashLshPairs(docs,
          "doc_id", "text"))
      for ((name, df) <- paths)
        assert(lambdas(df).isEmpty, s"$name plans lambdas: ${lambdas(df)}")
      // each band-join side computes its signatures once: posexplode would
      // infer a `size(bands) > 0` filter below the signature projection
      // and run tokenize + MinHash a second time per document
      val join = paths.toMap.apply("minHashLshPairs").queryExecution
        .optimizedPlan.collectFirst {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.get
      for (side <- Seq(join.left, join.right)) {
        val sigs = "minhash_sig".r.findAllIn(side.toString).length
        assert(sigs == 1, s"expected one signature pass per side, got $sigs:\n$side")
      }
    } finally graft.operators.Similarity.dropIvfIndex(spark, table)
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val p = plan(Tables.lineitem(spark, d)
      .filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), (col("l_extendedprice") * 2).as("x")))
    // the "*(n)" prefix marks WholeStageCodegen stages in toString
    assert(p.contains("*(1)"), s"codegen active:\n$p")
    assert(p.contains("Batched: true"), "vectorized parquet read")
  }

  test("events reader prunes columns through the ns-timestamp conversion") {
    val p = plan(Tables.events(spark, d).select("event_id", "user_id"))
    assert(!p.contains("props"), "unused string column not read")
  }

  test("q57: bloom screen precedes the anti-join; the definite-new side never shuffles") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q57_incremental_dedup")(spark, d))
    assert(p.contains("bloom_might_contain"),
      s"native bloom predicate must appear as a scan-side filter:\n$p")
    assert(p.contains("LeftAnti"), s"exact anti-join backstop present:\n$p")
    // the NOT-might-contain branch is filter → union: no exchange may sit
    // between its parquet scan and the union
    assert(p.contains("Union"), s"two-branch split present:\n$p")
  }

  test("q58: mixture rates broadcast back; counts partial-aggregate") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q58_mixture_sample")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"rates must broadcast into the filter join:\n$p")
    assert("partial_count".r.findAllIn(p).nonEmpty,
      s"group counting must partial-aggregate map-side:\n$p")
  }

  test("q61: shingle document-frequency partial-aggregates before any join") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q61_ngram_novelty")(spark, d))
    assert("partial_count".r.findAllIn(p).nonEmpty,
      s"DF counting must map-side combine (hot shingles collapse):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"novelty join must stay an equi-join:\n$p")
  }

  test("q67: centroid aggregation partial-aggregates; centroids broadcast back") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q67_label_outliers")(spark, d))
    assert("partial_avg".r.findAllIn(p).nonEmpty,
      s"position-keyed centroid avg must map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"labels x dim centroid frame must broadcast, vectors never shuffle:\n$p")
  }

  test("q66: stratified top-k never windows a bare stratum over the raw scan") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q66_stratified_topk")(spark, d))
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.length == 2, s"two-phase top-k expects two windows:\n$p")
    // parents print first: the bare-stratum window (no _skb in its
    // partition spec) must sit ABOVE the (stratum, sub-bucket) window —
    // i.e. it ranks only the ≤ B·k pre-filtered survivors, while the
    // window that touches every scanned row is sub-bucket-parallel and
    // immune to a dominant stratum
    val bareIdx = winLines.indexWhere(l => !l.contains("_skb"))
    val bktIdx = winLines.indexWhere(_.contains("_skb"))
    assert(bktIdx >= 0, s"pre-phase window must partition on (stratum, _skb):\n$p")
    assert(bareIdx >= 0 && bareIdx < bktIdx,
      s"the raw-scan window must include the sub-bucket key:\n$p")
    // and the pre-phase k-filter sits between them
    assert(p.contains("_prn"), s"pre-phase rank filter expected:\n$p")
  }

  test("q88: weighted sample plans TakeOrderedAndProject, never a global sort") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q88_weighted_sample")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must be per-partition + driver merge:\n$p")
    // the only full Sort allowed is the final presentation ORDER BY over
    // the 200 selected rows — the selection itself must not sort the corpus
    val sortsBelowTake = p.linesIterator
      .dropWhile(!_.contains("TakeOrderedAndProject"))
      .count(_.trim.startsWith("+- Sort"))
    assert(sortsBelowTake == 0,
      s"no sort may feed the top-k selection:\n$p")
  }

  test("q90: token-budget prefix sum windows on (group, bucket), never the bare group") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q90_token_budget")(spark, d))
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty, s"expected the cumsum window:\n$p")
    assert(winLines.forall(_.contains("_bkt")),
      s"every window must include the hash sub-bucket in its partition spec:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back, not shuffle the corpus:\n$p")
  }

  test("q87: boilerplate strip is a broadcast anti-join on the small hot set") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q87_boilerplate_lines")(spark, d))
    assert(p.contains("LeftAnti"), s"hot lines removed via anti-join:\n$p")
    // DF counting must partial-aggregate (map-side collapse of repeated
    // lines) before any exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"line document-frequency needs partial + final phases:\n$p")
  }

  test("q98: profile reads the relation through ONE scan (Expand, not re-scans)") {
    val p = plan(RelationalQueries.defs("q98_column_profile")(spark, d))
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"6 distinct-counts must share a single scan via Expand:\n$p")
    assert(p.contains("Expand"),
      s"multi-distinct should plan Spark's Expand rewrite:\n$p")
  }

  test("q99: cohort matrix is pure keyed aggregation — no window anywhere") {
    val p = plan(RelationalQueries.defs("q99_cohort_retention")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"cohorting must not sort user histories through a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cohort join must stay a keyed equi-join:\n$p")
  }

  test("q101: TWAP windows on the user key, never a global order") {
    val winLines = plan(graft.queries.WindowQueries
      .defs("q101_twap")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty)
    assert(winLines.forall(_.contains("user_id")),
      s"lead() must partition by user_id:\n${winLines.mkString("\n")}")
  }

  test("q102: levenshtein is the LAST conjunct in the pair-join condition") {
    // The O(|a|·|b|) DP must run only on pairs surviving the cheap prunes
    // (doc_id order, lossless length-ratio). Catalyst pushes the filter
    // into the BHJ condition preserving written order and the condition
    // short-circuits — r8 shipped the DP first and paid 11 s for a 0.4 s
    // query. Pin: in the join line, levenshtein appears after both prunes.
    val joinLine = plan(graft.queries.ExtensionQueries
      .defs("q102_edit_distance")(spark, d))
      .linesIterator.find(_.contains("BroadcastHashJoin")).getOrElse(
        fail("q102 must plan a broadcast hash join on the prefix block"))
    val lev = joinLine.indexOf("levenshtein")
    assert(lev >= 0, s"levenshtein must evaluate inside the join:\n$joinLine")
    assert(joinLine.indexOf("<") < lev && joinLine.indexOf("least") < lev,
      s"cheap prunes must short-circuit before the DP:\n$joinLine")
  }

  test("q105: PMI top-k plans TakeOrderedAndProject, never a global sort") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q105_pmi_collocations")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not materialize a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"count joins must stay keyed:\n$p")
  }

  test("q106: inverted index is pure keyed aggregation — no window") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q106_inverted_index")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"postings must come from aggregation, not a per-term sort window:\n$p")
  }

  test("q109: de-correlated subqueries stay keyed equi-joins") {
    val p = plan(graft.queries.RelationalQueries
      .defs("q109_correlated_subquery")(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"Catalyst must rewrite the correlated scalars to keyed joins:\n$p")
  }

  test("q113: ADC ranking is a query-keyed window, no cartesian anywhere") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q113_pq_adc_topk")(spark, d))
    assert(!p.contains("CartesianProduct"),
      s"codes join the per-query table on (sub, code) — keyed:\n$p")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.exists(_.contains("qid")),
      s"top-k must rank within each query's partition:\n${winLines.mkString("\n")}")
    // every window in the plan is keyed (qid ranking or (_id, sub) assign)
    assert(winLines.forall(l => l.contains("qid") || l.contains("_id")),
      s"no keyless window may appear:\n${winLines.mkString("\n")}")
  }

  test("q107/q108: history + rolling windows partition on the entity key") {
    for (q <- Seq("q107_scd2", "q108_rolling_range")) {
      val winLines = plan(graft.queries.ExtensionQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty, s"$q must plan window functions")
      assert(winLines.forall(_.contains("user_id")),
        s"$q windows must partition by user_id (key-parallel):\n" +
          winLines.mkString("\n"))
    }
  }

  test("q104: PageRank rounds are keyed equi-joins, no cartesian, no global agg") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q104_pagerank")(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rank propagation must join on node keys only:\n$p")
    assert(!p.contains("Exchange SinglePartition") ||
      p.indexOf("Exchange SinglePartition") > p.indexOf("Sort"),
      s"no single-partition exchange may feed the rank math:\n$p")
  }

  test("q68: unigram-LM join probes the (doc,term) aggregate, not the explode") {
    val root = graft.queries.ExtensionQueries
      .defs("q68_unigram_logprob")(spark, d)
      .queryExecution.executedPlan
    // AdaptiveSparkPlanExec is a leaf wrapper — traverse its inner plan
    val exec = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // every hash-join in the plan must see an aggregate between itself and
    // any explode: the occurrence stream (one row per token, "the"-skewed)
    // must never be a join input — only the distinct doc-term collapse
    import org.apache.spark.sql.execution.SparkPlan
    def aggBetween(n: SparkPlan, seenAgg: Boolean): Boolean = n match {
      case _: org.apache.spark.sql.execution.GenerateExec => seenAgg
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.children.forall(aggBetween(_, seenAgg = true))
      case other => other.children.forall(aggBetween(_, seenAgg))
    }
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, s"expected join nodes:\n$exec")
    for (j <- joins; side <- j.children)
      assert(aggBetween(side, seenAgg = false),
        s"join input reaches an explode without an aggregate:\n$exec")
  }

  test("q74: heavy-hitter verify pass is a scan-side InSet filter, never a join") {
    val root = graft.queries.ExtensionQueries
      .defs("q74_heavy_hitters")(spark, d)
      .queryExecution.executedPlan
    val exec = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // the candidate membership test must be a broadcast-free predicate on
    // the scan side (isin over the collected sketch → Catalyst InSet);
    // joining a candidate table instead would re-shuffle the occurrence
    // stream the sketch exists to avoid
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"verify pass must not join:\n$exec")
    assert(exec.toString.contains("INSET") || exec.toString.contains(" IN "),
      s"candidate filter compiles to a set-membership predicate:\n$exec")
    // and the count still partial-aggregates map-side before its shuffle
    assert(exec.toString.contains("partial_count"),
      s"exact count partial-aggregates:\n$exec")
  }

  test("misra_gries_keys aggregates via ObjectHashAggregate, map-side partials") {
    graft.plans.GraftExtensions.register(spark)
    val docs = Tables.documents(spark, d)
    val agg = docs
      .select(transform(graft.operators.TextAnalysis.tokens(col("text")),
        t => xxhash64(t)).as("_wh"))
      .agg(expr("misra_gries_keys(_wh, 64)"))
    val p = plan(agg)
    assert(p.contains("ObjectHashAggregate"),
      s"typed-imperative sketch must use the object hash aggregate:\n$p")
    assert(p.contains("partial_misra_gries_keys") ||
      p.toLowerCase.contains("partial"),
      s"sketch merges map-side partials, not raw rows:\n$p")
  }

  test("q129: skyline is join-decomposed — no cartesian, no raw-point global window") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q129_pareto_frontier")(spark, d))
    assert(!p.contains("CartesianProduct"),
      s"dominance must come from the bucket decomposition, not all-pairs:\n$p")
    // the only nested-loop join allowed is the 1-row (lo, hi) scalar-range
    // attach (the q121 broadcast-scalar pattern); a dominance BNLJ would
    // carry a join condition instead of a bare Cross
    val bnl = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toVector
    assert(bnl.forall(_.trim.endsWith("Cross")),
      s"only the scalar range attach may nested-loop:\n${bnl.mkString("\n")}")
    // the only keyless window is the 64-row bucket prefix; every other
    // window must partition on the bucket key
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.count(!_.contains("_b#")) <= 1,
      s"at most the bounded bucket-prefix window may be keyless:\n$p")
  }

  test("q127/q130: attribution and drawdown windows stay keyed by user") {
    for (q <- Seq("q127_last_touch_attribution", "q130_max_drawdown")) {
      val winLines = plan(graft.queries.WarehouseQueries
        .defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
        s"$q must window per user:\n${winLines.mkString("\n")}")
    }
  }

  test("q128: RFM is pure scan math — no window, no join") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q128_rfm_segments")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"threshold scoring must not rank customers through a window:\n$p")
    assert("partial_count".r.findAllIn(p).nonEmpty,
      s"per-customer aggregate must map-side combine:\n$p")
  }

  test("q131: Bollinger windows stay keyed by returnflag") {
    val winLines = plan(graft.queries.WarehouseQueries
      .defs("q131_vwap_bollinger")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("l_returnflag")),
      s"frame sums must partition by flag:\n${winLines.mkString("\n")}")
  }

  test("q134: keep-best dedup is one map-side aggregate — no window over the corpus") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q134_dedup_keep_best")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"the keeper must come from max_by, not a per-group rank window:\n$p")
    assert("partial_max_by".r.findAllIn(p).nonEmpty,
      s"max_by must combine map-side:\n$p")
  }

  test("q132: recursive BFS executes through UnionLoop, edges stay equi-joined") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q132_recursive_bfs")(spark, d))
    assert(p.contains("UnionLoop"),
      s"recursion must compile to the native UnionLoop operator:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"edge construction and the walk join must stay keyed:\n$p")
  }

  test("q136: trim mass comes off the census — no rank over raw rows") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q136_trimmed_mean")(spark, d))
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("event_type")),
      s"census windows must partition by type:\n${winLines.mkString("\n")}")
    // event_type is low-cardinality: a row_number trim would rank every
    // row of a type in ONE task (the q66 straggler) — the census form
    // never ranks raw rows
    assert(!p.contains("row_number"),
      s"trim must decompose over the value census:\n$p")
    assert("partial_count".r.findAllIn(p).nonEmpty,
      s"the census aggregate must map-side combine:\n$p")
  }

  test("q137: the only window runs over the count-of-counts census, never user rows") {
    val p = plan(graft.queries.WarehouseQueries.defs("q137_gini")(spark, d))
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.length == 1,
      s"exactly the census prefix window:\n${winLines.mkString("\n")}")
    // the window's input must be the census aggregate (keys _x), not the
    // raw event scan — the census row count is bounded by distinct count
    // values, the scan is not
    assert(p.contains("partial_count"),
      s"per-user and census counts must map-side combine:\n$p")
  }

  test("q135: variant shredding is one aggregate pass — no window, no join") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q135_variant_shred")(spark, d))
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"typed variant_get paths fold into the aggregate:\n$p")
  }

  test("q139/q142: quantile windows run over the census only") {
    for (q <- Seq("q139_funnel_ttc", "q142_equidepth_hist")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.length == 1,
        s"$q: exactly the census cumsum window:\n${winLines.mkString("\n")}")
      assert(!p.contains("CartesianProduct"),
        s"$q: the scalar attaches must broadcast:\n$p")
    }
  }

  test("q141: session windows stay keyed by user") {
    val winLines = plan(graft.queries.WarehouseQueries
      .defs("q141_session_conversion")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"gaps-and-islands must partition by user:\n${winLines.mkString("\n")}")
  }

  test("q143/q145: KS windows stay on the census, beta windows stay keyed") {
    val ks = plan(graft.queries.WarehouseQueries.defs("q143_ks_test")(spark, d))
    assert(!ks.contains("CartesianProduct"),
      s"census merge must be an equi-join:\n$ks")
    // the census is aggregated BEFORE any window: every window input is
    // post-aggregate, so no window line may reference raw event columns
    val ksWins = ks.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(ksWins.nonEmpty && ksWins.forall(!_.contains("event_id")),
      s"KS windows must run over the value census:\n${ksWins.mkString("\n")}")
    val beta = plan(graft.queries.WarehouseQueries
      .defs("q145_rolling_beta")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(beta.nonEmpty && beta.forall(_.contains("l_returnflag")),
      s"frame sums must partition by flag:\n${beta.mkString("\n")}")
  }

  test("q147: null-safe equality keeps a hash join — never nested-loop") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q147_nullsafe_join")(spark, d))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"eqNullSafe must stay a hash-joinable key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the OR-isnull rewrite would degrade to nested-loop:\n$p")
  }

  test("q148: HOF vector math is pure projection — no join, no window") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q148_vector_hof")(spark, d))
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"transform/aggregate/filter fold inside the projection:\n$p")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(vec_id,200"),
      s"the vec_id probe filter must reach the parquet scan:\n$p")
  }

  test("q146: multiset ops rewrite to keyed aggregates, not sorts") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q146_multiset_ops")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"EXCEPT/INTERSECT ALL must not rank through windows:\n$p")
    val bnl = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toVector
    assert(bnl.forall(_.trim.endsWith("Cross")),
      s"only 1-row scalar attaches may nested-loop:\n${bnl.mkString("\n")}")
  }

  test("q151: WAU cover-explode stays a 7x projection — no range join, no window") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q151_rolling_wau")(spark, d))
    assert(!p.contains("windowspecdefinition"),
      s"rolling distinct must decompose, not slide a set union:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the day cover is explode(sequence), never a range join:\n$p")
    assert(p.contains("Generate explode"),
      s"cover days come from a generator:\n$p")
  }

  test("q152-q154: CUSUM/burstiness/trigram windows stay keyed; top-k avoids a global sort") {
    for (q <- Seq("q152_cusum", "q153_burstiness", "q154_event_trigrams")) {
      val winLines = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
        s"$q must window per user:\n${winLines.mkString("\n")}")
    }
    val p = plan(graft.queries.WarehouseQueries
      .defs("q154_event_trigrams")(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      s"trigram top-k must not materialize a global sort:\n$p")
  }

  test("q155/q156: row-level transforms join censuses back — no rank window, stats broadcast") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q155_quantile_norm")(spark, d))
    assert(!p.contains("row_number") && !p.contains("percent_rank"),
      s"the CDF computes on the census, never ranks raw rows:\n$p")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("event_type")),
      s"census windows keyed by type:\n${winLines.mkString("\n")}")
    val te = plan(graft.queries.WarehouseQueries
      .defs("q156_target_encoding")(spark, d))
    assert(!te.contains("windowspecdefinition"),
      s"LOO encoding is aggregate+broadcast, not a window:\n$te")
    assert(te.contains("BroadcastHashJoin"),
      s"category stats must broadcast back:\n$te")
  }

  test("q160: weighted-median windows run over the quantity census, keyed by flag") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q160_weighted_median")(spark, d))
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("l_returnflag")),
      s"census windows keyed by flag:\n${winLines.mkString("\n")}")
    assert(!p.contains("row_number"),
      s"the crossing point is threshold math, not a rank:\n$p")
  }

  test("q161-q163: statistic folds run over the bounded contingency census") {
    for (q <- Seq("q161_mutual_information", "q162_chi_square", "q163_psi")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      assert("partial_count|partial_sum".r.findAllIn(p).nonEmpty,
        s"$q: the cell census must map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: scalar attaches broadcast:\n$p")
      // marginal windows are keyless but run over the ≤50-cell census —
      // the raw scan must never appear under a window
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.forall(!_.contains("event_id")),
        s"$q: windows over cells, not events:\n${winLines.mkString("\n")}")
    }
  }

  test("runtime bloom-filter join pruning injects on a selective fact join") {
    // At 100 TB the optimizer's runtime filters are a first-class lever:
    // a selective dimension side should inject a bloom probe into the
    // fact scan so pruning happens BEFORE the shuffle. Default size
    // thresholds (10 MB creation side) never trigger at test scale, so
    // pin the MECHANISM with thresholds lowered — if an engine upgrade or
    // conf regression drops the injection, this breaks.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sel = Tables.orders(spark, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = Tables.lineitem(spark, d)
        .join(sel, Seq("l_orderkey").map(c => col(c) === sel("o_orderkey"))
          .reduce(_ && _))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
        s"selective join must inject a runtime bloom probe:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q167/q170/q179: risk-metric windows run over daily/census rows, never raw events") {
    for (q <- Seq("q167_acf", "q170_var_es", "q179_theil_sen")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty, s"$q plans a window")
      // the raw event grain (event_id/user_id) must never reach a window:
      // every window input is the calendar-bounded daily series or the
      // distinct-value census
      assert(winLines.forall(l =>
        !l.contains("event_id") && !l.contains("user_id")),
        s"$q: window over daily/census rows only:\n${winLines.mkString("\n")}")
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$q: daily aggregation must partial-combine before the shuffle:\n$p")
    }
  }

  test("q177/q181: order-statistic windows stay on the cents census") {
    for (q <- Seq("q177_mad", "q181_percentile_cont")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty && winLines.forall(l =>
        !l.contains("c_custkey") && !l.contains("c_name")),
        s"$q: windows cumulate the census, never customer rows:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q: bounds attach via broadcast, not cartesian:\n$p")
    }
  }

  test("q174/q175/q184: blocking and island windows partition by their key") {
    val blkPins = Seq(
      "q174_sorted_neighborhood" -> "_blk",
      "q175_er_clusters" -> "_blk")
    for ((q, key) <- blkPins) {
      val winLines = plan(graft.queries.ExtensionQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty && winLines.forall(_.contains(key)),
        s"$q: every window must partition by $key (no global sort):\n" +
          winLines.mkString("\n"))
    }
    val winLines = plan(graft.queries.WarehouseQueries
      .defs("q184_activity_islands")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      s"q184: island numbering partitions by user:\n${winLines.mkString("\n")}")
  }

  test("q185: the correlation matrix is ONE scan, one aggregate, no join") {
    val p = plan(graft.queries.WarehouseQueries
      .defs("q185_corr_matrix")(spark, d))
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"all 15 moments share a single lineitem scan:\n$p")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"pure aggregate pipeline:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"moment sums must partial-combine map-side:\n$p")
  }

  test("q173: the distinct-name pair join stays on the broadcast side") {
    val p = plan(graft.queries.ExtensionQueries
      .defs("q173_jaro_winkler")(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"inequality pairing over the bounded name domain must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"never a partitioned cartesian:\n$p")
  }

  test("q191/q194/q205/q206: attribution and bootstrap windows stay bounded") {
    // q191: per-conversion weight windows key on the purchase id
    val w191 = plan(graft.queries.WarehouseQueries
      .defs("q191_multi_touch")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w191.nonEmpty && w191.forall(_.contains("_pid")),
      s"q191 windows key on the conversion id:\n${w191.mkString("\n")}")
    // q194: the x20 replica fan-out is a broadcast nested-loop over the
    // 20-row reps side, never a shuffle; replica stats need partial aggs
    val p194 = plan(graft.queries.WarehouseQueries
      .defs("q194_bootstrap_ci")(spark, d))
    assert(p194.contains("BroadcastNestedLoopJoin"),
      s"q194 replica fan-out broadcasts the 20-row side:\n$p194")
    assert("partial_sum|partial_count".r.findAllIn(p194).nonEmpty,
      s"q194 replica sums must map-side combine:\n$p194")
    // q205: rank windows cumulate the SCORE census, never documents
    val w205 = plan(graft.queries.WarehouseQueries
      .defs("q205_decile_lift")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w205.nonEmpty && w205.forall(!_.contains("doc_id")),
      s"q205 windows over the score census only:\n${w205.mkString("\n")}")
    // q206: the LTV cumulative window runs on the (cohort, offset) grid
    val w206 = plan(graft.queries.WarehouseQueries
      .defs("q206_cohort_ltv")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w206.nonEmpty && w206.forall(l =>
      !l.contains("user_id") && !l.contains("event_id")),
      s"q206 window on the cohort grid, not raw events:\n${w206.mkString("\n")}")
  }

  test("q224/q226: Lorenz and survival windows stay on bounded censuses") {
    for ((q, raw) <- Seq("q224_lorenz_curve" -> "o_custkey",
        "q226_survival_curve" -> "user_id")) {
      val winLines = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(winLines.nonEmpty && winLines.forall(!_.contains(raw)),
        s"$q: windows cumulate the census, never $raw rows:\n" +
          winLines.mkString("\n"))
    }
  }

  test("q241/q242/q244/q250: stat-family windows stay on bounded censuses") {
    // q241: stump prefix sums run over the ≤24-row hour census
    val w241 = plan(graft.queries.WarehouseQueries
      .defs("q241_decision_stump")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w241.nonEmpty && w241.forall(l =>
      !l.contains("event_id") && !l.contains("user_id")),
      s"q241 windows over the hour census, never events:\n${w241.mkString("\n")}")
    // q242: rank windows cumulate the per-metric value censuses
    val w242 = plan(graft.queries.WarehouseQueries
      .defs("q242_spearman")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w242.nonEmpty && w242.forall(l =>
      !l.contains("event_id") && !l.contains("user_id")),
      s"q242 rank windows over value censuses only:\n${w242.mkString("\n")}")
    // q244: quintile-fence windows cumulate metric censuses, never users
    val w244 = plan(graft.queries.WarehouseQueries
      .defs("q244_rfm")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w244.nonEmpty && w244.forall(!_.contains("user_id")),
      s"q244 fences off censuses, never user rows:\n${w244.mkString("\n")}")
    // q250: lag windows key on event_type over the daily grid
    val w250 = plan(graft.queries.WarehouseQueries
      .defs("q250_pacf")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w250.nonEmpty && w250.forall(l =>
      l.contains("event_type") && !l.contains("event_id")),
      s"q250 lags run on the per-type daily series:\n${w250.mkString("\n")}")
    // q247: degree joins are edge-keyed — never a partitioned cartesian
    val p247 = plan(graft.queries.WarehouseQueries
      .defs("q247_assortativity")(spark, d))
    assert(!p247.contains("CartesianProduct"),
      s"q247 assortativity joins stay equi-keyed:\n$p247")
  }

  test("q259-q272: retrieval/rank-test/risk families keep scale-safe shapes") {
    // q259: the query side broadcasts — a nested-loop join is fine (the
    // eval set is tiny by construction) but never a partitioned cartesian
    val p259 = plan(graft.queries.ExtensionQueries
      .defs("q259_ndcg")(spark, d))
    assert(!p259.contains("CartesianProduct"),
      s"q259 ranking join must broadcast the query side:\n$p259")
    // q262/q263: pooled rank windows cumulate the value census, never rows
    for (q <- Seq("q262_mann_whitney", "q263_kruskal_wallis")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        !l.contains("event_id") && !l.contains("user_id")),
        s"$q rank windows over the cents census only:\n${w.mkString("\n")}")
    }
    // q264/q272: the only windows are the median census cumulation (q264)
    // — never over raw event rows
    val w264 = plan(graft.queries.WarehouseQueries
      .defs("q264_levene")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w264.nonEmpty && w264.forall(l =>
      !l.contains("event_id") && !l.contains("user_id")),
      s"q264 median windows over the census only:\n${w264.mkString("\n")}")
    // q265/q266/q270: path/frame windows key on event_type over the
    // bounded daily grid
    for (q <- Seq("q265_sortino_calmar", "q266_variance_ratio",
        "q270_durbin_watson")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        l.contains("event_type") && !l.contains("event_id")),
        s"$q windows run per-type on the daily series:\n${w.mkString("\n")}")
    }
    // q269: triangle wedges and degree joins stay equi-keyed, and on
    // under-cap gate data coActivityEdges must return its PLAIN self-join
    // plan — no rank window, no bucket-sizing subplan (the probe-and-skip
    // contract; the r10 always-on capping machinery cost q118/q119/q269 a
    // confirmed 2.3x regression)
    val p269 = plan(graft.queries.WarehouseQueries
      .defs("q269_local_clustering")(spark, d))
    assert(!p269.contains("CartesianProduct"),
      s"q269 clustering joins stay equi-keyed:\n$p269")
    assert(!p269.contains("windowspecdefinition"),
      s"q269 under-cap edge build must skip the capping window:\n$p269")
  }

  test("fan-out gate: graph working sets stay LAZY at gate scale, " +
      "materialize behind a checkpointed (at-scale) input") {
    // gate data: the co-activity build is a small lazy parquet plan, so
    // triangleCount/commonNeighborLinks must NOT inject a checkpoint —
    // an ExistingRDD scan here is the r15 q118 alarm's noisy-I/O tail
    // coming back (Sizing.materializeForFanout's lazy side)
    for (q <- Seq("q118_triangle_count", "q119_link_prediction")) {
      val p = plan(graft.queries.ExtensionQueries.defs(q)(spark, d))
      assert(!p.contains("Scan ExistingRDD"),
        s"$q must keep the fully lazy plan at gate scale:\n$p")
    }
    // an input the caller already materialized (what coActivityEdges'
    // capped path returns exactly when its probe measured an at-scale
    // graph) is the scale marker: the derived working set must
    // checkpoint too, or the 100× probe re-shuffles the distinct once
    // per pruned fan-out branch (measured 417 s vs 321 s). Discriminator:
    // the working set's dedup aggregate (HashAggregate over keys [a, b])
    // must be PRE-EXECUTED by the checkpoint — absent from the returned
    // plan — while the lazy gate-scale form replays it in-plan.
    def dedupAggs(p: String): Int =
      "HashAggregate\\(keys=\\[a#\\d+L?(?:\\s*ASC NULLS FIRST)?, b#"
        .r.findAllIn(p).size
    val edgesCkpt = spark.range(300)
      .select((col("id") % 60).as("src"), ((col("id") * 11 + 5) % 60).as("dst"))
      .localCheckpoint(true)
    val pBig = plan(graft.operators.Graph.triangleCount(edgesCkpt))
    assert(dedupAggs(pBig) == 0 && pBig.contains("Scan ExistingRDD"),
      s"a checkpointed input must pre-materialize the working-set dedup:\n$pBig")
    val edgesLazy = spark.range(300)
      .select((col("id") % 60).as("src"), ((col("id") * 11 + 5) % 60).as("dst"))
    val pLazy = plan(graft.operators.Graph.triangleCount(edgesLazy))
    assert(dedupAggs(pLazy) > 0,
      s"a small lazy input must keep the dedup in-plan (no checkpoint):\n$pLazy")
    // persisted-probe path (r17): a probe over the bucketed edge TABLE is
    // gate-scale lazy too — the table leaf is KBs of parquet with REAL
    // catalog stats, so the Sizing gate must not checkpoint it, and the
    // probe must read through the bucketed file scan (the layout the
    // build paid for), not some re-materialized copy
    val tbl = "graft_bkt_edges_planspec"
    try {
      graft.operators.Graph.buildEdgeTable(Tables.events(spark, d), tbl,
        numBuckets = 4)
      val pProbe = plan(
        graft.operators.Graph.triangleCount(spark.table(tbl)))
      assert(!pProbe.contains("Scan ExistingRDD"),
        s"the persisted-edge probe must stay lazy at gate scale:\n$pProbe")
      assert(dedupAggs(pProbe) > 0,
        s"probe keeps the working-set dedup in-plan at gate scale:\n$pProbe")
      assert(pProbe.contains(tbl),
        s"probe must scan the persisted table, not rebuild edges:\n$pProbe")
    } finally graft.operators.Exporter.dropBucketed(spark, tbl)
  }

  test("q347: the persisted LSH index joins its band buckets in place") {
    // the whole point of the stored index: a probe batch shuffles ONLY
    // itself — the corpus side's band join reads the bucketed postings
    // directly (join keys = bucket keys (band, bh)), and the candidates'
    // signature fetch reads the id-bucketed signature store directly.
    // Broadcast is disabled so the gate-scale index can't dodge the claim
    // by being small.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // (table, exchanged on its way into the join that reads it?) of every
    // table scan in the plan
    def scans(p: SparkPlan, under: Boolean): Seq[(String, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, under)
      case f: FileSourceScanExec =>
        Seq(f.tableIdentifier.map(_.table).getOrElse("?") -> under)
      case e: Exchange => e.children.flatMap(scans(_, under = true))
      case j: BaseJoinExec => j.children.flatMap(scans(_, under = false))
      case o => o.children.flatMap(scans(_, under))
    }
    val tbl = "graft_bkt_lsh_planspec"
    val docs = Tables.documents(spark, d)
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.operators.Dedup.buildLshIndex(
        docs.filter(col("doc_id") % 2 === 0), tbl, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, numBuckets = 4)
      val probe = graft.operators.Dedup.lshIndexProbe(spark, tbl,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.35)
      val p = plan(probe)
      assert("SelectedBucketsCount".r.findAllIn(p).length == 2,
        s"both index parts must be bucketed scans:\n$p")
      val store = graft.operators.Exporter.sidecarTable(tbl, "signatures")
      val index = scans(probe.queryExecution.executedPlan, under = false)
        .filter(s => s._1 == tbl || s._1 == store)
      assert(index.map(_._1).sorted == Seq(tbl, store).sorted &&
        index.forall(!_._2),
        s"no exchange between either index-side scan and its join, got $index:\n$p")
      // exactly two exchanges, both on the batch side: the probe's band
      // rows entering the band join, and the candidates keyed on index_id
      // (the cross-band dedup, laid out as the signature store's buckets)
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 2, s"expected 2 batch-side exchanges, got $n:\n$p")
      // one scan of the batch, and its signature computed once per row
      val batchScans = scans(probe.queryExecution.executedPlan, under = false)
        .count(_._1 == "?")
      val sigs = "minhash_sig".r.findAllIn(p).length
      assert(batchScans == 1 && sigs == 1,
        s"expected one batch scan and signature pass, got $batchScans, $sigs:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      graft.operators.Exporter.dropBucketed(spark, tbl)
    }
  }

  test("q273-q280: corpus/TPC-H/risk families keep scale-safe shapes") {
    // q273: growth-curve windows cumulate the DOC census, never bigrams
    val w273 = plan(graft.queries.ExtensionQueries
      .defs("q273_heaps_law")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w273.nonEmpty && w273.forall(!_.contains("_bg")),
      s"q273 cumsum over docs, never bigram rows:\n${w273.mkString("\n")}")
    // q275/q276: ranking windows run on catalog-bounded aggregates,
    // never raw line items
    for (q <- Seq("q275_important_stock", "q276_min_cost_supplier")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        !l.contains("l_extendedprice") && !l.contains("l_linenumber")),
        s"$q windows post-aggregate only:\n${w.mkString("\n")}")
    }
    // q277/q278: return-path windows key on event_type over daily series
    for (q <- Seq("q277_arch_effect", "q278_underwater_duration")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        l.contains("event_type") && !l.contains("event_id")),
        s"$q windows run per-type on the daily grid:\n${w.mkString("\n")}")
    }
    // q280: percentile fences cumulate the (priority, days) census only
    val w280 = plan(graft.queries.WarehouseQueries
      .defs("q280_lead_time_percentiles")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w280.nonEmpty && w280.forall(!_.contains("l_orderkey")),
      s"q280 windows over the day census, never line items:\n" +
        w280.mkString("\n"))
  }

  test("q281-q292: concordance/forecast/SPC families keep scale-safe shapes") {
    // q281/q288/q292: rank/ECDF/fence windows cumulate value censuses,
    // never event rows
    for (q <- Seq("q281_kendall_w", "q288_anderson_darling", "q292_cpk")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        !l.contains("event_id") && !l.contains("user_id")),
        s"$q windows over censuses only:\n${w.mkString("\n")}")
    }
    // q283/q284: lag/trend windows key on event_type over the daily grid
    for (q <- Seq("q283_mase_smape", "q284_cooks_distance")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        l.contains("event_type") && !l.contains("event_id")),
        s"$q windows run per-type on the daily grid:\n${w.mkString("\n")}")
    }
    // q289: argmax/sequence windows run on the (order, brand) aggregate
    // and the per-customer order sequence — never on line items
    val w289 = plan(graft.queries.WarehouseQueries
      .defs("q289_brand_switching")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w289.nonEmpty && w289.forall(!_.contains("l_linenumber")),
      s"q289 windows post-aggregate only:\n${w289.mkString("\n")}")
  }

  test("q293-q300: smoothing/elasticity/SLA families keep scale-safe shapes") {
    // q293: the HW recursion is ONE fold over per-type day arrays — the
    // plan must contain no window at all (no per-row state pass)
    val p293 = plan(graft.queries.WarehouseQueries
      .defs("q293_holt_winters")(spark, d))
    assert(!p293.contains("windowspecdefinition"),
      s"q293 folds arrays, no window pass:\n$p293")
    // q295: the leaderboard window ranks the 25-brand aggregate only
    val w295 = plan(graft.queries.WarehouseQueries
      .defs("q295_wilson_ranking")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w295.nonEmpty && w295.forall(!_.contains("l_linenumber")),
      s"q295 ranks the brand aggregate, not line items:\n" +
        w295.mkString("\n"))
    // q294/q297/q299/q300: pure aggregate pipelines — no window touches
    // raw rows (they should plan without any windowspecdefinition)
    for (q <- Seq("q294_price_elasticity", "q297_overdispersion",
        "q299_odds_ratio", "q300_order_sla")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      assert(!p.contains("windowspecdefinition"),
        s"$q is aggregate-only, no window expected:\n$p")
    }
  }

  test("q305-q310: robust-stats/forecast/survival families keep scale-safe shapes") {
    // q305/q306: rolling/lag windows run per event_type on the daily
    // grid (30 rows/type), never over raw event rows
    for (q <- Seq("q305_hampel_filter", "q306_permutation_entropy")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        l.contains("event_type") && !l.contains("event_id")),
        s"$q windows run per-type on the daily grid:\n${w.mkString("\n")}")
    }
    // q307: fixed-size integer aggregates only — no window anywhere
    val p307 = plan(graft.queries.WarehouseQueries
      .defs("q307_cochran_q")(spark, d))
    assert(!p307.contains("windowspecdefinition"),
      s"q307 is aggregate-only, no window expected:\n$p307")
    // q308: the gap window keys on l_partkey over per-part demand days,
    // never on line items
    val w308 = plan(graft.queries.WarehouseQueries
      .defs("q308_croston")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w308.nonEmpty && w308.forall(l =>
      l.contains("l_partkey") && !l.contains("l_linenumber")),
      s"q308 windows key on part over demand days:\n${w308.mkString("\n")}")
    // q310: the reverse-cumulative at-risk window runs over the distinct-
    // time census (≤31 rows), never over per-user or per-event rows
    val w310 = plan(graft.queries.WarehouseQueries
      .defs("q310_logrank")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w310.nonEmpty && w310.forall(l =>
      !l.contains("user_id") && !l.contains("event_id")),
      s"q310 windows over the time census only:\n${w310.mkString("\n")}")
    // q309: every peel round is keyed joins + aggregates — the converged
    // core frame must contain no cartesian and no window
    val p309 = plan(graft.queries.ExtensionQueries
      .defs("q309_kcore")(spark, d))
    assert(!p309.contains("CartesianProduct") &&
      !p309.contains("BroadcastNestedLoopJoin"),
      s"q309 kCore must stay keyed-join shaped:\n$p309")
    assert(!p309.contains("windowspecdefinition"),
      s"q309 kCore needs no window:\n$p309")
  }

  test("q311-q316: EVT/records/LPA/backlog families keep scale-safe shapes") {
    // q311/q313: lag-lead / running-max windows run per event_type on
    // the daily grid, never over raw events
    for (q <- Seq("q311_turning_points", "q313_record_days")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        l.contains("event_type") && !l.contains("event_id")),
        s"$q windows run per-type on the daily grid:\n${w.mkString("\n")}")
    }
    // q312/q316: pure aggregate pipelines — no window anywhere
    for (q <- Seq("q312_gumbel_maxima", "q316_backlog_aging")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      assert(!p.contains("windowspecdefinition"),
        s"$q is aggregate-only, no window expected:\n$p")
    }
    // q315: median-rank windows run over the distinct-time census only
    val w315 = plan(graft.queries.WarehouseQueries
      .defs("q315_weibull_fit")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w315.nonEmpty && w315.forall(l =>
      !l.contains("user_id") && !l.contains("event_id")),
      s"q315 windows over the time census only:\n${w315.mkString("\n")}")
    // q314: every LPA round is keyed joins + two-level hash aggregates —
    // no window (the argmax is min(struct)), no cartesian
    val p314 = plan(graft.queries.ExtensionQueries
      .defs("q314_label_propagation")(spark, d))
    assert(!p314.contains("CartesianProduct") &&
      !p314.contains("BroadcastNestedLoopJoin"),
      s"q314 LPA must stay keyed-join shaped:\n$p314")
    assert(!p314.contains("windowspecdefinition"),
      s"q314 LPA argmax is a hash aggregate, no window:\n$p314")
  }

  test("q317-q320: periodogram/JT/safety-stock/truss keep scale-safe shapes") {
    // q317: index/centering windows key on event_type over the daily
    // grid; the argmax is min(struct), not a ranking window over events
    val w317 = plan(graft.queries.WarehouseQueries
      .defs("q317_periodogram")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w317.nonEmpty && w317.forall(l =>
      l.contains("event_type") && !l.contains("event_id")),
      s"q317 windows run per-type on the daily grid:\n${w317.mkString("\n")}")
    // q318: the census cumulative keys on the group over the value grid,
    // never over event rows
    val w318 = plan(graft.queries.WarehouseQueries
      .defs("q318_jonckheere")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w318.nonEmpty && w318.forall(l =>
      !l.contains("event_id") && !l.contains("user_id")),
      s"q318 windows over the value census only:\n${w318.mkString("\n")}")
    // q319: pure per-part aggregates — no window
    val p319 = plan(graft.queries.WarehouseQueries
      .defs("q319_safety_stock")(spark, d))
    assert(!p319.contains("windowspecdefinition"),
      s"q319 is aggregate-only, no window expected:\n$p319")
    // q320: support peeling is wedge equi-joins + counts — no cartesian,
    // no window
    val p320 = plan(graft.queries.ExtensionQueries
      .defs("q320_ktruss")(spark, d))
    assert(!p320.contains("CartesianProduct") &&
      !p320.contains("BroadcastNestedLoopJoin"),
      s"q320 kTruss must stay keyed-join shaped:\n$p320")
    assert(!p320.contains("windowspecdefinition"),
      s"q320 kTruss needs no window:\n$p320")
  }

  test("q321-q325: TPC-H shapes, Katz and paired tests keep scale-safe shapes") {
    // q321/q322/q324: scalar-threshold joins + aggregates — no window
    for (q <- Seq("q321_large_orders", "q322_dormant_customers",
        "q324_capture_recapture")) {
      val p = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
      assert(!p.contains("windowspecdefinition"),
        s"$q is aggregate/join-only, no window expected:\n$p")
    }
    // q322: the dormancy check must plan as an anti join, not a filtered
    // outer join
    val p322 = plan(graft.queries.WarehouseQueries
      .defs("q322_dormant_customers")(spark, d))
    assert(p322.contains("LeftAnti"), s"q322 needs an anti join:\n$p322")
    // q323: three chained keyed joins + hash aggs — no cartesian beyond
    // the intended scalar cross joins. The only window allowed is the
    // coActivityEdges hot-bucket cap rank, partitioned by the
    // (event_type, minute) bucket key — never keyless, never per-user
    val w323 = plan(graft.queries.ExtensionQueries
      .defs("q323_katz_centrality")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w323.forall(_.contains("event_type")),
      s"q323 windows may only key on the co-activity bucket:\n" +
        w323.mkString("\n"))
    // q318/q325 (shared cores): censuses only — windows never key on
    // raw event/user ids
    for ((q, o) <- Seq("q318_jonckheere" -> "WarehouseQueries",
        "q325_wilcoxon_signed_rank" -> "WarehouseQueries")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        !l.contains("event_id") && !l.contains("user_id")),
        s"$q windows over censuses only:\n${w.mkString("\n")}")
    }
  }

  test("q326-q328: EVT-tail, median-test and bridge keep scale-safe shapes") {
    // q328: one grouped scan + pivot — no window at all
    val p328 = plan(graft.queries.WarehouseQueries
      .defs("q328_price_volume_bridge")(spark, d))
    assert(!p328.contains("windowspecdefinition"),
      s"q328 is aggregate-only, no window expected:\n$p328")
    // q329: pure per-type aggregates (the word assembles inside the
    // agg) — no window
    val p329 = plan(graft.queries.WarehouseQueries
      .defs("q329_sax_words")(spark, d))
    assert(!p329.contains("windowspecdefinition"),
      s"q329 is aggregate-only, no window expected:\n$p329")
    // q330: the ABC share windows rank the part-level revenue census,
    // never line items
    val w330 = plan(graft.queries.WarehouseQueries
      .defs("q330_abc_xyz")(spark, d))
      .linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(w330.nonEmpty && w330.forall(l =>
      !l.contains("l_orderkey") && !l.contains("l_linenumber")),
      s"q330 windows over the part census only:\n${w330.mkString("\n")}")
    // q326/q327 cumulate bounded value censuses — windows must never
    // key on raw order/event ids
    for (q <- Seq("q326_hill_tail", "q327_mood_median")) {
      val w = plan(graft.queries.WarehouseQueries.defs(q)(spark, d))
        .linesIterator.filter(_.contains("windowspecdefinition")).toVector
      assert(w.nonEmpty && w.forall(l =>
        !l.contains("o_orderkey") && !l.contains("event_id")
          && !l.contains("user_id")),
        s"$q windows over value censuses only:\n${w.mkString("\n")}")
    }
  }

  test("partitioned parquet written by the exporter prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    import spark.implicits._
    val df = (0 until 100).map { i =>
      (java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 60L)),
        1.0 + i, "S" + (i % 4))
    }.toDF("TIMESTAMP", "CLOSE", "SYMBOL")
    graft.operators.Exporter.writeParquetWithMetadata(df, s"$dir/out.parquet",
      partitionCols = Seq("symbol"))
    val read = spark.read.parquet(s"$dir/out.parquet")
      .filter(col("SYMBOL") === "S1")
    val p = plan(read)
    assert(p.contains("PartitionFilters") && p.contains("S1"),
      s"partition pruning must appear in the scan:\n$p")
    assert(read.count() == 25)
  }

  test("a correct-mode coarse export writes with no shuffle exchange") {
    assertCoarseExportsUnshuffled(Seq("symbol", "year"))
  }

  test("a correct-mode coarse export with no partition columns writes with no shuffle exchange") {
    // the export must keep the resampled frame's sized partitions as they
    // are
    assertCoarseExportsUnshuffled(Nil)
  }

  private def assertCoarseExportsUnshuffled(partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graft.GraftSqlBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val input = spark.range(600).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("timestamp"),
      (lit(1.1) + col("id") * 1e-4).as("open"),
      (lit(1.1005) + col("id") * 1e-4).as("high"),
      (lit(1.0995) + col("id") * 1e-4).as("low"),
      (lit(1.1002) + col("id") * 1e-4).as("close"),
      (lit(100.0) + col("id")).as("volume"))
    val out = java.nio.file.Files.createTempDirectory("graft_coarse_plan").toString
    val cfg = graft.core.GraftConfig(rawPath = out, processedPath = out,
      timeframes = Seq("1T", "5T", "1H"), partitionCols = partitionCols)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { writes.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.listenerManager.register(ql)
    val r = try graft.operators.Runner.processDataFrame(spark, input, cfg, None,
      "EURUSD_plan", out)
    finally {
      GraftSqlBridge.drainListenerBus(spark)
      spark.listenerManager.unregister(ql)
    }
    assert(r.errors.isEmpty, s"errors: ${r.errors}")
    def shuffles(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case x: ShuffleExchangeExec => Seq(x)
      case _ => Nil
    }
    import scala.jdk.CollectionConverters._
    val coarse = writes.asScala.toSeq.flatMap { qe =>
      qe.executedPlan.collectFirst {
        case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
            if Seq("_5m.parquet", "_1h.parquet").exists(c.outputPath.toString.endsWith) => qe
      }
    }
    assert(coarse.size == 2, writes.asScala.map(_.executedPlan).mkString("\n---\n"))
    for (qe <- coarse)
      assert(shuffles(qe.executedPlan).isEmpty, qe.executedPlan.toString)
    // partitions sized from the input's rows: one file per coarse export
    for (e <- r.exports if Seq("_5m.parquet", "_1h.parquet").exists(e.path.endsWith)) {
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(e.path)).iterator
        .asScala.count(_.getFileName.toString.startsWith("part-"))
      assert(files == 1, e.path)
    }
  }
}
