package graft.operators

import graft.core.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (Dedup.scala).
  *
  * PageRank here is *fixed-point integer* PageRank: ranks live in integer
  * micro-units (`unit` = 1e9) and every step — out-degree split, damping —
  * is floor integer division. No doubles anywhere means the result is
  * bit-identical under any partitioning or summation order, so a SQL oracle
  * can replay it exactly and a cluster re-run can't drift. The floor
  * truncation leaks ≤ 1 unit of mass per edge per round — irrelevant at
  * unit = 1e9 for ranking purposes.
  */
object Graph {

  /** User co-activity edge list: users linked when both were active in the
    * same (event_type, minute) bucket — the shared edge builder for the
    * graph gate queries (q118/q119/q269/q290/q309/q314/q320/q323). Expects
    * `userCol`/`typeCol`/`tsCol` on `events`; returns distinct id-ordered
    * (src < dst) edges.
    *
    * Two default-on, deterministic sparsifiers keep the graph scale-safe;
    * both are decided by ONE cheap scalar probe job over the distinct
    * activity set, and when the data is under both caps (the common path
    * at every gate scale — sf0.1 max bucket = 6 vs 1024, max degree = 57
    * vs 96) the capping subplans are SKIPPED entirely: the function
    * returns the plain lazy self-join plan, byte-identical to the
    * uncapped oracle form and fully fusable into the consumer's DAG. Only
    * when a cap binds is the weighted pair census materialized
    * (localCheckpoint) and the prune applied:
    *
    *  - `bucketCap`: the bucket self-join emits U² pairs for a bucket
    *    with U members, so ONE hot (type, minute) bucket — a flash-sale
    *    minute, a bot swarm — would dominate the whole job at scale. An
    *    oversized bucket keeps only its `bucketCap` smallest members
    *    under the (xxhash64(user), user) order — a fixed uniform sample,
    *    identical under any partitioning and re-run (the q41
    *    `maxBucketSize` device in graph form). Co-activity affinity in a
    *    bucket that hot is noise anyway — the stopword argument.
    *  - `degreeCap`: even with every bucket under `bucketCap`, organic
    *    10× user growth in a fixed time window densifies the graph ~100×
    *    (pair volume is quadratic in bucket density — measured on the
    *    driver's own sf0.01→sf0.1 data, 211→23k edges, and again at the
    *    10× rehearsal, where the uncapped 3-truss peel ran 338 s). Each
    *    node keeps only its `degreeCap` STRONGEST ties — neighbors ranked
    *    by (shared-bucket count desc, xxhash64(neighbor), neighbor), a
    *    weight-aware prune with an unbiased deterministic tie-break — and
    *    an edge survives only if BOTH endpoints keep it (mutual-kNN
    *    semantics), which hard-bounds every surviving degree ≤ degreeCap
    *    and total edges ≤ degreeCap·|V|/2: edge growth is linear in
    *    users from here up, whatever the density does. Triangle/truss
    *    wedge volume is then ≤ |V|·C(degreeCap, 2) by construction.
    *
    * Neither cap is replicated in the DuckDB gate oracles (they replay
    * the plain uncapped self-join), so a cap silently binding on gate
    * data would surface as an unexplained hash mismatch. `assertUncapped`
    * is the loud-failure option (the kCore/kTruss `oracleRounds`
    * contract's sibling): set it in an oracle-gated run and a binding cap
    * throws a named error — "regenerate the oracle" — instead. It stays
    * off in the shared gate closures only because the SAME closures run
    * at the 10× scale rehearsal, where the caps binding is the point.
    */
  def coActivityEdges(events: DataFrame, bucketCap: Int = 1024,
                      degreeCap: Int = 96,
                      assertUncapped: Boolean = false,
                      userCol: String = "user_id",
                      typeCol: String = "event_type",
                      tsCol: String = "ts"): DataFrame = {
    require(bucketCap >= 2, "bucketCap >= 2")
    require(degreeCap >= 1, "degreeCap >= 1")
    val act = events
      .select(col(userCol).as("user_id"), col(typeCol).as("event_type"),
        date_trunc("minute", col(tsCol)).as("h"))
      .distinct()
    // ONE scalar probe job decides both caps BEFORE the quadratic pair
    // census can run: per bucket its size, per user the degree UPPER BOUND
    // deg(u) <= Σ over u's buckets of (size − 1) — exact enough to skip
    // (bound max 57 vs true max 57 on sf0.1), and available without ever
    // materializing a pair. Under both caps (every gate scale) the
    // function returns the PLAIN LAZY self-join plan — no checkpoint, no
    // sizing join, no window — so a consumer fuses the whole build into
    // its own DAG with exchange reuse, byte-identical to the uncapped
    // oracle form.
    val bucketSizes = act.groupBy("event_type", "h")
      .agg(count(lit(1)).as("_bsz"))
    val stats = act.join(bucketSizes, Seq("event_type", "h"))
      .groupBy("user_id")
      .agg(sum(col("_bsz") - 1).as("_ub"), max(col("_bsz")).as("_mb"))
      .agg(max(col("_ub")).as("ub"), max(col("_mb")).as("mb")).head()
    val maxUbDeg = Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val maxBucket = Option(stats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxBucket <= bucketCap && maxUbDeg <= degreeCap)
      return act
        .join(act.select(col("user_id").as("v"), col("event_type"),
          col("h")), Seq("event_type", "h"))
        .filter(col("user_id") < col("v"))
        .select(col("user_id").as("src"), col("v").as("dst"))
        .distinct()
    if (assertUncapped && maxBucket > bucketCap)
      throw new IllegalStateException(
        s"coActivityEdges: a (event_type, minute) bucket holds $maxBucket " +
          s"users > bucketCap=$bucketCap — the gate oracle replays the " +
          "UNCAPPED self-join; regenerate the oracle or raise the cap")
    val members =
      if (maxBucket <= bucketCap) act
      else {
        val sized = act.join(bucketSizes, Seq("event_type", "h"))
        val small = sized.filter(col("_bsz") <= bucketCap).drop("_bsz")
        val capped = sized.filter(col("_bsz") > bucketCap)
          .withColumn("_rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("event_type", "h")
              .orderBy(xxhash64(col("user_id")), col("user_id"))))
          .filter(col("_rk") <= bucketCap)
          .drop("_rk", "_bsz")
        small.unionByName(capped)
      }
    // weighted pair census: the count IS the co-activity weight (shared
    // buckets), same shuffle as a .distinct(). Eager: the exact degree
    // probe and every consumer replay a LogicalRDD, not the build plan.
    val weighted = members
      .join(members.select(col("user_id").as("v"), col("event_type"),
        col("h")), Seq("event_type", "h"))
      .filter(col("user_id") < col("v"))
      .groupBy(col("user_id").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("_w"))
      .localCheckpoint(true)
    // exact degree probe: the upper bound overshot the cap (pairs shared
    // across several buckets count once here), so measure for real before
    // paying the rank window
    val maxDeg = Option(weighted.select(col("src").as("n"))
        .unionAll(weighted.select(col("dst").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .agg(max(col("d"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxDeg <= degreeCap) weighted.select(col("src"), col("dst"))
    else if (assertUncapped)
      throw new IllegalStateException(
        s"coActivityEdges: a node has degree $maxDeg > degreeCap=" +
          s"$degreeCap — the gate oracle replays the UNCAPPED graph; " +
          "regenerate the oracle or raise the cap")
    else {
      // mutual top-degreeCap by tie strength: the rank window is
      // hash-partitioned per node (never keyless), and only runs when the
      // cap actually binds
      val sym = weighted.select(col("src").as("u"), col("dst").as("v"),
          col("_w"))
        .unionAll(weighted.select(col("dst").as("u"), col("src").as("v"),
          col("_w")))
      val kept = sym.withColumn("_rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("u")
            .orderBy(col("_w").desc, xxhash64(col("v")), col("v"))))
        .filter(col("_rk") <= degreeCap)
        .select(col("u"), col("v"))
      // materialize the CAPPED edge list (edge-sized — 2.4M rows at the
      // 100× probe): consumers scan their edge input 2–5×, and every
      // un-materialized scan here replays the rank window over the full
      // pair census; under AQE those replays materialize CONCURRENTLY
      // and the 100× q118 run died on heap. The under-cap return above
      // stays a plain lazy plan (the gate-scale exchange-reuse contract
      // PlanSpec pins) — only the capped path, which already paid a
      // checkpoint for `weighted`, materializes its result.
      val result = kept
        .join(kept.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"))
        .filter(col("u") < col("v"))
        .select(col("u").as("src"), col("v").as("dst"))
        .localCheckpoint(true)
      // the pre-cap pair census (`weighted`) is the build's LARGEST
      // intermediate — GBs of block storage at the 100× probe — and the
      // eager result checkpoint above was its last reader. Release it
      // NOW (blocking): left to the async ContextCleaner it outlives the
      // whole consumer query, and a single 100× kcore run was heap-
      // marginal on a 24g JVM from exactly this.
      Snapshot.release(weighted, blocking = true)
      result
    }
  }

  /** Materialize the co-activity edge list as a BUCKETED managed table —
    * the persisted-index form of the graph build (VERDICT r16 item 2):
    * q54's build/probe shape applied to graphs. At the 100× probe the
    * capped build (bucket census + weighted pair census + mutual-kNN
    * rank window) is a shared ~300 s floor recomputed inside EVERY graph
    * query; at 100 TB that build is an index written ONCE and probed
    * many times, exactly like the persisted IVF corpus
    * (`Similarity.buildIvfIndex`). Probes read `spark.table(table)` —
    * a leaf whose scan volume is the (degreeCap-bounded) EDGE LIST, two
    * longs per edge, orders of magnitude smaller than the activity rows
    * the build scans — so the Sizing fan-out gate correctly prices
    * probe-side replays as cheap table re-scans, never build replays.
    *
    * The table is bucketed and sort-ordered by (`src`, `dst`): node-id
    * keyed probe joins against the edge table co-locate without an
    * extra exchange when the probe side matches the bucket count, and
    * the sorted layout keeps each node's adjacency contiguous for the
    * wedge scans. Returns the edge count (the build's own census — the
    * scalar a deployment records next to the build timestamp).
    *
    * Freshness is the CALLER's contract, as with every index: a probe
    * against a table built from older events answers about that
    * snapshot. Rebuild = call again (overwrite is drop-and-replace,
    * `Exporter.writeBucketed` semantics, non-atomic).
    */
  def buildEdgeTable(events: DataFrame, table: String,
                     numBuckets: Int = 0,
                     bucketCap: Int = 1024, degreeCap: Int = 96,
                     userCol: String = "user_id",
                     typeCol: String = "event_type",
                     tsCol: String = "ts"): Long = {
    val edges = coActivityEdges(events, bucketCap, degreeCap,
      assertUncapped = false, userCol = userCol, typeCol = typeCol,
      tsCol = tsCol)
    // numBuckets <= 0 (the default): scale with the events input rather
    // than a constant tuned for one tier — see Exporter.adaptiveBuckets.
    // Sized off `events` (not `edges`): the capped build path returns a
    // LogicalRDD whose leaf scan volume reads zero, exactly at the scale
    // where MORE buckets are wanted.
    val nb = if (numBuckets > 0) numBuckets
             else Exporter.adaptiveBuckets(events)
    Exporter.writeBucketed(edges, table, Seq("src"), nb,
      sortCols = Seq("src", "dst"))
    events.sparkSession.table(table).count()
  }

  /** `iterations` rounds of damped PageRank over a directed edge list.
    * Returns (node, r) with r in `unit`-scaled fixed point.
    *
    * Per round: one join of edges to ranks (keyed by src), one dst-keyed
    * agg, one left join back to the node set — all hash-partitioned on the
    * node key, nothing global. The edge list is an eager snapshot and the
    * rounds run under `Snapshot.Loop.iterate`, so plan size stays bounded
    * at any iteration count; at the gate's 3 rounds no rank snapshot is
    * taken and the plan is byte-identical to the untruncated one
    * (eager/lazy rule and retention: [[graft.core.Snapshot]]).
    * Dangling nodes (no out-edges) simply don't contribute — the standard
    * redistribute-to-all correction would need a scalar broadcast per round
    * and is omitted, matching the common "weakly preferential" variant.
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String = "src",
                         dstCol: String = "dst", iterations: Int = 3,
                         dampNum: Long = 85, dampDen: Long = 100,
                         unit: Long = 1000000000L): DataFrame =
    Snapshot.loop("pagerank") { loop =>
      // eager (r18: q104 planned ~5 copies of the caller's edge build —
      // 2.6–3.5 s vs 1.6–1.7 s with the edge leaf)
      val e = loop.take(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), eager = true)
      val deg = e.groupBy("src").agg(count(lit(1)).as("od"))
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      val base = (unit * (dampDen - dampNum)) / dampDen
      loop.iterate(nodes.withColumn("r", lit(unit)), iterations) { ranks =>
        val contrib = e
          .join(ranks.withColumnRenamed("node", "src"), "src")
          .join(deg, "src")
          .select(col("dst").as("node"), expr("r div od").as("c"))
          .groupBy("node").agg(sum(col("c")).as("c"))
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(
              s"($dampNum * coalesce(c, CAST(0 AS BIGINT))) div $dampDen"))
              .as("r"))
      }
    }

  /** The undirected edge set of a directed edge list: one id-ordered
    * (`a` < `b`) row per node pair, self-loops dropped.
    */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Per-node triangle counts over an undirected edge list (self-loops and
    * duplicate/reversed edges collapse first).
    *
    * Scale shape: degree-oriented enumeration ([[orientedTriangles]]) caps
    * per-apex wedge count arboricity-style instead of a hub's full degree
    * squared (a 10M-degree hub contributes zero apex wedges; its triangles
    * close at its neighbors); per-node counts explode each triangle to its
    * three corners and aggregate. No cartesian, no windows; every join
    * keys on node ids.
    */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    // The deduped edge list feeds FOUR scans below (degree census twice,
    // orientation join, closing join), and column pruning specializes
    // each branch's copy of the build (deg scans only `a` then only `b`),
    // so exchange reuse does NOT collapse them — each scan replays the
    // caller's edge BUILD, and AQE materializes those replays
    // CONCURRENTLY. Whether that matters is purely a size question
    // (VERDICT r15 item 1), so the materialization is Sizing-gated on the
    // input's leaf scan volume:
    //  - gate scale (MBs of source): ~4 replays of a small scan+shuffle
    //    build finish inside the query's 1.4 s, while an eager checkpoint
    //    added 0.2–0.9 s of noisy I/O (the r15 q118 alarm) — stay LAZY;
    //  - an already-materialized input (coActivityEdges' capped path
    //    returns a LogicalRDD exactly when its probe measured an
    //    at-scale graph) — the caller's checkpoint IS the scale marker:
    //    materialize the working set too (measured at the 100× probe:
    //    lazy re-derives the 2.4M-row distinct per pruned branch, 417 s
    //    vs 321 s checkpointed);
    //  - a big UN-materialized build (at the 100× probe, pre-r15, the
    //    rank window replayed 4× side by side over the pre-cap pair
    //    census and the JVM died on heap) — checkpoint ONCE, the query is
    //    scan-shaped again.
    val undLazy = undirected(edges, srcCol, dstCol)
    val und =
      if (graft.core.Sizing.materializeForFanout(edges))
        undLazy.localCheckpoint(true)
      else undLazy
    val corners = orientedTriangles(und)
      .select(explode(array(col("apex"), col("x"), col("y"))).as("node"))
    corners.groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Every triangle of an undirected edge set (id-ordered `a` < `b`,
    * distinct, no self-loops) exactly once, as (`apex`, `x`, `y`) with
    * `x` < `y`.
    *
    * Edges orient from the LOWER (degree, node) endpoint to the higher, so
    * every wedge apex enumerates only its higher-degree-or-later neighbors:
    * wedge volume is Σ C(outdeg, 2), arboricity-bounded (O(E^1.5) worst
    * case), instead of a hub's full degree squared. Wedge closure is one
    * more keyed equi-join against the edge set. No cartesian, no windows.
    */
  private def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orientation key (degree, node): total order, so each undirected edge
    // gets exactly one direction lo -> hi
    val keyed = und
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
    // each triangle's minimum-(degree, id) node is the ONLY corner with
    // out-edges to both others, so building wedges at apexes (hi < hi2 to
    // pick one of the two symmetric forms) finds every triangle exactly
    // once when the closing edge exists
    val wedges = keyed.as("e1")
      .join(keyed.select(col("lo"), col("hi").as("hi2")).as("e2"), Seq("lo"))
      .filter(col("hi") < col("hi2"))
      .select(col("lo").as("apex"), col("hi").as("x"), col("hi2").as("y"))
    // wedge pairs are id-ordered (x < y), so the closing edge probes the
    // id-ordered undirected set — a plain two-key equi-join (an OR over
    // the two orientations would plan as a nested loop)
    wedges.join(und, col("x") === col("a") && col("y") === col("b"))
      .select(col("apex"), col("x"), col("y"))
  }

  /** Common-neighbors link prediction: for node pairs NOT already joined
    * by an edge, the number of shared neighbors — the classic
    * link-prediction baseline. Returns the top `k` candidate pairs by
    * (common-neighbor count desc, a, b), id-ordered a < b.
    *
    * Scale shape: wedge volume is Σ deg(m)² over MIDDLE nodes, so one hub
    * makes it quadratic. `maxDegree` drops hub middles before wedge
    * building — principled, not just defensive: a shared neighbor with
    * millions of edges carries no affinity signal (the stopword argument,
    * q106's df cap in graph form). Everything is keyed equi-joins + one
    * aggregate; the top-k is `TakeOrderedAndProject` via orderBy+limit.
    */
  def commonNeighborLinks(edges: DataFrame, k: Int,
                          maxDegree: Long = 10000L,
                          srcCol: String = "src",
                          dstCol: String = "dst"): DataFrame = {
    // deduped edges feed three scans (adjacency both ways + the anti
    // join) and the candidate census replays the adjacency twice more —
    // materialize once IF the input is a big un-materialized build, the
    // same Sizing gate (and full rationale) as triangleCount's checkpoint
    val undLazy = undirected(edges, srcCol, dstCol)
    val und =
      if (graft.core.Sizing.materializeForFanout(edges))
        undLazy.localCheckpoint(true)
      else undLazy
    val adj = und.select(col("a").as("m"), col("b").as("n"))
      .unionAll(und.select(col("b").as("m"), col("a").as("n")))
    val deg = adj.groupBy("m").agg(count(lit(1)).as("d"))
    val slim = adj.join(deg.filter(col("d") <= maxDegree), Seq("m"))
    val cand = slim.select(col("m"), col("n").as("x"))
      .join(slim.select(col("m"), col("n").as("y")), Seq("m"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common_neighbors"))
    cand.join(und, cand("x") === und("a") && cand("y") === und("b"),
        "left_anti")
      .select(col("x").as("a"), col("y").as("b"), col("common_neighbors"))
      .orderBy(col("common_neighbors").desc, col("a"), col("b"))
      .limit(k)
  }

  /** k-core: the maximal subgraph in which every node keeps degree ≥ k,
    * by synchronous iterative peeling — each round drops ALL nodes whose
    * current degree is < k at once, then re-filters the edge list to
    * surviving endpoints. Returns (node, core_degree) for the converged
    * core.
    *
    * Scale shape: a round is one degree aggregate plus two node-keyed
    * semi-join-shaped filters — hash-partitioned on node ids, no windows,
    * no cartesian. The only driver sync per round is the scalar survivor
    * count (the convergence test: peeling is monotone, so an unchanged
    * count means an unchanged set). Each round's surviving edge set is an
    * eager snapshot ([[graft.core.Snapshot]]), so plan size stays bounded
    * however deep the peel goes; degeneracy-ordered corpora converge in
    * O(peel-depth) rounds, each a fraction of the previous edge volume.
    */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "src",
            dstCol: String = "dst", maxRounds: Int = 100,
            oracleRounds: Int = -1): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "k, maxRounds >= 1")
    Snapshot.loop("kcore") { loop =>
      // eager: every peel round re-reads the edge set
      var cur = loop.rotate(loop.take(undirected(edges, srcCol, dstCol),
        eager = true))
      var survivors = -1L
      var round = 0
      var done = false
      while (!done && round < maxRounds) {
        round += 1
        loop.round(round) {
          // cached: the survivor set feeds the count AND two endpoint joins
          val keep = cur.select(col("a").as("n"))
            .unionAll(cur.select(col("b").as("n")))
            .groupBy("n").agg(count(lit(1)).as("d"))
            .filter(col("d") >= k).select(col("n"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val kept = keep.count()
          if (kept == survivors) done = true
          else {
            survivors = kept
            // eager: materialized now, while `keep` is still cached
            cur = loop.rotate(loop.take(
              cur.join(keep.withColumnRenamed("n", "a"), "a")
                .join(keep.withColumnRenamed("n", "b"), "b")
                .select(col("a"), col("b")), eager = true))
          }
          // keep's only consumers (count + the joins into cur) have
          // materialized by here
          keep.unpersist(false)
        }
      }
      // loud overrun check: the gate oracles replay the peel as a FIXED
      // unrolled round count — a convergence depth past the unroll would
      // otherwise surface as a silent hash mismatch at some new scale
      // factor instead of a named error (rounds past convergence are
      // no-ops on both engines, so <= is the correct bound)
      val peels = if (done) round - 1 else round
      if (oracleRounds > 0 && (!done || peels > oracleRounds))
        throw new IllegalStateException(
          s"kCore(k=$k) used $peels peel rounds (converged=$done) but the " +
            s"oracle unrolls only $oracleRounds — regenerate the oracle")
      cur.select(col("a").as("node")).unionAll(cur.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_degree"))
        .filter(col("core_degree") >= k)
    }
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own community; each round ALL nodes simultaneously
    * adopt their neighbors' most frequent label, ties to the smallest
    * label — fully deterministic, so a SQL oracle can replay the rounds
    * exactly (the usual async/random-order LPA is not). Nodes with no
    * neighbors keep their own label. Returns (node, community) after
    * `rounds` rounds.
    *
    * Scale shape: a round is one neighbor-label join + a two-level hash
    * aggregate — the (count desc, label asc) argmax is `min(struct(-c,
    * lab))`, scalar-only so the partial aggregate collapses votes
    * map-side (the pqAssign rule), never a per-node sort window. Both
    * loop inputs are eager snapshots (r18: q314's consumer action spent
    * 5.3–6.0 s optimizing `rounds` copies of the caller's edge build for a
    * ~0.08 s job); the rounds run under `Snapshot.Loop.iterate` and the
    * result stays lazy ([[graft.core.Snapshot]]).
    */
  def labelPropagation(nodes: DataFrame, nodeCol: String,
                       edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst", rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    Snapshot.loop("lpa") { loop =>
      val und = undirected(edges, srcCol, dstCol)
      val sym = loop.take(und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v"))), eager = true)
      val n = loop.take(nodes.select(col(nodeCol).as("u")), eager = true)
      loop.iterate(n.withColumn("lab", col("u")), rounds) { labels =>
        val votes = sym
          .join(labels.withColumnRenamed("u", "v"), "v")
          .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(min(struct(-col("c"), col("lab"))).as("_m"))
          .select(col("u"), col("_m.lab").as("_new"))
        n.join(votes, Seq("u"), "left")
          .select(col("u"), coalesce(col("_new"), col("u")).as("lab"))
      }.select(col("u").as("node"), col("lab").as("community"))
    }
  }

  /** k-truss: the maximal subgraph in which every edge participates in
    * ≥ k−2 triangles, by synchronous support peeling — each round drops
    * ALL under-supported edges at once and recomputes. The edge-cohesion
    * sibling of the node-degree k-core: a k-core can be held together by
    * hub stars, a k-truss demands actual triangle density. Returns the
    * surviving (a, b, support) edges, id-ordered a < b.
    *
    * Scale shape: support is the triangle wedge join (the q118
    * machinery) — two keyed equi-joins through the symmetrized adjacency,
    * then an edge-keyed count; a round adds one inner join back to the
    * edge list. Driver sync per round is the scalar surviving-edge count.
    * Each round's survivors are an eager snapshot, so round i+1's wedge
    * join (it reads the edge set three times) runs over a leaf instead of
    * replaying the peel chain ([[graft.core.Snapshot]]).
    */
  def kTruss(edges: DataFrame, k: Int, srcCol: String = "src",
             dstCol: String = "dst", maxRounds: Int = 100,
             oracleRounds: Int = -1): DataFrame = {
    require(k >= 3 && maxRounds >= 1, "k >= 3, maxRounds >= 1")
    // Two physically different, value-identical support strategies — the
    // choice is a scalar density probe, AQE-style: per-edge triangle
    // support is the same number whether wedges enumerate symmetrically
    // or degree-oriented, so picking by average degree cannot move a hash
    // gate.
    //
    // SPARSE (avg degree ≤ the threshold): symmetric common-neighbor
    // join — two keyed equi-joins through the symmetrized adjacency.
    // Wedge volume is Σ deg(u)², fine when degrees are small, and it
    // skips the orientation machinery (a degree aggregate + two joins),
    // which on the sf0.1 gate graph (avg deg ~30) is pure overhead
    // (~1.5 s of the ~2.5 s total).
    def supportSymmetric(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      cur
        .join(sym.select(col("u").as("a"), col("v").as("w")), Seq("a"))
        .join(sym.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    // DENSE: degree-ORIENTED triangle enumeration (orientedTriangles, as
    // in triangleCount), then each found triangle exploded onto its three
    // edges — each triangle reaches each edge exactly once, so the counts
    // match the symmetric form. On the 10× scale rehearsal's near-clique
    // co-activity graph (avg deg 305, Σ deg² = 1.4e9) the symmetric form's
    // peel rounds ran minutes each.
    def supportOriented(cur: DataFrame): DataFrame =
      orientedTriangles(cur)
        .select(explode(array(
          struct(least(col("apex"), col("x")).as("a"),
            greatest(col("apex"), col("x")).as("b")),
          struct(least(col("apex"), col("y")).as("a"),
            greatest(col("apex"), col("y")).as("b")),
          struct(col("x").as("a"), col("y").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    Snapshot.loop("ktruss") { loop =>
      // eager: the first round's wedge join reads the edge set several
      // times, and the density probe below reads it first
      val und = loop.take(undirected(edges, srcCol, dstCol), eager = true)
      val vc = und.select(col("a")).unionAll(und.select(col("b")))
        .agg(countDistinct(col("a")).as("v"), count(lit(1)).as("e2")).head()
      val avgDeg =
        if (vc.getLong(0) == 0L) 0.0
        else vc.getLong(1).toDouble / vc.getLong(0)
      val support: DataFrame => DataFrame =
        if (avgDeg > 64.0) supportOriented else supportSymmetric
      // surviving-edge count as the probe; on the converging round the
      // (equal) new snapshot replaces the previous one
      val r = loop.untilStable(und, None, maxRounds, eager = true) { cur =>
        support(cur).filter(col("support") >= k - 2).select(col("a"), col("b"))
      }(_.count())
      // same loud unroll-depth contract as kCore: a peel deeper than the
      // oracle's fixed round count must be a named error, not a silent
      // hash mismatch
      val peels = if (r.converged) r.rounds - 1 else r.rounds
      if (oracleRounds > 0 && (!r.converged || peels > oracleRounds))
        throw new IllegalStateException(
          s"kTruss(k=$k) used $peels peel rounds (converged=${r.converged}) " +
            s"but the oracle unrolls only $oracleRounds — regenerate the oracle")
      r.frame.join(support(r.frame), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
        .filter(col("support") >= k - 2)
    }
  }
}
