package graft

import graft.operators.{Analytics, Dedup, Graph}
import org.apache.spark.sql.functions._

/** Pins the warehouse-analytics operators (Analytics.scala), fixed-point
  * PageRank (Graph.scala), and the edit-distance verify stage on small
  * hand-computable inputs.
  */
class AnalyticsGraphSpec extends SparkSpec {
  import spark.implicits._

  test("profile: null/distinct counts and portable min/max strings") {
    val df = Seq(
      (1L, Some(2.5), "b"),
      (2L, None, "a"),
      (2L, Some(10.0), "c")).toDF("id", "v", "s")
    val rows = Analytics.profile(df, Seq("id", "v", "s"))
      .orderBy("col_name")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getLong(5)))
    assert(rows.toSeq == Seq(
      ("id", 0L, 2L, "1", "2", 3L),
      ("s", 0L, 3L, "a", "c", 3L),
      ("v", 1L, 2L, "2.50", "10.00", 3L)))
  }

  test("profile: approx-distinct path keeps the schema and drops Expand") {
    val df = Seq(
      (1L, Some(2.5), "b"),
      (2L, None, "a"),
      (2L, Some(10.0), "c")).toDF("id", "v", "s")
    val exact = Analytics.profile(df, Seq("id", "v", "s"))
    val approx = Analytics.profile(df, Seq("id", "v", "s"),
      exactDistinct = false)
    assert(approx.schema == exact.schema,
      "both distinct strategies must return the same profile schema")
    assert(exact.queryExecution.executedPlan.toString.contains("Expand"),
      "exact multi-distinct plans Catalyst's Expand rewrite")
    assert(!approx.queryExecution.executedPlan.toString.contains("Expand"),
      "approx path must aggregate without multiplying scan rows")
    // HLL++ is exact at these cardinalities; values equal on tiny input
    assert(approx.orderBy("col_name").collect().map(_.getLong(2)).toSeq ==
      Seq(2L, 3L, 2L))
  }

  test("cohortRetention: first-day cohorts with integer day offsets") {
    val df = Seq(
      // user 1 first active day 0, returns day 2
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 12:00:00"),
      (1L, "2024-01-03 09:00:00"),
      // user 2 first active day 2 only
      (2L, "2024-01-03 23:00:00"))
      .toDF("u", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val rows = Analytics.cohortRetention(df, "u", "ts", "2024-01-01")
      .orderBy("cohort_day", "day_offset")
      .as[(Long, Long, Long)].collect()
    assert(rows.toSeq == Seq((0L, 0L, 1L), (0L, 2L, 1L), (2L, 0L, 1L)))
  }

  test("funnel: strictly-ordered min-ts chain, out-of-order steps drop") {
    val events = Seq(
      // user 1 completes signup -> click -> purchase in order
      (1L, "signup", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      // user 2 clicked BEFORE signup: the click never counts, so the
      // purchase is unreachable too
      (2L, "click", 1L), (2L, "signup", 2L), (2L, "purchase", 3L),
      // user 3 signup only
      (3L, "signup", 5L))
      .toDF("u", "et", "tsec")
      .withColumn("ts", timestamp_seconds(col("tsec")))
    val rows = Analytics
      .funnel(events, "et", "u", "ts", Seq("signup", "click", "purchase"))
      .orderBy("step_idx")
      .as[(Long, String, Long)].collect()
    assert(rows.toSeq == Seq(
      (1L, "signup", 3L), (2L, "click", 1L), (3L, "purchase", 1L)))
  }

  test("twap: interval-weighted mean, last observation drops out") {
    // value 10 held 3s, value 20 held 1s, value 99 has no interval
    val df = Seq((1L, 10.0, 0L), (1L, 20.0, 3L), (1L, 99.0, 4L))
      .toDF("k", "v", "tsec")
      .withColumn("ts", timestamp_seconds(col("tsec")))
    val r = Analytics.twap(df, "v", "ts", Seq("k")).collect().head
    assert(r.getAs[Double]("twap") == 12.5) // (10*3 + 20*1) / 4
    assert(r.getAs[Double]("mean_v") == 43.0) // (10+20+99)/3
    assert(r.getAs[Long]("n_obs") == 3L)
  }

  test("scd2: run-length history with open current row and ts tiebreak") {
    val df = Seq(
      (1L, "A", 10L), (1L, "A", 20L), (1L, "B", 30L), (1L, "A", 40L),
      (2L, "X", 5L)).toDF("k", "st", "tsec")
      .withColumn("ts", timestamp_seconds(col("tsec")))
    val got = Analytics.scd2(df, "k", "st", "ts")
      .select(col("k"), col("st"), col("valid_from").cast("long"),
        col("valid_to").cast("long"), col("is_current"))
      .orderBy("k", "valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, "A", 10L, Some(30L), false),
      (1L, "B", 30L, Some(40L), false),
      (1L, "A", 40L, None, true),
      (2L, "X", 5L, None, true)))
  }

  test("rollingRange: trailing frame is microsecond-inclusive both ends") {
    val df = Seq(
      (1L, 0L, 1.0), (1L, 1800L, 2.0), (1L, 3600L, 4.0), (1L, 7201L, 8.0))
      .toDF("k", "tsec", "v")
      .withColumn("ts", timestamp_seconds(col("tsec")))
    val got = Analytics.rollingRange(df, "k", "ts", "v", windowSec = 3600L)
      .orderBy("tsec")
      .select(col("n_win"), col("sum_win"))
      .as[(Long, Double)].collect().toSeq
    // the t=3600 row still sees t=0 (both frame ends inclusive);
    // t=7201 sees only itself (7201 - 3600 = 3601 > 3600)
    assert(got == Seq((1L, 1.0), (2L, 3.0), (3L, 7.0), (1L, 8.0)))
  }

  test("aggState merge across any split equals the one-pass aggregate") {
    val df = Seq((1L, 2.5), (1L, -1.0), (1L, 4.0), (2L, 7.0), (3L, 0.5))
      .toDF("k", "v")
    def render(s: org.apache.spark.sql.DataFrame) =
      s.orderBy("k").select(col("k"), col("n"),
        col("s").cast("double"), col("mn"), col("mx"))
        .as[(Long, Long, Double, Double, Double)].collect().toSeq
    val whole = render(Analytics.aggState(df, "k", "v"))
    val merged = render(Analytics.mergeAggStates(
      Analytics.aggState(df.filter(col("v") > 0), "k", "v"),
      Analytics.aggState(df.filter(col("v") <= 0), "k", "v")))
    assert(merged == whole)
    assert(whole == Seq((1L, 3L, 5.5, -1.0, 4.0), (2L, 1L, 7.0, 7.0, 7.0),
      (3L, 1L, 0.5, 0.5, 0.5)))
  }

  test("applyChangelog: latest wins, D deletes, untouched keys pass through") {
    val snap = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val chg = Seq(
      (1L, 11.0, 100L, "U"), (1L, 12.0, 200L, "U"), // latest U wins
      (2L, 0.0, 150L, "D"),                          // delete
      (4L, 40.0, 50L, "U"))                          // insert (no snapshot)
      .toDF("k", "v", "tsec", "op")
      .withColumn("ts", timestamp_seconds(col("tsec")))
    val got = Analytics.applyChangelog(snap, chg, "k", "v", "ts", "op")
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 12.0), (3L, 30.0), (4L, 40.0)))
  }

  test("rsi: hand-computed Cutler form, zero-loss convention = 100") {
    val df = Seq((1L, 10.0, 1L), (1L, 11.0, 2L), (1L, 9.0, 3L),
      (1L, 12.0, 4L), (2L, 5.0, 1L), (2L, 6.0, 2L), (2L, 7.0, 3L))
      .toDF("k", "v", "i")
      .withColumn("ts", timestamp_seconds(col("i")))
    val got = Analytics.rsi(df, "k", "v", "ts", "i", periods = 2)
      .select(col("k"), col("i"), col("rsi"))
      .orderBy("k", "i").as[(Long, Long, Double)].collect().toSeq
    // k=1: deltas +1,-2,+3 → frames (1,2): 100-100/1.5; (3,2): 100-100/2.5
    // k=2: all gains → RSI 100 by the zero-loss convention
    assert(got == Seq((1L, 3L, 33.3333), (1L, 4L, 60.0), (2L, 3L, 100.0)),
      s"hand-computed RSI mismatch: $got")
  }

  test("pageRankFixedPoint: 2-cycle is a fixed point at unit mass") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val rows = Graph.pageRankFixedPoint(edges).orderBy("node")
      .as[(String, Long)].collect()
    assert(rows.toSeq == Seq(("a", 1000000000L), ("b", 1000000000L)))
  }

  test("pageRankFixedPoint: star sinks converge by hand-computed floors") {
    val edges = Seq(("b", "a"), ("c", "a")).toDF("src", "dst")
    val rows = Graph.pageRankFixedPoint(edges).orderBy("node")
      .as[(String, Long)].collect().toMap
    // b,c get base mass only; a = base + 0.85 * (2 * base) after round 2+
    assert(rows("b") == 150000000L && rows("c") == 150000000L)
    assert(rows("a") == 405000000L)
  }

  test("pageRankFixedPoint: 20 iterations stay plan-bounded via checkpoints") {
    // 2-cycle at unit mass is invariant under any iteration count, so the
    // values pin correctness while the iteration count exercises the
    // lineage truncation: snapshots every 8 rounds, so the 20-round frame
    // must be rooted in a checkpoint snapshot (LogicalRDD), not 20 rounds
    // of joins, and only the rounds after the last checkpoint remain as plan.
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val ranks = Graph.pageRankFixedPoint(edges, iterations = 20)
    val joins = ranks.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    // 3 joins per round; last checkpoint fires at round 16, so at most the
    // final 4 rounds (12 joins) may remain — untruncated would be 60
    assert(joins <= 12,
      s"lineage must truncate at checkpoints, saw $joins joins")
    assert(ranks.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty, "frame must be rooted in a localCheckpoint snapshot")
    val rows = ranks.orderBy("node").as[(String, Long)].collect()
    assert(rows.toSeq == Seq(("a", 1000000000L), ("b", 1000000000L)))
  }

  test("triangleCount: K4 plus a pendant, duplicates and reversals collapse") {
    // K4 on {1,2,3,4} has 4 triangles, every corner in 3; node 5 dangles
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L),           // reversed duplicate
      (3L, 3L),           // self loop
      (5L, 1L)).toDF("src", "dst")
    val got = Graph.triangleCount(edges).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)),
      s"K4 corners sit in 3 triangles each, pendant in none: $got")
  }

  test("commonNeighborLinks: square predicts its diagonals; hub cap prunes") {
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = Graph.commonNeighborLinks(square, k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L), (2L, 4L, 2L)),
      s"both diagonals share two neighbors: $got")
    // a 3-spoke star with maxDegree=2 drops the only middle node
    val star = Seq((10L, 20L), (10L, 21L), (10L, 22L)).toDF("src", "dst")
    assert(Graph.commonNeighborLinks(star, k = 10, maxDegree = 2L)
      .count() == 0L, "hub middles above the cap contribute no wedges")
    assert(Graph.commonNeighborLinks(star, k = 10).count() == 3L,
      "uncapped, the spokes pair through the hub")
  }

  test("editDistanceVerify: exact Levenshtein + normalized similarity") {
    val pairs = Seq(("kitten", "sitting")).toDF("ta", "tb")
    val r = Dedup.editDistanceVerify(pairs, col("ta"), col("tb"))
      .collect().head
    assert(r.getAs[Long]("edit_dist") == 3L)
    assert(math.abs(r.getAs[Double]("edit_sim") - (1.0 - 3.0 / 7)) < 1e-12)
  }

  test("kCore: triangle survives a two-round tendril peel; 3-core empty") {
    // triangle {1,2,3} with a path tendril 3-4-5: round 1 peels 5
    // (degree 1), round 2 peels the now-exposed 4 — a genuinely
    // multi-round peel, not a single filter
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val core = Graph.kCore(edges, 2).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(core == Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      s"2-core must be exactly the triangle at degree 2: $core")
    assert(Graph.kCore(edges, 3).count() == 0L,
      "no node keeps 3 neighbors once peeling cascades")
  }

  test("labelPropagation: bridged triangles split, isolated keeps own label") {
    // two triangles joined by a bridge 3-4, plus isolated node 7: three
    // deterministic sync rounds settle each triangle on its own minimum
    // label (hand-traced: ties at round 1 pull toward the smaller ids,
    // the bridge never overcomes the triangle majority)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val nodes = (1L to 7L).toDF("n")
    val got = Graph.labelPropagation(nodes, "n", edges, rounds = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L),
      (6L, 3L), (7L, 7L)), s"hand-traced LPA mismatch: $got")
  }

  test("kTruss: diamond supports survive at k=3, cascade to empty at k=4") {
    // diamond 1-2-3-4 with chord (1,3): the chord sits in both triangles
    // (support 2), every rim edge in one. 3-truss keeps all five; the
    // 4-truss peel removes the rim (support 1 < 2) in round 1, which
    // strands the chord at support 0 in round 2 — a genuine cascade
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val t3 = Graph.kTruss(edges, 3).orderBy("a", "b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(t3 == Seq((1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 1L),
      (2L, 3L, 1L), (3L, 4L, 1L)), s"3-truss supports mismatch: $t3")
    assert(Graph.kTruss(edges, 4).count() == 0L,
      "the 4-truss peel must cascade through the chord to empty")
  }

  test("kCore: deep path peel stays plan-bounded via checkpoints") {
    // a 21-node path peels from both ends, one layer per round (~10
    // rounds): the converged frame must be rooted in a localCheckpoint
    // snapshot, not 10 rounds of join lineage
    val path = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val core = Graph.kCore(path, 2)
    assert(core.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty, "frame must be rooted in a localCheckpoint snapshot")
    assert(core.count() == 0L, "a path has no 2-core")
  }

  test("kCore/kTruss: peel deeper than the oracle unroll fails LOUDLY") {
    // the gate oracles replay the peel as a FIXED unrolled round count;
    // a convergence depth past it must be a named error, not a silent
    // hash mismatch at some new scale factor. The 21-node path needs 10
    // peel rounds — an oracle claiming 3 must throw.
    val path = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.kCore(path, 2, oracleRounds = 3).count()
    }
    assert(e.getMessage.contains("oracle unrolls only 3"), e.getMessage)
    // generous unrolls pass: extra rounds past convergence are no-ops
    assert(Graph.kCore(path, 2, oracleRounds = 50).count() == 0L)
    val diamond = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val e2 = intercept[IllegalStateException] {
      // the 4-truss cascade needs 2 peel rounds (+1 confirm)
      Graph.kTruss(diamond, 4, oracleRounds = 1).count()
    }
    assert(e2.getMessage.contains("oracle unrolls only 1"), e2.getMessage)
    assert(Graph.kTruss(diamond, 3, oracleRounds = 4).count() == 5L)
  }

  test("iterative operators hold exactly the snapshots Snapshot documents") {
    // graft.core.Snapshot's retention contract: after each operator
    // returns, the RDDs it left persisted are exactly the snapshot leaves
    // its lazy result reads, as many as the contract lists
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L to 6L).toDF("n")
    val diamond = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val cases = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("connectedComponents", 1,
        () => Dedup.connectedComponents(nodes, "n", path, "src", "dst")),
      ("pageRankFixedPoint", 1, () => Graph.pageRankFixedPoint(path)),
      ("pageRankFixedPoint past 8 rounds", 2,
        () => Graph.pageRankFixedPoint(path, iterations = 20)),
      ("labelPropagation", 2, () => Graph.labelPropagation(nodes, "n", path)),
      ("labelPropagation past 8 rounds", 3,
        () => Graph.labelPropagation(nodes, "n", path, rounds = 10)),
      ("kCore", 1, () => Graph.kCore(diamond, 2)),
      ("kTruss", 1, () => Graph.kTruss(diamond, 3)))
    for ((name, documented, op) <- cases) {
      val (out, residue) = persistResidue(op())(snapshotIds)
      assert(residue.isEmpty,
        s"$name: persisted RDDs differ from the result's snapshots: $residue")
      assert(snapshotIds(out).size == documented,
        s"$name holds ${snapshotIds(out).size} snapshots, documented $documented")
    }
  }

  test("kTruss: dense graph takes the oriented-support path, same values") {
    // K70 (avg degree 69 > the 64 density threshold) routes support
    // counting through oriented triangle enumeration; every edge of a
    // complete graph sits in exactly n-2 triangles, so the value
    // contract between the two strategies is directly checkable
    val n = 70L
    val k70 = for (i <- 0L until n; j <- (i + 1) until n) yield (i, j)
    val t = Graph.kTruss(k70.toDF("src", "dst"), 3)
    assert(t.count() == n * (n - 1) / 2, "all K70 edges survive a 3-truss")
    val sup = t.select("support").distinct().as[Long].collect().toSeq
    assert(sup == Seq(n - 2),
      s"every K70 edge sits in exactly ${n - 2} triangles: $sup")
  }

  test("coActivityEdges: adversarial hot bucket stays bounded and inert" +
      " buckets pass through") {
    // one (type, minute) bucket with 10^4 users would emit 5*10^7 pairs
    // uncapped — the 100 TB hot-minute scenario. With bucketCap=50 the
    // builder must keep exactly 50 deterministically-chosen members
    // (<=1225 pairs) and leave the small bucket's pairs untouched.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val hot = (0L until 10000L).map(u => (u, "click", base))
    val cold = Seq((20001L, "view", base), (20002L, "view", base),
      (20003L, "view", base))
    val ev = (hot ++ cold).toDF("user_id", "event_type", "ts")
    val got = Graph.coActivityEdges(ev, bucketCap = 50)
    val total = got.count()
    assert(total == 50L * 49L / 2L + 3L,
      s"hot bucket capped at 50 members + the cold clique, got $total")
    val coldPairs = got.filter(col("src") >= 20000L).orderBy("src", "dst")
      .as[(Long, Long)].collect().toSeq
    assert(coldPairs == Seq((20001L, 20002L), (20001L, 20003L),
      (20002L, 20003L)),
      "a bucket under the cap must produce its full clique untouched")
    // determinism: the kept member set is a (xxhash64, id)-ordered prefix,
    // identical under any input partitioning
    val canon = got.orderBy("src", "dst").collect().toSeq
    val reparted = Graph.coActivityEdges(ev.repartition(13), bucketCap = 50)
      .orderBy("src", "dst").collect().toSeq
    assert(canon == reparted, "capped edge set must not depend on layout")
    // default caps on the adversarial bucket: bucketCap=1024 first bounds
    // the 10^4-user bucket to a K1024, then degreeCap=96 mutual-kNN prunes
    // it. On a uniform-weight clique the mutual rule has a closed form:
    // under the global (xxhash64, id) order every node keeps the 97
    // smallest-ranked others, so exactly the top-97 nodes survive as a
    // clique — C(97,2) edges — and the under-cap cold clique is untouched
    val free = Graph.coActivityEdges(ev)
    assert(free.count() == 97L * 96L / 2L + 3L,
      "mutual top-96 of a uniform clique keeps the 97-node hash prefix")
    assert(free.filter(col("src") >= 20000L).count() == 3L)
    val maxDeg = free.select(col("src").as("n"))
      .unionAll(free.select(col("dst").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).as[Long].head()
    assert(maxDeg <= 96L, s"degreeCap must hard-bound degrees, got $maxDeg")
  }

  test("coActivityEdges: degree cap keeps strongest ties, is deterministic," +
      " and assertUncapped fails loud") {
    // hub 0 shares TWO buckets with users 1..3 (weight 2) and one with
    // users 4..10 (weight 1); degreeCap=3 must keep exactly the weight-2
    // ties — the strongest-ties contract, not an arbitrary sample. Spokes
    // 1..3 see only the hub plus each other's shared minute, so mutual
    // keeping holds.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:05:00")
    val strong = (1L to 3L).flatMap(u =>
      Seq((0L, "click", t0), (u, "click", t0), (0L, "click", t1),
        (u, "click", t1)))
    val weak = (4L to 10L).map(u => (u, "view", t0)) :+ ((0L, "view", t0))
    val ev = (strong ++ weak).toDF("user_id", "event_type", "ts")
    val got = Graph.coActivityEdges(ev, degreeCap = 3)
      .orderBy("src", "dst").as[(Long, Long)].collect().toSeq
    assert(got.filter(_._1 == 0L) == Seq((0L, 1L), (0L, 2L), (0L, 3L)),
      s"hub must keep its three weight-2 ties, got $got")
    // determinism under layout
    val rep = Graph.coActivityEdges(ev.repartition(7), degreeCap = 3)
      .orderBy("src", "dst").as[(Long, Long)].collect().toSeq
    assert(got == rep, "degree-capped edge set must not depend on layout")
    // loud-failure contract (the oracleRounds sibling): a binding cap in
    // an assertUncapped run is a named error, not a silent hash drift
    val exDeg = intercept[IllegalStateException] {
      Graph.coActivityEdges(ev, degreeCap = 3, assertUncapped = true)
        .count()
    }
    assert(exDeg.getMessage.contains("degreeCap"), exDeg.getMessage)
    val hot = (0L until 100L).map(u => (u, "click", t0))
      .toDF("user_id", "event_type", "ts")
    val exB = intercept[IllegalStateException] {
      Graph.coActivityEdges(hot, bucketCap = 50, assertUncapped = true)
        .count()
    }
    assert(exB.getMessage.contains("bucketCap"), exB.getMessage)
    // gate-shaped inertness: under both caps the result equals the plain
    // uncapped distinct self-join (the oracle's exact form)
    val inert = Graph.coActivityEdges(ev)
      .orderBy("src", "dst").as[(Long, Long)].collect().toSeq
    val oracle = Graph.coActivityEdges(ev, bucketCap = 1000000,
        degreeCap = 1000000)
      .orderBy("src", "dst").as[(Long, Long)].collect().toSeq
    assert(inert == oracle, "caps must be value-inert under the thresholds")
  }

  test("buildEdgeTable: persisted probe equals the inline build; bucket " +
      "layout lands in the catalog; rebuild overwrites") {
    // a clique bucket (triangles) plus a second bucket adding weight —
    // big enough that the probe exercises real wedges, small enough to
    // hand-check the round trip
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:05:00")
    val ev = ((0L to 5L).map(u => (u, "click", t0)) ++
      (2L to 4L).map(u => (u, "view", t1)))
      .toDF("user_id", "event_type", "ts")
    val inline = Graph.coActivityEdges(ev)
      .orderBy("src", "dst").as[(Long, Long)].collect().toSeq
    val tbl = "graft_bkt_edges_spec"
    try {
      val n = Graph.buildEdgeTable(ev, tbl, numBuckets = 4)
      assert(n == inline.size.toLong, "build returns the edge census")
      val persisted = spark.table(tbl)
        .orderBy("src", "dst").as[(Long, Long)].collect().toSeq
      assert(persisted == inline,
        "the bucketed round trip must be value-neutral")
      // the co-location contract: the catalog must carry the bucket spec
      // (plain .parquet files would silently lose it)
      val desc = spark.sql(s"DESCRIBE EXTENDED $tbl").collect()
        .map(r => s"${r.get(0)} ${r.get(1)}").mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("4"),
        s"bucket metadata missing from catalog:\n$desc")
      // probe == inline consumer (the q345 equivalence, spec-local)
      val probe = Graph.triangleCount(spark.table(tbl))
        .orderBy("node").collect().toSeq
      val direct = Graph.triangleCount(Graph.coActivityEdges(ev))
        .orderBy("node").collect().toSeq
      assert(probe == direct,
        "triangle census from the table must equal the inline build")
      // rebuild = drop-and-replace, same census (the freshness contract)
      assert(Graph.buildEdgeTable(ev, tbl, numBuckets = 4) == n)
      assert(spark.table(tbl).count() == n)
    } finally graft.operators.Exporter.dropBucketed(spark, tbl)
  }
}
