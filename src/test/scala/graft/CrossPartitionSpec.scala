package graft

import scala.collection.immutable.ListMap

import graft.core.GraftConfig
import graft.operators.{FastFill, Normalize, RangeScan, Reporting, Runner}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The RANGE layout contract: a series spanning many consecutive ordered
  * partitions must repair/aggregate EXACTLY like the same series laid out
  * on one partition — the cross-partition seeds (grid continuation, ffill
  * carry, interpolation neighbors, SMA ring priming) are pure plumbing —
  * and a frame that is not in the layout fails with the named error.
  *
  * The fixture is adversarial on purpose: leading/trailing null runs, a
  * null run and a missing-stamp gap that both straddle partition
  * boundaries, off-grid rows that must drop, and a second symbol to check
  * key-run isolation.
  */
class CrossPartitionSpec extends SparkSpec {

  private val t0 = 1700000000000000L // epoch micros, on a 1-min grid

  /** Two symbols, 1-min grid with holes/nulls engineered to straddle any
    * 16-way range split of 4000 rows.
    */
  private def fixture(): DataFrame = {
    val rows = for {
      sym <- Seq("AAA", "BBB")
      i <- 0 until 4000
      // missing stamps: a 7-row gap every 250 rows, one 400-row gap
      if !(i % 250 >= 110 && i % 250 < 117) && !(sym == "AAA" && i >= 2100 && i < 2500)
      // BBB ends earlier so the global max stamp is unique (max_by ties are
      // nondeterministic across engines; parity on ties is not contractual)
      if !(sym == "BBB" && i >= 3800)
    } yield {
      val us = t0 + i * 60000000L
      val close: java.lang.Double =
        if (i < 5) null // leading nulls (partition 0 edge fill)
        else if (i % 500 >= 240 && i % 500 < 260) null // null runs (interp)
        else if (i >= 3990) null // trailing nulls
        else 1.0 + (i % 97) * 0.01 + (if (sym == "AAA") 0.0 else 5.0)
      val vol: java.lang.Double =
        if (i % 300 < 30) null else 100.0 + i % 13
      Row(sym, new java.sql.Timestamp(us / 1000L), close, vol)
    }
    // off-grid rows (17s/18s offsets) that reindex must drop; stamps stay
    // globally unique and BBB's global max stays below AAA's — max_by ties
    // are nondeterministic and parity on them is not contractual
    val offGrid = Seq("AAA", "BBB").flatMap(sym =>
      (0 until (if (sym == "AAA") 50 else 30)).map { i =>
        val off = if (sym == "AAA") 17000000L else 18000000L
        Row(sym, new java.sql.Timestamp((t0 + i * 97 * 60000000L + off) / 1000L),
          9.99: java.lang.Double, 1.0: java.lang.Double)
      })
    val schema = StructType(Seq(
      StructField("SYMBOL", StringType), StructField("TIMESTAMP", TimestampType),
      StructField("CLOSE", DoubleType), StructField("VOLUME", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows ++ offGrid), 8),
      schema)
  }

  /** The fixture laid out on `parts` range partitions, pinned (cached). */
  private def laidOut(df: DataFrame, parts: Int, keys: Seq[String] = Seq("SYMBOL")): DataFrame = {
    val laid = RangeScan.layout(df, keys, partitions = Some(parts)).cache()
    assert(laid.count() > 0 && laid.rdd.getNumPartitions == parts)
    laid
  }

  private def collectSorted(df: DataFrame,
                            order: Seq[String] = Seq("SYMBOL", "TIMESTAMP")): Seq[Seq[Any]] =
    df.orderBy(order.map(col): _*).collect()
      .map(_.toSeq.map {
        case d: Double => math.round(d * 1e9) // exact-arithmetic compare
        case x => x
      }.toSeq).toSeq

  private def fill(df: DataFrame, keys: Seq[String] = Seq("SYMBOL")): DataFrame =
    FastFill.fill(df, Seq("VOLUME"), Seq("CLOSE"), "TIMESTAMP", 60000000L,
      partitionCols = keys)

  /** SMA summaries with doubles rounded for an exact-arithmetic compare. */
  private def rounded(indicators: Any) =
    indicators.asInstanceOf[ListMap[String, ListMap[String, Any]]]
      .map { case (k, v) => k -> v.map { case (k2, x) => k2 -> (x match {
        case d: Double => math.round(d * 1e9)
        case other => other
      })}}

  private def smas(df: DataFrame, keys: Seq[String] = Seq("SYMBOL")) =
    rounded(Reporting.dataQualityReport(df, partitionCols = keys,
      knownDistinctTs = true)("indicators"))

  test("FastFill on an N-partition layout matches the 1-partition layout exactly") {
    // the layouts are CACHED, as the Runner's normalize output is: the
    // anchor job, the summary pass and the fill scan then read one pinned
    // partitioning
    val one = laidOut(fixture(), 1)
    val many = laidOut(one, 16)
    assert(collectSorted(fill(many)) == collectSorted(fill(one)))
    many.unpersist(); one.unpersist()
  }

  test("chunked SMA summaries match the windowed form on a spanning series") {
    val df = fixture().filter(col("TIMESTAMP").isNotNull).cache()
    df.count()
    val one = laidOut(df, 1)
    val many = laidOut(df, 16)
    val oracle = rounded(SmaOracle.summaries(df, Seq(10, 50), Seq("SYMBOL")))
    assert(smas(many) == smas(one))
    assert(smas(many) == oracle)
    many.unpersist(); one.unpersist(); df.unpersist()
  }

  test("frames outside the range layout fail with the named layout error") {
    val df = fixture().filter(col("TIMESTAMP").isNotNull).cache()
    df.count()
    // hash layout sorted within partitions: every partition holds a slice of
    // each series, so per-partition stamp ranges overlap
    val hashed = df.repartition(4).sortWithinPartitions("SYMBOL", "TIMESTAMP")
      .cache()
    hashed.count()
    // the cached fixture itself is shuffled: stamps go backwards and series
    // interleave
    for ((name, bad) <- Seq("shuffled" -> df, "hash-sorted" -> hashed)) {
      val e1 = intercept[RangeScan.LayoutError](fill(bad).count())
      assert(e1.getMessage.contains("FastFill"), s"$name: ${e1.getMessage}")
      val e2 = intercept[RangeScan.LayoutError](smas(bad))
      assert(e2.getMessage.contains("Reporting SMA"), s"$name: ${e2.getMessage}")
    }
    hashed.unpersist(); df.unpersist()
  }

  test("a keyless series laid out over 8 partitions repairs and reports like 1 partition") {
    // one series, no key columns: the same seeded scans with zero keys
    val df = fixture().filter(col("SYMBOL") === "AAA").drop("SYMBOL")
    val one = laidOut(df, 1, Nil)
    val many = laidOut(one, 8, Nil)
    val repaired = collectSorted(fill(many, Nil), Seq("TIMESTAMP"))
    assert(repaired == collectSorted(fill(one, Nil), Seq("TIMESTAMP")))
    // a downstream coalesce runs all 8 scan partitions in one task: seeds
    // must follow the scan's partitions, not the task's
    assert(repaired ==
      collectSorted(fill(many, Nil).coalesce(1), Seq("TIMESTAMP")))
    assert(repaired.length > one.count())
    assert(smas(many, Nil) == smas(one, Nil))
    many.unpersist(); one.unpersist()
  }

  test("keyed dedup emits the range layout with a single exchange and sort") {
    import scala.collection.immutable.ListMap
    val df = fixture()
    val res = Normalize(df,
      ListMap("timestamp" -> Seq("timestamp"), "close" -> Seq("close"),
        "volume" -> Seq("volume")),
      requiredColumns = Seq("CLOSE"), sourceTz = Some("UTC"),
      computeReport = false, partitionCols = Seq("SYMBOL"))
    val plan = res.unsorted.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    val sorts = "Sort ".r.findAllIn(plan).length
    assert(exchanges == 1, s"dedup must add exactly one exchange:\n$plan")
    assert(sorts == 1, s"dedup must add exactly one sort:\n$plan")
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning")
      || plan.toLowerCase.contains("range"), s"range layout expected:\n$plan")
    // and the dedup itself still keeps first-in-file-order per stamp
    val n = res.unsorted.count()
    val distinctStamps = df.filter(col("TIMESTAMP").isNotNull)
      .select("SYMBOL", "TIMESTAMP").distinct().count()
    assert(n == distinctStamps)
  }

  test("a constant series key keeps the range layout with no exchange after it") {
    val base = spark.range(600).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("timestamp"),
      (lit(1.1) + col("id") * 1e-4).as("open"),
      (lit(1.1005) + col("id") * 1e-4).as("high"),
      (lit(1.0995) + col("id") * 1e-4).as("low"),
      (lit(1.1002) + col("id") * 1e-4).as("close"),
      lit(100.0).as("volume"))
    // Catalyst folds the literal key out of the dedup window's partitioning:
    // the range exchange must not keep it, or a hash exchange follows it
    val res = Normalize(base.withColumn("SYMBOL", lit("EURUSD")),
      GraftConfig.defaultColumnsMap, requiredColumns = Seq("CLOSE"),
      sourceTz = Some("UTC"), computeReport = false,
      partitionCols = Seq("SYMBOL"))
    val plan = res.unsorted.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"one exchange, the range exchange:\n$plan")
    assert(plan.contains("rangepartitioning") && !plan.contains("hashpartitioning"),
      s"range layout expected:\n$plan")
    // the pipeline repairs it with the symbol given as a literal or injected
    for (input <- Seq(base.withColumn("symbol", lit("EURUSD")), base)) {
      val out = java.nio.file.Files.createTempDirectory("graft_constkey").toString
      val cfg = GraftConfig(rawPath = out, processedPath = out,
        timeframes = Seq("1T", "5T"), partitionCols = Nil)
      val r = Runner.processDataFrame(spark, input, cfg, None, "EURUSD_const",
        out, computeReports = false)
      assert(r.errors.isEmpty, s"errors: ${r.errors}")
      assert(r.symbol == "EURUSD" && r.exports.map(_.rows) == Seq(600L, 120L))
    }
  }

  test("cross-partition as-of join matches the brute-force oracle on a hot key") {
    import graft.operators.AsofJoin
    val s = AsofOracle.session(spark, 8)
    import s.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // one hot key (u=1) with 3000 events + sparse quotes, two cold keys;
    // quote gaps engineered so several range-partition boundaries fall
    // inside quote-less stretches (the carry seed must cross them)
    val events = (
      (0 until 3000).map(i => (1L, ts(t0 + i * 60000000L), s"h$i")) ++
      (0 until 40).map(i => (2L, ts(t0 + i * 3600000000L), s"c$i")) ++
      Seq((3L, ts(t0), "lonely"))
    ).toDF("user_id", "ts", "name")
    val quotes = (
      // hot key: quotes only every ~500 events, none in the last third
      (0 until 4).map(i => (1L, ts(t0 + i * 500L * 60000000L + 30000000L),
        100.0 + i)) ++
      (0 until 40 by 7).map(i => (2L, ts(t0 + i * 3600000000L), 900.0 + i))
    ).toDF("user_id", "qts", "price")
    val range = AsofJoin.asof(events, quotes, Seq("user_id"),
      "ts", "qts", Seq("price"))

    // the range layout must actually split the hot key across tasks —
    // otherwise this test proves nothing
    val spread = range.filter($"user_id" === 1L)
      .select(expr("spark_partition_id()").as("p")).distinct().count()
    assert(spread > 1, s"hot key confined to $spread partition(s)")

    val qs = quotes.collect().toSeq.map(r =>
      (r.getLong(0), AsofOracle.micros(r.getTimestamp(1)), r.getDouble(2)))
    val want = events.collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getString(2),
        AsofOracle.attach(r.getLong(0), AsofOracle.micros(r.getTimestamp(1)), qs)))
      .sortBy(t => (t._1, t._2.getTime, t._3)).toSeq
    val got = range.orderBy("user_id", "ts", "name").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2),
        Option(r.get(r.fieldIndex("asof_price"))).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got == want,
      "range-partitioned scan must equal the brute-force latest-at-or-before")
  }

  test("as-of seeds follow the scan's partitions under a downstream coalesce") {
    import graft.operators.AsofJoin
    val s = AsofOracle.session(spark, 8)
    import s.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // one hot key, 3000 events a minute apart, one quote 30 s after the
    // first event: every event but the first attaches it, and the carry
    // reaches every later range partition only through its seed
    val events = (0 until 3000).map(i => (1L, ts(t0 + i * 60000000L), i))
      .toDF("user_id", "ts", "eid")
    val quotes = Seq((1L, ts(t0 + 30000000L), 7.0)).toDF("user_id", "qts", "price")
    val out = AsofJoin.asof(events, quotes, Seq("user_id"), "ts", "qts",
      Seq("price"))
    val spread = out.select(expr("spark_partition_id()")).distinct().count()
    assert(spread > 1, s"hot key confined to $spread partition(s)")
    // a coalesce runs all scan partitions in one task: seeds must follow
    // the scan's partitions, not the task's
    for ((name, df) <- Seq("as is" -> out, "coalesced" -> out.coalesce(1)))
      assert(df.filter($"asof_price".isNull).count() == 1L, name)
  }

  test("as-of tolerance nulls stale matches identically in both layouts") {
    import graft.operators.AsofJoin
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // quotes at t0 and t0+100min on the hot key; events march forward a
    // minute apart, so with a 10-minute tolerance exactly events 0..10
    // and 100..110 match — including one boundary-exact case (diff ==
    // tolerance must MATCH, mirroring pandas' closed interval)
    val events = (0 until 200).map(i => (1L, ts(t0 + i * 60000000L), s"e$i"))
    val quotes = Seq((1L, ts(t0), 100.0), (1L, ts(t0 + 100L * 60000000L), 200.0))
    def matched(partitions: Int): Seq[(String, Option[Any])] = {
      val s = AsofOracle.session(spark, partitions)
      import s.implicits._
      AsofJoin.asof(events.toDF("user_id", "ts", "name"),
          quotes.toDF("user_id", "qts", "price"), Seq("user_id"), "ts", "qts",
          Seq("price"), toleranceSec = Some(600L))
        .orderBy("name").collect()
        .map(r => (r.getString(r.fieldIndex("name")),
          Option(r.get(r.fieldIndex("asof_price"))))).toSeq
    }
    val one = matched(1)
    val expectMatched = (0 to 10).map(i => s"e$i").toSet ++
      (100 to 110).map(i => s"e$i").toSet
    assert(one.filter(_._2.isDefined).map(_._1).toSet == expectMatched,
      s"10-min tolerance must keep exactly the fresh matches: $one")
    val qs = quotes.map(q => (q._1, AsofOracle.micros(q._2), q._3))
    val want = events.map(e => (e._3, AsofOracle.attach(e._1,
      AsofOracle.micros(e._2), qs, toleranceUs = Some(600L * 1000000L))))
      .sortBy(_._1)
    assert(one == want, "tolerance must equal the brute-force oracle")
    assert(matched(8) == one,
      "tolerance must behave identically over 8 range partitions")
  }

  test("as-of float keys: NaN and signed zero follow Spark join-key semantics") {
    import graft.operators.AsofJoin
    val s = AsofOracle.session(spark, 8)
    import s.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // ONE logical key under Spark SQL join semantics, alternating
    // -0.0/+0.0 bit patterns row by row, plus a NaN-keyed stretch; a
    // single quote per key right after the first event, so every later
    // event's match rides the run carry — and, across range partitions,
    // the seed. Both corners once missed: each NaN row started a fresh run
    // (IEEE NaN != NaN), and a seed stored under one zero sign was not
    // FOUND under the other at a partition edge (boxed hashCode mismatch).
    // RangeScan's key canonicalization pins Spark's semantics: NaN = NaN
    // for keys, -0.0 = +0.0 always.
    val events = (
      (0 until 2000).map(i => (if (i % 2 == 0) 0.0 else -0.0,
        ts(t0 + i * 60000000L), s"z$i")) ++
      (0 until 50).map(i => (Double.NaN, ts(t0 + i * 60000000L), s"n$i"))
    ).toDF("k", "ts", "name")
    val quotes = Seq(
      (-0.0, ts(t0 + 30000000L), 7.0), // stored under the MINUS sign
      (Double.NaN, ts(t0 + 30000000L), 9.0)
    ).toDF("k", "qts", "price")
    val out = AsofJoin.asof(events, quotes, Seq("k"), "ts", "qts", Seq("price"))
    // the range layout must split the hot zero key across tasks, so the
    // seed lookup actually exercises the canonicalized map key
    val spread = out.filter($"k" === 0.0)
      .select(expr("spark_partition_id()").as("p")).distinct().count()
    assert(spread > 1, s"hot zero key confined to $spread partition(s)")
    val byName = out.collect()
      .map(r => (r.getString(r.fieldIndex("name")),
        Option(r.get(r.fieldIndex("asof_price"))))).toMap
    assert(byName.size == 2050)
    assert(byName("z0").isEmpty && byName("n0").isEmpty,
      "events before the quote must not match")
    val zMisses = (1 until 2000).filter(i => byName(s"z$i") != Some(7.0))
    assert(zMisses.isEmpty,
      s"signed-zero runs must merge (${zMisses.take(5)} missed the carry)")
    val nMisses = (1 until 50).filter(i => byName(s"n$i") != Some(9.0))
    assert(nMisses.isEmpty,
      s"NaN keys must form runs like Spark join keys ($nMisses missed)")
  }

  test("as-of nearest picks the closer side, backward on ties") {
    import graft.operators.AsofJoin
    val spark2 = spark
    import spark2.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val events = (0 until 200)
      .map(i => (i.toLong, 1L, ts(t0 + i * 60000000L)))
      .toDF("eid", "user_id", "ts")
    val quotes = Seq(
      (1L, ts(t0), 100.0),
      (1L, ts(t0 + 100L * 60000000L), 200.0)
    ).toDF("user_id", "qts", "price")
    val got = AsofJoin.asofNearest(events, quotes, Seq("user_id"),
        leftIdCol = "eid", leftTs = "ts", rightTs = "qts",
        pickCols = Seq("price"), toleranceSec = Some(600L))
      .orderBy("eid").collect()
      .map(r => (r.getLong(0),
        Option(r.get(r.fieldIndex("asof_price"))))).toSeq
    for ((eid, p) <- got) {
      val expect: Option[Any] =
        if (eid <= 10) Some(100.0)
        else if (eid >= 90 && eid <= 110) Some(200.0)
        else None
      assert(p == expect, s"event $eid: got $p, want $expect")
    }
    // no tolerance: tie at the exact midpoint (minute 50) goes BACKWARD
    val tie = AsofJoin.asofNearest(events, quotes, Seq("user_id"),
        "eid", "ts", "qts", Seq("price"))
      .filter($"eid" === 50L).collect()
    assert(tie.head.get(tie.head.fieldIndex("asof_price")) == 100.0,
      "midpoint tie must resolve backward (pandas rule)")
    // the rejoin contract: a duplicated left id silently fans out, so the
    // opt-in guard must fail LOUDLY on one
    val dup = events.union(events.limit(1))
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofNearest(dup, quotes, Seq("user_id"),
        "eid", "ts", "qts", Seq("price"), assertUniqueIds = true)
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
    // and pass through clean ids at the cost of one aggregate
    assert(AsofJoin.asofNearest(events, quotes, Seq("user_id"),
      "eid", "ts", "qts", Seq("price"),
      assertUniqueIds = true).count() == 200L)
  }

  test("two-phase stratified top-k matches the single-window form under a dominant stratum") {
    import graft.operators.TextAnalysis
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.expressions.Window
    // one stratum holds ~94% of the corpus (the 100 TB failure mode the
    // two-phase shape exists for), plus duplicate texts to exercise the
    // id tiebreak and a singleton stratum smaller than k
    val docs = (
      (0L until 5000L).map(i => (i, s"dominant text ${i % 1200}", "en")) ++
      (5000L until 5300L).map(i => (i, s"minor text $i", "de")) ++
      Seq((5300L, "lonely", "xx"))
    ).toDF("doc_id", "text", "lang").repartition(16).cache()
    docs.count()
    val naive = docs.withColumn("_rn", row_number().over(
        Window.partitionBy($"lang").orderBy(md5($"text"), $"doc_id")))
      .filter($"_rn" <= 25).drop("_rn")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang").orderBy("lang", "doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    for (b <- Seq(1, 4, 64)) // 1 = degenerate single-bucket, still correct
      assert(canon(TextAnalysis.stratifiedTopK(docs, "doc_id", "text",
        "lang", k = 25, subBuckets = b)) == canon(naive),
        s"subBuckets=$b diverges from the single-window reference")
    docs.unpersist()
  }

  test("iterative graph ops are invariant under input partitioning") {
    import spark.implicits._
    // a deterministic 60-node graph with tendrils, triangles and hubs:
    // ring + chords + pendant paths, shuffled edge directions
    val k6 = for { a <- 61L to 66L; b <- 61L to 66L if a < b } yield (a, b)
    val edges = ((0L until 60L).map(i => (i, (i + 1) % 60)) ++
      (0L until 60L by 3L).map(i => (i, (i + 7) % 60)) ++
      (0L until 20L).map(i => (60L + i, i * 3 % 60)) ++
      k6 ++ Seq((17L, 4L), (4L, 29L), (29L, 17L)))
      .map { case (a, b) => if ((a * 31 + b) % 2 == 0) (a, b) else (b, a) }
      .toDF("src", "dst")
    val nodes = (0L until 80L).toDF("n")
    def layouts(df: DataFrame): Seq[DataFrame] =
      Seq(df.repartition(1), df.repartition(13, col("src")),
        df.orderBy(col("dst")))
    def canonKC(df: DataFrame) = df.orderBy("node")
      .as[(Long, Long)].collect().toSeq
    def canonKT(df: DataFrame) = df.orderBy("a", "b")
      .as[(Long, Long, Long)].collect().toSeq
    val kcRef = canonKC(graft.operators.Graph.kCore(edges, 3))
    val ktRef = canonKT(graft.operators.Graph.kTruss(edges, 3))
    val lpRef = canonKC(graft.operators.Graph
      .labelPropagation(nodes, "n", edges, rounds = 3))
    assert(kcRef.nonEmpty && ktRef.nonEmpty, "fixture must be non-trivial")
    for (e <- layouts(edges)) {
      assert(canonKC(graft.operators.Graph.kCore(e, 3)) == kcRef,
        "kCore must not depend on the edge layout")
      assert(canonKT(graft.operators.Graph.kTruss(e, 3)) == ktRef,
        "kTruss must not depend on the edge layout")
      assert(canonKC(graft.operators.Graph
        .labelPropagation(nodes.repartition(7), "n", e, rounds = 3))
        == lpRef,
        "labelPropagation must not depend on any input layout")
    }
  }
}
