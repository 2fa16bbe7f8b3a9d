package graft

import java.sql.Timestamp
import java.time.Instant

import scala.collection.immutable.ListMap

import graft.operators.{Dedup, Gaps, Normalize, RangeScan, Resample}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2): resample conservation laws,
  * interpolation endpoints, dedup idempotence, rename-map determinism.
  * Spark-dependent properties use a handful of generated cases (each case
  * is a full Spark job); pure driver logic gets bigger sweeps. Seeded
  * generator sampling keeps runs reproducible (scalatestplus is not in the
  * offline artifact cache, so ScalaCheck is driven directly).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** Deterministic generator sampling. */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private def ts(min: Int): Timestamp =
    Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60L))

  // ---- pure driver-side properties: full ScalaCheck sweep ----

  test("rename map is deterministic and never touches protected columns") {
    val colGen = Gen.oneOf("open", "High", "price_close", "symbol", "ticker",
      "volume", "low_value", "extra", "o", "ts")
    for (cols <- samples(Gen.listOfN(6, colGen), 50)) {
      val distinct = cols.distinct
      val m1 = Normalize.buildRenameMap(distinct, graft.core.GraftConfig.defaultColumnsMap)
      val m2 = Normalize.buildRenameMap(distinct, graft.core.GraftConfig.defaultColumnsMap)
      assert(m1 == m2)
      assert(!m1.contains("symbol") && !m1.contains("ticker"))
      assert(m1.values.forall(v => v == v.toUpperCase))
    }
  }

  test("rule parsing: step is positive and suffix lowercases T->m") {
    for ((n, u) <- samples(Gen.zip(Gen.chooseNum(1, 120),
        Gen.oneOf("T", "H", "S", "D")), 50)) {
      val rule = s"$n$u"
      assert(graft.core.Rules.stepSeconds(rule) > 0)
      assert(graft.core.Rules.suffix(rule) == s"$n${u.toLowerCase.replace("t", "m")}")
    }
  }

  // ---- Spark properties: bounded generated cases ----

  test("resample conserves volume and bounds prices (correct mode)") {
    val gen = Gen.listOfN(40, Gen.chooseNum(0, 59)).map(_.distinct.sorted)
    for (minutes <- samples(gen, 5)) {
      if (minutes.nonEmpty) {
        val df = minutes.map(m =>
          (ts(m), 100.0 + m, 100.5 + m, 99.5 + m, 100.2 + m, 10.0 * (m + 1)))
          .toDF("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME")
        val res = Resample.resampleOhlc(RangeScan.layout(df, Nil), "5T",
          dropIncomplete = false)
          .collect()
        val totalVol = res.map(_.getAs[Double]("VOLUME")).sum
        assert(math.abs(totalVol - minutes.map(m => 10.0 * (m + 1)).sum) < 1e-9,
          "volume conserved across buckets")
        assert(res.forall { r =>
          r.getAs[Double]("HIGH") >= r.getAs[Double]("LOW") &&
          r.getAs[Double]("HIGH") >= r.getAs[Double]("OPEN") &&
          r.getAs[Double]("HIGH") >= r.getAs[Double]("CLOSE")
        }, "candle invariants hold when inputs are valid candles")
        // bucket count = distinct 5-min buckets among inputs
        assert(res.length == minutes.map(_ / 5).distinct.length)
      }
    }
  }

  test("repair leaves observed values untouched; interpolation stays in range") {
    val gen = Gen.listOfN(30, Gen.chooseNum(0, 59)).map(_.distinct.sorted)
    for (minutes <- samples(gen, 5)) {
      if (minutes.length >= 2) {
        val obs = minutes.map(m => (ts(m), 100.0 + m)).toMap
        val df = RangeScan.layout(
          minutes.map(m => (ts(m), 100.0 + m)).toDF("TIMESTAMP", "OPEN"), Nil)
        val out = Gaps.repairGaps(df, "1T", useFfillFor = Nil,
          computeReport = false).df.collect()
        val lo = minutes.min; val hi = minutes.max
        assert(out.length == hi - lo + 1, "full grid restored")
        out.foreach { r =>
          val t = r.getAs[Timestamp]("TIMESTAMP")
          val v = r.getAs[Double]("OPEN")
          obs.get(t).foreach(expected =>
            assert(v == expected, "observed values pass through unchanged"))
          assert(v >= 100.0 + lo - 1e-9 && v <= 100.0 + hi + 1e-9,
            "interpolated values bounded by neighbors (monotone series)")
        }
      }
    }
  }

  test("FastFill interpolation equals the window-algebra form on random series") {
    import org.apache.spark.sql.functions.col
    // two independent implementations of positional linear interpolation
    // with limit_direction=both: the InternalRow scan (the production
    // engine) and Interpolate.linear's composed window expressions — on
    // random multi-key series with random null runs (incl. leading/
    // trailing, and one all-null key) they must agree to the bit. The
    // grids are complete, so FastFill's grid positions are row positions
    val gen = for {
      nullEvery <- Gen.chooseNum(2, 9)
      phase <- Gen.chooseNum(0, 5)
      n <- Gen.chooseNum(10, 120)
    } yield (nullEvery, phase, n)
    for (((nullEvery, phase, n), i) <- samples(gen, 4).zipWithIndex) {
      val rows = for {
        sym <- Seq("A", "B", "Z")
        m <- 0 until n
      } yield {
        val v: java.lang.Double =
          if (sym == "Z") null // all-null series stays all-null
          else if ((m + phase) % nullEvery == 0) null
          else 100.0 + m * 1.7 + (if (sym == "A") 0 else 50)
        (sym, ts(m), v)
      }
      val df = RangeScan.layout(rows.toDF("SYMBOL", "TIMESTAMP", "CLOSE"),
        Seq("SYMBOL"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getTimestamp(1))
      val a = graft.operators.FastFill.fill(df, Nil, Seq("CLOSE"),
          "TIMESTAMP", 60000000L, partitionCols = Seq("SYMBOL"))
        .orderBy("SYMBOL", "TIMESTAMP").collect()
      val b = graft.operators.Interpolate.linear(df, Seq("CLOSE"),
          "TIMESTAMP", partitionCols = Seq("SYMBOL"))
        .select(col("SYMBOL"), col("TIMESTAMP"), col("CLOSE"))
        .orderBy("SYMBOL", "TIMESTAMP").collect()
      assert(a.map(key).toSeq == b.map(key).toSeq, s"case $i row keys")
      val av = a.map(r => if (r.isNullAt(2)) null else r.getDouble(2))
      val bv = b.map(r => if (r.isNullAt(2)) null else r.getDouble(2))
      assert(av.toSeq == bv.toSeq,
        s"case $i (nullEvery=$nullEvery phase=$phase n=$n)")
    }
  }

  test("N-partition layout repair equals 1-partition layout repair on random fixtures") {
    // random series: random subsets of a 600-min grid, random null runs in
    // both fill classes, random partition counts — the seeded scan over a
    // series spanning many partitions must be indistinguishable from the
    // same scan over one partition
    val gen = for {
      keep <- Gen.listOfN(400, Gen.chooseNum(0, 599)).map(_.distinct.sorted)
      nullEvery <- Gen.chooseNum(3, 17)
      parts <- Gen.chooseNum(2, 23)
    } yield (keep, nullEvery, parts)
    for (((keep, nullEvery, parts), i) <- samples(gen, 4).zipWithIndex) {
      if (keep.length >= 2) {
        val rows = keep.map { m =>
          val close: java.lang.Double =
            if (m % nullEvery == 0) null else 100.0 + m
          val vol: java.lang.Double =
            if (m % (nullEvery + 2) == 0) null else 10.0 + m
          ("S", ts(m), close, vol)
        }
        val df = rows.toDF("SYMBOL", "TIMESTAMP", "CLOSE", "VOLUME").cache()
        df.count()
        def repaired(n: Int) = {
          val laid = RangeScan.layout(df, Seq("SYMBOL"), partitions = Some(n))
            .cache()
          laid.count()
          val out = Gaps.repairGaps(laid, "1T", useFfillFor = Seq("VOLUME"),
            partitionCols = Seq("SYMBOL"), computeReport = false).df
            .orderBy("TIMESTAMP").collect()
          laid.unpersist()
          out
        }
        val ref = repaired(1)
        assert(ref.length == keep.last - keep.head + 1, "full grid restored")
        assert(repaired(parts).map(_.toString).toSeq == ref.map(_.toString).toSeq,
          s"case $i (parts=$parts nullEvery=$nullEvery n=${keep.length})")
        df.unpersist()
      }
    }
  }

  test("dedup keep-first is idempotent") {
    val gen = Gen.listOfN(20, Gen.chooseNum(0, 9))
    for (minutes <- samples(gen, 5)) {
      if (minutes.nonEmpty) {
        val df = minutes.zipWithIndex
          .map { case (m, i) => (ts(m), i.toDouble) }
          .toDF("TIMESTAMP", "OPEN")
        val once = Dedup.exact(
          df.withColumn("doc_id", org.apache.spark.sql.functions
            .monotonically_increasing_id()),
          "doc_id", "TIMESTAMP") // exact-dedup on the stamp as content
        assert(once.count() == minutes.distinct.length)
        val twice = Dedup.exact(once, "doc_id", "TIMESTAMP")
        assert(twice.count() == once.count(), "idempotent")
      }
    }
  }

  test("quality report handles a 1M-row single series with bounded task memory") {
    import org.apache.spark.sql.functions._
    // 1M minutes, one series: the ring-buffer SMA scan is O(max window)
    // memory and the median comes from the partial-aggregated median() —
    // nothing buffers the whole series on one task. `range` partitions are
    // consecutive id ranges, so the frame is already in the range layout
    val df = spark.range(1000000L).select(
      timestamp_seconds(lit(1672531200L) + col("id") * 60).as("TIMESTAMP"),
      (lit(1.0) + (col("id") % 1000).cast("double") / 1000.0).as("CLOSE"))
    val rep = graft.operators.Reporting.dataQualityReport(df,
      smaWindows = Seq(10, 50), knownDistinctTs = true)
    assert(rep("rows") == 1000000L)
    val med = rep("close_median").asInstanceOf[Double]
    // values cycle uniformly over [1.0, 1.999] -> median ~1.4995
    assert(med > 1.49 && med < 1.51, s"median $med")
    val ind = rep("indicators").asInstanceOf[ListMap[String, Any]]
    assert(ind.contains("SMA_10") && ind.contains("SMA_50"))
  }

  test("minhash estimate is within sketch error of exact jaccard") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val docGen = Gen.listOfN(30, wordGen).map(_.mkString(" "))
    for ((d1, d2) <- samples(Gen.zip(docGen, docGen), 3)) {
      val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      val pairs = Dedup.minHashLshPairs(df, "doc_id", "text",
        numHashes = 128, bands = 32, shingleSize = 2, threshold = 0.0)
        .collect()
      val est = pairs.headOption.map(_.getAs[Double]("est_jaccard")).getOrElse(0.0)
      val truth = df.agg(org.apache.spark.sql.functions.first(
        Dedup.ngramJaccard(
          org.apache.spark.sql.functions.lit(d1),
          org.apache.spark.sql.functions.lit(d2), 2))).as[Double].head()
      // 128 hashes -> stderr ~ sqrt(j(1-j)/128) <= 0.05; allow 4 sigma,
      // plus banding can miss very-low-similarity pairs entirely
      assert(est == 0.0 || math.abs(est - truth) < 0.2,
        s"est=$est truth=$truth")
    }
  }

  /** Random as-of fixtures in `s`: key skew, duplicate left stamps, keys
    * with no right rows, right rows after every left row. Right stamps are
    * distinct per key (two right rows on one stamp have no defined winner).
    */
  private def asofFixture(s: org.apache.spark.sql.SparkSession, seed: Long,
                          nKeys: Int, nLeft: Int, nRight: Int, hot: Boolean) = {
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val events = (0 until nLeft).map { j =>
      // hot: key 1 holds two thirds of the events
      val k = if (!hot || j % 3 == 0) 1L + rnd.nextInt(nKeys) else 1L
      (k, ts(rnd.nextInt(240)), j.toLong)
    }
    val quotes = (0 until nRight)
      .map(j => (1L + rnd.nextInt(nKeys), rnd.nextInt(240), j))
      .distinctBy(q => (q._1, q._2))
      .map { case (k, m, j) => (k, ts(m), j * 1.5) }
    (events.toDF("k", "ts", "eid"), quotes.toDF("k", "qts", "v"),
      events.map(e => (e._1, e._2, e._3)),
      quotes.map(q => (q._1, AsofOracle.micros(q._2), q._3)))
  }

  /** `asof` over the fixture equals the brute-force oracle row for row. */
  private def checkAsof(s: org.apache.spark.sql.SparkSession, seed: Long,
                        nKeys: Int, nLeft: Int, nRight: Int, hot: Boolean,
                        direction: String): Unit = {
    val (events, quotes, ev, qs) = asofFixture(s, seed, nKeys, nLeft, nRight, hot)
    val want = ev.map { case (k, t, eid) =>
      (k, t, eid, AsofOracle.attach(k, AsofOracle.micros(t), qs,
        backward = direction == "backward"))
    }.sortBy(t => (t._1, t._2.getTime, t._3))
    val got = graft.operators.AsofJoin.asof(events, quotes, Seq("k"),
        "ts", "qts", Seq("v"), direction = direction)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .sortBy(t => (t._1, t._2.getTime, t._3)).toSeq
    assert(got == want, s"seed=$seed $direction nKeys=$nKeys nLeft=$nLeft " +
      s"nRight=$nRight partitions=${s.conf.get("spark.sql.shuffle.partitions")}")
  }

  test("cross-partition as-of join equals brute-force at-or-before on random fixtures") {
    // the seed fold must be invisible: a hot key spread over 8 range
    // partitions attaches exactly what the driver-side scan does
    val caseGen = for {
      nKeys <- Gen.chooseNum(1, 4)
      hotLen <- Gen.chooseNum(50, 400)
      nRight <- Gen.chooseNum(0, 30)
    } yield (nKeys, hotLen, nRight)
    val s = AsofOracle.session(spark, 8)
    for (((nKeys, hotLen, nRight), i) <- samples(caseGen, 4).zipWithIndex)
      checkAsof(s, 77L + i, nKeys, hotLen, nRight, hot = true, "backward")
  }

  test("forward as-of equals brute-force earliest-at-or-after on random fixtures") {
    val caseGen = for {
      nKeys <- Gen.chooseNum(1, 4)
      nLeft <- Gen.chooseNum(20, 200)
      nRight <- Gen.chooseNum(0, 30)
    } yield (nKeys, nLeft, nRight)
    for (((nKeys, nLeft, nRight), i) <- samples(caseGen, 4).zipWithIndex;
         parts <- Seq(1, 8))
      checkAsof(AsofOracle.session(spark, parts), 991L + i, nKeys, nLeft,
        nRight, hot = false, "forward")
  }

  test("census trimmed mean equals driver-side sorted trim on random fixtures") {
    // adversarial shapes: heavy ties (boundary runs spanning k), tiny
    // groups (k = 0), duplicate-only groups — the partial-boundary split
    // is the code most likely to be wrong identically in both engines
    val caseGen = for {
      nKeys <- Gen.chooseNum(1, 4)
      n <- Gen.chooseNum(3, 300)
      distinctVals <- Gen.chooseNum(1, 12) // few values => long tie runs
    } yield (nKeys, n, distinctVals)
    for (((nKeys, n, distinctVals), i) <- samples(caseGen, 6).zipWithIndex) {
      val rnd = new scala.util.Random(555L + i)
      val rows = (0 until n).map { j =>
        (("k" + (j % nKeys)),
          math.floor(rnd.nextInt(distinctVals) * 7.25 * 10000) / 10000)
      }
      val got = graft.queries.WarehouseQueries
        .trimmedMeanByKey(rows.toDF("k", "v"), "k", "v")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
      val want = rows.groupBy(_._1).map { case (k, grp) =>
        val sorted = grp.map(v => BigDecimal(v._2).setScale(4)).sorted
        val kk = sorted.length / 10
        val kept = sorted.drop(kk).dropRight(kk)
        // same op order as the engine: exact decimal sum -> double division
        val mean = kept.sum.toDouble / kept.length
        k -> ((kept.length.toLong, sorted.length.toLong,
          math.floor(mean * 1e6 + 0.5) / 1e6))
      }
      assert(got.keySet == want.keySet, s"case $i keys")
      for ((k, (nk, nt, m)) <- want) {
        val (gnk, gnt, gm) = got(k)
        assert(gnk == nk && gnt == nt, s"case $i $k counts: got ($gnk,$gnt) want ($nk,$nt)")
        assert(math.abs(gm - m) < 1e-9, s"case $i $k mean: got $gm want $m")
      }
    }
  }

  test("census Gini equals driver-side sorted rank sum on random fixtures") {
    val caseGen = for {
      n <- Gen.chooseNum(2, 400)
      maxC <- Gen.chooseNum(1, 25) // small range => long equal-count runs
    } yield (n, maxC)
    for (((n, maxC), i) <- samples(caseGen, 6).zipWithIndex) {
      val rnd = new scala.util.Random(777L + i)
      val counts = (0 until n).map(_ => 1L + rnd.nextInt(maxC))
      val row = graft.queries.WarehouseQueries
        .giniOfCounts(counts.toDF("_x")).head()
      val sorted = counts.sorted
      val s = sorted.sum
      val ri = sorted.zipWithIndex.map { case (x, j) => (j + 1) * x }.sum
      val g = math.floor((2.0 * ri - (n + 1) * s) / (n.toLong * s)
        * 1e6 + 0.5) / 1e6
      assert(row.getLong(0) == n && row.getLong(1) == s, s"case $i totals")
      assert(math.abs(row.getDouble(2) - g) < 1e-9,
        s"case $i gini: got ${row.getDouble(2)} want $g")
    }
  }

  test("connected components equals driver-side union-find on random graphs") {
    val caseGen = for {
      n <- Gen.choose(5, 40)
      nEdges <- Gen.choose(0, 50)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
      } yield (a.toLong, b.toLong))
    } yield (n, edges)
    for (((n, edges), i) <- samples(caseGen, 6).zipWithIndex) {
      val nodes = (0L until n.toLong).toDF("id")
      val pairs = if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
                  else edges.toDF("a", "b")
      val got = Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == UnionFindOracle.components(0L until n.toLong, edges),
        s"case $i: n=$n edges=${edges.take(10)}")
    }
  }

  test("sequence packing equals a driver-side reference on random corpora") {
    import org.apache.spark.sql.functions.col
    val caseGen = for {
      n <- Gen.choose(1, 60)
      lens <- Gen.listOfN(n, Gen.choose(1, 40))
      shards <- Gen.choose(1, 5)
      budget <- Gen.choose(4, 32)
    } yield (lens, shards, budget)
    for (((lens, shards, budget), i) <- samples(caseGen, 5).zipWithIndex) {
      val docs = lens.zipWithIndex.map { case (len, id) =>
        (id.toLong, ("w " * len).trim)
      }
      // reference: sequential cumsum per round-robin shard
      val expected = docs.groupBy(_._1 % shards).flatMap { case (_, ds) =>
        var off = 0L
        ds.sortBy(_._1).map { case (id, text) =>
          val ntok = text.split("\\s+").length.toLong
          val start = off; off += ntok
          (id, start, start / budget, (start + ntok - 1) / budget)
        }
      }
      val got = graft.operators.TextAnalysis
        .packSequences(docs.toDF("doc_id", "text"), "doc_id", "text",
          shards, budget)
        .select(col("doc_id"), col("start_off"), col("bin_first"),
          col("bin_last"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      assert(got == expected.toSet, s"case $i: shards=$shards budget=$budget")
    }
  }

  test("snapshot diff equals brute-force classification on random versions") {
    import org.apache.spark.sql.functions.{col, md5}
    val caseGen = for {
      n <- Gen.choose(1, 50)
      removed <- Gen.listOf(Gen.choose(0, 49))
      changed <- Gen.listOf(Gen.choose(0, 49))
      added <- Gen.listOf(Gen.choose(100, 140))
    } yield (n, removed.toSet, changed.toSet, added.toSet)
    for (((n, removed, changed, added), i) <- samples(caseGen, 5).zipWithIndex) {
      val v1 = (0 until n).map(k => (k.toLong, s"text $k"))
      val v2 = (0 until n).filterNot(removed).map { k =>
        (k.toLong, if (changed(k)) s"text $k v2" else s"text $k")
      } ++ added.map(k => (k.toLong, s"new $k"))
      val expected = ((0 until n).map { k =>
        k.toLong -> (if (removed(k)) "removed"
                     else if (changed(k)) "changed" else "unchanged")
      } ++ added.map(_.toLong -> "added")).toMap
      val got = Dedup.snapshotDiff(
          v1.toDF("id", "text").withColumn("fp", md5(col("text"))),
          v2.toDF("id", "text").withColumn("fp", md5(col("text"))),
          "id", "fp")
        .as[(Long, String)].collect().toMap
      assert(got == expected, s"case $i: n=$n rm=$removed ch=$changed")
    }
  }

  test("two-phase stratified top-k equals the single-window form on random corpora") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, md5, row_number}
    // random skew (one stratum often dominant), duplicate texts, k beyond
    // small strata, random sub-bucket counts — the pre-prune must be
    // provably lossless in every mix
    val caseGen = for {
      n <- Gen.choose(10, 300)
      nStrata <- Gen.choose(1, 5)
      dupEvery <- Gen.choose(2, 10)
      k <- Gen.choose(1, 12)
      b <- Gen.oneOf(1, 2, 7, 32)
    } yield (n, nStrata, dupEvery, k, b)
    for (((n, nStrata, dupEvery, k, b), i) <- samples(caseGen, 5).zipWithIndex) {
      val rnd = new scala.util.Random(31L + i)
      val docs = (0 until n).map { j =>
        val stratum = if (rnd.nextInt(4) > 0) "s0" else "s" + rnd.nextInt(nStrata)
        (j.toLong, s"text ${j / dupEvery}", stratum)
      }.toDF("id", "text", "stratum").repartition(7)
      val naive = docs.withColumn("_rn", row_number().over(
          Window.partitionBy(col("stratum")).orderBy(md5(col("text")), col("id"))))
        .filter(col("_rn") <= k).drop("_rn")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "stratum").as[(Long, String)].collect().sorted.toSeq
      val got = canon(graft.operators.TextAnalysis.stratifiedTopK(
        docs, "id", "text", "stratum", k, subBuckets = b))
      assert(got == canon(naive), s"case $i: n=$n strata=$nStrata k=$k b=$b")
    }
  }

  test("percentile census equals the sorted-list quantile on random groups") {
    import org.apache.spark.sql.functions.col
    // heavy ties (small value range), group-size skew, singleton groups —
    // the census rank must reproduce the type-1 quantile exactly in all of
    // them, and the result must not depend on the input partitioning
    val caseGen = for {
      n <- Gen.choose(1, 400)
      nGroups <- Gen.choose(1, 6)
      valRange <- Gen.oneOf(1, 3, 40, 1000)
    } yield (n, nGroups, valRange)
    val ps = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
    for (((n, nGroups, valRange), i) <- samples(caseGen, 5).zipWithIndex) {
      val rnd = new scala.util.Random(57L + i)
      val rows = (0 until n).map { j =>
        ("g" + rnd.nextInt(nGroups), rnd.nextInt(valRange).toLong)
      }
      val df = rows.toDF("grp", "v").repartition(7)
      val got = graft.operators.TextAnalysis
        .percentileCensus(df, "grp", "v", ps)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val byGroup = rows.groupBy(_._1)
      assert(got.keySet == byGroup.keySet, s"case $i groups")
      for ((g, members) <- byGroup) {
        val sorted = members.map(_._2).sorted
        val m = sorted.length
        def q(num: Int, den: Int): Long = {
          val rank = (num.toLong * m + den - 1) / den // ceil(p*m), >= 1
          sorted((rank - 1).toInt.max(0))
        }
        assert(got(g) == ((m.toLong, q(1, 2), q(9, 10), q(99, 100))),
          s"case $i group $g: ${got(g)} vs sorted=$sorted")
      }
    }
  }

  test("tf-weighted unigram log-prob equals the occurrence mean on random corpora") {
    import org.apache.spark.sql.functions.{avg, col, count, explode, lit, log}
    val wordGen = Gen.oneOf("the", "cat", "sat", "on", "mat", "dog", "ran", "far")
    val caseGen = for {
      nDocs <- Gen.choose(1, 30)
      lens <- Gen.listOfN(nDocs, Gen.choose(1, 25))
    } yield lens
    for ((lens, i) <- samples(caseGen, 4).zipWithIndex) {
      val rnd = new scala.util.Random(53L + i)
      val words = samples(wordGen, 64)
      val docs = lens.zipWithIndex.map { case (len, j) =>
        (j.toLong, (0 until len).map(_ => words(rnd.nextInt(words.length)))
          .mkString(" "))
      }.toDF("id", "text")
      // naive reference: the per-occurrence formula the operator replaced
      val tok = docs.select(col("id"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
      val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val total = tok.count().toDouble
      val naive = tok.join(counts, Seq("term"))
        .groupBy(col("id"))
        .agg(avg(log(col("c").cast("double") / total)).as("lp"))
        .as[(Long, Double)].collect().toMap
      val got = graft.operators.TextAnalysis
        .unigramLogProb(docs, "id", "text")
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == naive.keySet, s"case $i doc sets differ")
      for ((id, lp) <- got)
        assert(math.abs(lp - naive(id)) < 1e-9,
          s"case $i doc $id: tf-weighted $lp vs occurrence-mean ${naive(id)}")
    }
  }

  test("gatedCensusCumsumMulti: decomposed branch equals the lazy window on random censuses") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // adversarial: duplicate keys across ranges, negative values, desc
    // orders, multi-column sums, totals on and off — force=true takes the
    // range-partition + localCheckpoint branch, force=false stays lazy on
    // these tiny LocalRelation inputs, and the two must agree row for row
    val caseGen = for {
      nKeys <- Gen.chooseNum(1, 3)
      n <- Gen.chooseNum(1, 300)
      distinctVals <- Gen.chooseNum(1, 12)
      inclusive <- Gen.oneOf(true, false)
      descending <- Gen.oneOf(true, false)
      withTot <- Gen.oneOf(true, false)
      nullKeys <- Gen.oneOf(true, false)
    } yield (nKeys, n, distinctVals, inclusive, descending, withTot,
      nullKeys)
    for (((nKeys, n, dv, inclusive, descending, withTot, nullKeys), i)
         <- samples(caseGen, 6).zipWithIndex) {
      val rnd = new scala.util.Random(5417L + i)
      // null keys are legal under the contract (distinctness only): the
      // lazy Window treats NULL as an ordinary partition value, so the
      // decomposed branch's offset re-attach must too (the <=> join —
      // ADVICE r17 medium: a plain equi-join dropped these rows silently,
      // and only above the gate)
      val census = (0 until n)
        .map { j =>
          val k = if (nullKeys && j % nKeys == 0) null
                  else "k" + (j % nKeys)
          (k, (rnd.nextInt(dv) * 13 - 29).toLong)
        }
        .toDF("_k", "_v")
        .groupBy(col("_k"), col("_v"))
        .agg(count(lit(1)).as("_f"), (count(lit(1)) * 3).as("_g"))
      val ord = if (descending) Seq(col("_v").desc) else Seq(col("_v"))
      val cols = Seq(
        ("_f", "_cf", if (withTot) Some("_tf") else None),
        ("_g", "_cg", None))
      def frame(force: Boolean) = graft.queries.WarehouseQueries
        .gatedCensusCumsumMulti(census, Seq("_k"), ord, cols, inclusive,
          force = force)
      def run(force: Boolean) = frame(force)
        .collect().map(_.toString).sorted.toIndexedSeq
      // toString erases types — the branches must agree on the schema too
      assert(frame(force = true).schema == frame(force = false).schema,
        s"case $i: decomposed schema != lazy schema")
      assert(run(force = true) == run(force = false),
        s"case $i (keys=$nKeys n=$n incl=$inclusive desc=$descending " +
          s"tot=$withTot nullKeys=$nullKeys): decomposed != lazy")
    }
  }

  test("rankedCensus rank selection equals sorted-list order statistics on random fixtures") {
    import org.apache.spark.sql.functions.{col, expr, lit, max, when}
    // adversarial: heavy ties (runs spanning several ranks), single-value
    // groups, k at run boundaries — the cum < k <= cum+f containment is
    // the line every census order-statistic query stands on
    val caseGen = for {
      nKeys <- Gen.chooseNum(1, 4)
      n <- Gen.chooseNum(1, 200)
      distinctVals <- Gen.chooseNum(1, 8)
    } yield (nKeys, n, distinctVals)
    for (((nKeys, n, distinctVals), i) <- samples(caseGen, 5).zipWithIndex) {
      val rnd = new scala.util.Random(987L + i)
      val rows = (0 until n).map { j =>
        ("k" + (j % nKeys), (rnd.nextInt(distinctVals) * 37 - 55).toLong)
      }
      val census = graft.queries.WarehouseQueries
        .rankedCensus(rows.toDF("key", "v"), col("key"), col("v"))
      // three rank formulas in one pass: median, ceil(n/20), ceil(3n/4)
      val got = census
        .withColumn("_kmed", expr("(_n + 1) div 2"))
        .withColumn("_k05", expr("(_n + 19) div 20"))
        .withColumn("_k75", expr("(3 * _n + 3) div 4"))
        .groupBy(col("_key"))
        .agg(max(when(col("_cum") < col("_kmed")
            && col("_cum") + col("_f") >= col("_kmed"), col("_v"))).as("m"),
          max(when(col("_cum") < col("_k05")
            && col("_cum") + col("_f") >= col("_k05"), col("_v"))).as("lo"),
          max(when(col("_cum") < col("_k75")
            && col("_cum") + col("_f") >= col("_k75"), col("_v"))).as("hi"),
          max(col("_n")).as("n"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = rows.groupBy(_._1).map { case (k, grp) =>
        val sorted = grp.map(_._2).sorted
        val nn = sorted.length
        def kth(k: Int) = sorted(k - 1) // 1-based
        k -> (kth((nn + 1) / 2), kth((nn + 19) / 20),
          kth((3 * nn + 3) / 4), nn.toLong)
      }
      assert(got.keySet == want.keySet, s"case $i keys")
      for ((k, w) <- want)
        assert(got(k) == w, s"case $i $k: got ${got(k)} want $w")
    }
  }

  test("JaroWinkler equals a clean-room reference; symmetric; bounded") {
    // independent reference: builds the matched subsequences explicitly
    // (the expression counts transpositions with a rolling pointer), so a
    // shared indexing bug can't hide
    def ref(p: Array[Byte], t: Array[Byte]): Double = {
      if (p.isEmpty && t.isEmpty) return 1.0
      if (p.isEmpty || t.isEmpty) return 0.0
      val bound = math.max(math.max(p.length, t.length) / 2 - 1, 0)
      val usedP = Array.fill(p.length)(false)
      val matchT = scala.collection.mutable.ArrayBuffer[Byte]()
      val matchP = scala.collection.mutable.ArrayBuffer[Byte]()
      val pIdx = scala.collection.mutable.ArrayBuffer[Int]()
      for (i <- t.indices) {
        val lo = math.max(0, i - bound)
        val hi = math.min(p.length - 1, i + bound)
        var j = lo
        var done = false
        while (j <= hi && !done) {
          if (!usedP(j) && p(j) == t(i)) {
            usedP(j) = true; matchT += t(i); pIdx += j; done = true
          }
          j += 1
        }
      }
      if (matchT.isEmpty) return 0.0
      // matched chars of p in p-order
      for (j <- p.indices if usedP(j)) matchP += p(j)
      val mismatches = matchT.indices.count(i => matchT(i) != matchP(i))
      val m = matchT.length
      val tHalf = mismatches / 2
      var sim = 0.0
      sim += m.toDouble / p.length
      sim += m.toDouble / t.length
      sim += (m.toDouble - tHalf.toDouble) / m.toDouble
      sim /= 3.0
      var prefix = 0
      val maxPre = math.min(math.min(p.length, t.length), 4)
      while (prefix < maxPre && p(prefix) == t(prefix)) prefix += 1
      if (sim > 0.7) sim += prefix.toDouble * 0.1 * (1.0 - sim)
      sim
    }
    val charGen = Gen.oneOf("abcdef".toSeq)
    val strGen = for {
      len <- Gen.chooseNum(0, 12)
      cs <- Gen.listOfN(len, charGen)
    } yield cs.mkString
    val pairs = samples(Gen.zip(strGen, strGen), 300)
    for ((a, b) <- pairs) {
      val got = graft.plans.JaroWinkler
        .similarity(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val want = ref(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(got == want, s"'$a' vs '$b': got $got want $want")
      val sym = graft.plans.JaroWinkler
        .similarity(b.getBytes("UTF-8"), a.getBytes("UTF-8"))
      assert(got == sym, s"'$a' vs '$b': asymmetric $got vs $sym")
      assert(got >= 0.0 && got <= 1.0, s"'$a' vs '$b': out of range $got")
      assert(graft.plans.JaroWinkler.similarity(
        a.getBytes("UTF-8"), a.getBytes("UTF-8")) == 1.0, "identity is 1.0")
    }
  }

  test("DamerauLevenshtein equals BFS shortest-edit-path on random short pairs") {
    // independent reference: breadth-first search over the op graph
    // {insert, delete, substitute, adjacent-transpose} — the metric's
    // DEFINITION, sharing nothing with the Lowrance-Wagner DP. Inserting
    // a char absent from the target is never optimal, so the branching
    // alphabet is the target's chars; length capped at max+1.
    def bfs(a: String, b: String): Int = {
      if (a == b) return 0
      val alpha = b.distinct
      val maxLen = math.max(a.length, b.length) + 1
      var frontier = Set(a)
      val seen = scala.collection.mutable.Set(a)
      var dist = 0
      while (true) {
        dist += 1
        val next = scala.collection.mutable.Set[String]()
        for (s <- frontier) {
          val moves = scala.collection.mutable.Set[String]()
          for (i <- 0 until s.length) // delete
            moves += s.substring(0, i) + s.substring(i + 1)
          for (i <- 0 until s.length; c <- alpha if s(i) != c) // substitute
            moves += s.substring(0, i) + c + s.substring(i + 1)
          if (s.length < maxLen)
            for (i <- 0 to s.length; c <- alpha) // insert
              moves += s.substring(0, i) + c + s.substring(i)
          for (i <- 0 until s.length - 1 if s(i) != s(i + 1)) // transpose
            moves += s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
          for (m <- moves) {
            if (m == b) return dist
            if (!seen(m)) { seen += m; next += m }
          }
        }
        frontier = next.toSet
        if (frontier.isEmpty) return Int.MaxValue // unreachable (never)
      }
      -1
    }
    val charGen = Gen.oneOf("abc".toSeq)
    val strGen = for {
      len <- Gen.chooseNum(0, 4)
      cs <- Gen.listOfN(len, charGen)
    } yield cs.mkString
    for ((a, b) <- samples(Gen.zip(strGen, strGen), 150)) {
      val got = graft.plans.DamerauLevenshtein
        .distance(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val want = bfs(a, b)
      assert(got == want, s"'$a' -> '$b': got $got want $want")
      // metric symmetry
      val rev = graft.plans.DamerauLevenshtein
        .distance(b.getBytes("UTF-8"), a.getBytes("UTF-8"))
      assert(got == rev, s"'$a' vs '$b': asymmetric $got vs $rev")
    }
    // the OSA-vs-full distinguishing pair: full DL edits CA->AC->ABC
    assert(graft.plans.DamerauLevenshtein
      .distance("CA".getBytes, "ABC".getBytes) == 2)
  }

  test("Jonckheere J equals the naive pairwise count on tie-heavy fixtures") {
    // the census-join computes J without ever forming pairs — only a
    // literal O(n²) pair loop can catch a shared indexing error (the
    // oracle replays the same census algorithm)
    val caseGen = for {
      nGroups <- Gen.chooseNum(2, 5)
      n <- Gen.chooseNum(4, 120)
      distinctVals <- Gen.chooseNum(1, 8) // few values => massive ties
    } yield (nGroups, n, distinctVals)
    for (((nGroups, n, distinctVals), i) <- samples(caseGen, 6).zipWithIndex) {
      val rnd = new scala.util.Random(9100L + i)
      val rows = (0 until n).map(j =>
        ("g" + (j % nGroups), (rnd.nextInt(distinctVals) + j % nGroups).toLong))
      val got = graft.queries.WarehouseQueries
        .jonckheereZ(rows.toDF("_g", "_x")).head()
      // naive doubled-J: 2 per strictly-less pair across ordered groups,
      // 1 per tie
      val want = (for {
        (ga, xa) <- rows; (gb, xb) <- rows
        if ga < gb
      } yield if (xa < xb) 2L else if (xa == xb) 1L else 0L).sum
      assert(got.getAs[Long]("j_doubled") == want,
        s"case $i: got ${got.getAs[Long]("j_doubled")} want $want")
      assert(got.getAs[Long]("n_total") == n.toLong, s"case $i n")
    }
  }

  test("signed-rank W+ equals driver-side average ranks on tie-heavy diffs") {
    val caseGen = for {
      n <- Gen.chooseNum(3, 150)
      spread <- Gen.chooseNum(1, 6) // small => heavy |d| ties and zeros
    } yield (n, spread)
    for (((n, spread), i) <- samples(caseGen, 6).zipWithIndex) {
      val rnd = new scala.util.Random(9200L + i)
      val diffs = (0 until n).map(_ => (rnd.nextInt(2 * spread + 1) - spread).toLong)
      val got = graft.queries.WarehouseQueries
        .wilcoxonSignedRank(diffs.toDF("_d")).head()
      val nz = diffs.filter(_ != 0)
      // driver-side average ranks of |d| (doubled to stay integral)
      val sorted = nz.map(math.abs).sorted
      val rank2 = sorted.zipWithIndex.groupBy(_._1).map { case (v, g) =>
        v -> g.map { case (_, idx) => (idx + 1) * 2L }.sum / g.size
      }
      val want = nz.filter(_ > 0).map(d => rank2(math.abs(d))).sum
      assert(got.getAs[Long]("w_plus_doubled") == want,
        s"case $i: got ${got.getAs[Long]("w_plus_doubled")} want $want")
      assert(got.getAs[Long]("n_nonzero") == nz.length.toLong, s"case $i n")
    }
  }
}
