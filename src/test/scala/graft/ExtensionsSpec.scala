package graft

import graft.functions.VectorFunctions
import graft.operators.VectorOracles
import graft.plans.GraftExtensions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native codegen expressions: registry wiring, SQL resolution,
  * value agreement with the HOF forms they replace, and edge semantics.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim registers, resolves from SQL, matches the HOF form") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(9)
    val df = (0 until 50).map { i =>
      (i.toLong, Seq.fill(32)(rnd.nextGaussian()), Seq.fill(32)(rnd.nextGaussian()))
    }.toDF("id", "a", "b")
    df.createOrReplaceTempView("vecs")

    val native = spark.sql(
      "SELECT id, cosine_sim(a, b) AS s FROM vecs ORDER BY id")
      .select("s").as[Double].collect()
    val hof = df.orderBy("id")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("s"))
      .as[Double].collect()
    assert(native.length == 50)
    native.zip(hof).foreach { case (n, h) =>
      assert(math.abs(n - h) < 1e-12, s"native $n vs HOF $h")
    }
    // codegen active for the projection containing the expression (against
    // a parquet scan — a local relation constant-folds to LocalTableScan)
    graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb_cg")
    val plan = spark.sql(
      "SELECT cosine_sim(embedding, embedding) FROM emb_cg")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expression stays inside codegen:\n$plan")
  }

  test("cosine_sim edges: zero vector and length mismatch produce null") {
    GraftExtensions.register(spark)
    val df = Seq(
      (1L, Seq(0.0, 0.0), Seq(1.0, 2.0)),
      (2L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
      (3L, Seq(1.0, 0.0), Seq(1.0, 0.0)))
      .toDF("id", "a", "b")
    df.createOrReplaceTempView("edges")
    val out = spark.sql(
      "SELECT id, cosine_sim(a, b) AS s FROM edges ORDER BY id").collect()
    assert(out(0).isNullAt(1), "zero-norm -> null")
    assert(out(1).isNullAt(1), "length mismatch -> null")
    assert(math.abs(out(2).getDouble(1) - 1.0) < 1e-12)
  }

  test("nearest_centroid: null vector and null ELEMENT both yield null") {
    GraftExtensions.register(spark)
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val df = Seq(
      (1L, Some(Seq(Some(9.0), Some(9.0)))),
      (2L, Some(Seq(Some(1.0), None))), // null element: no garbage 0.0 score
      (3L, None))
      .toDF("id", "v")
    val out = df
      .select(col("id"), graft.operators.Similarity
        .nearestCentroid(spark, col("v"), cents).as("c"))
      .orderBy("id").collect()
    assert(out(0).getInt(1) == 1, "dense vector picks the true argmin")
    assert(out(1).isNullAt(1), "null element -> null, never a wrong bucket")
    assert(out(2).isNullAt(1), "null vector -> null")
    // interpreted path agrees (the expression also runs off-codegen)
    val expr = graft.plans.NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, null, 3.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true)),
      Array(Array(0.0, 0.0, 0.0)))
    assert(expr.eval(null) == null)
  }

  test("float32 embeddings widen through the registration cast") {
    GraftExtensions.register(spark)
    graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb")
    val sims = spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS s
        |FROM emb a JOIN emb b ON b.vec_id = a.vec_id + 1
        |WHERE a.vec_id < 10 ORDER BY a.vec_id""".stripMargin).collect()
    assert(sims.length == 10)
    assert(sims.forall(r => math.abs(r.getDouble(1)) <= 1.0 + 1e-9))
  }

  test("stopword_lang_counts equals the five string filters; cjk_count equals the regex form") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = Seq(
      "the cat and the dog is in la casa de la madre", // en/es/fr overlap on la/de
      "der hund und die katze ist nicht da",
      "一 二 三 的 是 mixed 的 text with 汉字 inside",
      "",
      "no stopwords whatsoever here")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val langs = graft.plans.StopwordLangCounts.languages
    val toks = split(trim(lower(col("text"))), "\\s+")
    val fused = df.select(col("id"),
      call_function("stopword_lang_counts",
        transform(toks, t => xxhash64(t))).as("c"),
      call_function("cjk_count", col("text")).as("k"))
    val reference = df.select(col("id") +:
      langs.map { case (l, ws) =>
        size(filter(toks, t => t.isInCollection(ws))).cast("long").as(s"n_$l")
      } :+ length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", ""))
        .cast("long").as("k"): _*)
    val f = fused.collect().map(r => r.getLong(0) ->
      (r.getSeq[Long](1), r.getLong(2))).toMap
    for (r <- reference.collect()) {
      val id = r.getLong(0)
      val expect = langs.indices.map(i => r.getLong(i + 1))
      assert(f(id)._1 == expect, s"doc $id stopword counts: ${f(id)._1} vs $expect")
      assert(f(id)._2 == r.getLong(langs.length + 1),
        s"doc $id cjk count: ${f(id)._2}")
    }
  }

  test("char_entropy equals the census formula; deterministic; codegen-resident") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    val texts = Seq(
      "aaaaaaaa",                       // zero entropy
      "abcdefgh",                       // maximal for 8 distinct
      "the quick brown fox jumps",
      "一二三 mixed 汉字 text",          // multi-byte codepoints
      "",                               // empty -> 0.0
      "aabbbbcc")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = graft.operators.TextAnalysis.charEntropy(df, "text")
      .select("id", "char_entropy").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((t, i) <- texts.zipWithIndex) {
      val counts = t.codePoints().toArray.groupBy(identity).values.map(_.length)
      val n = counts.sum
      val expect =
        if (n == 0) 0.0
        else math.log(n.toDouble) -
          counts.map(c => c * math.log(c.toDouble)).sum / n
      assert(math.abs(got(i.toLong) - expect) < 1e-12,
        s"doc $i: ${got(i.toLong)} vs $expect")
    }
    assert(got(0L) == 0.0 && got(4L) == 0.0)
    // stays inside whole-stage codegen against a parquet scan
    graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("docs_ce")
    val plan = spark.sql("SELECT char_entropy(text) FROM docs_ce")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expression stays inside codegen:\n$plan")
  }

  test("jaro_winkler: textbook values, edge cases, codegen-resident") {
    GraftExtensions.register(spark)
    import graft.plans.JaroWinkler.{similarity => jw}
    def b(s: String) = s.getBytes("UTF-8")
    // the canonical textbook pair: jaro 17/18, winkler prefix 3
    assert(math.abs(jw(b("martha"), b("marhta")) - 0.9611111111111111) < 1e-12)
    // identical, empty-vs-empty, empty-vs-nonempty, disjoint
    assert(jw(b("abc"), b("abc")) == 1.0)
    assert(jw(b(""), b("")) == 1.0)
    assert(jw(b(""), b("x")) == 0.0)
    assert(jw(b("abc"), b("xyz")) == 0.0)
    // below the 0.7 gate the Winkler boost must NOT fire even with a
    // common prefix: craft a prefix-sharing pair with low jaro
    val raw = jw(b("abxxxxxx"), b("abyyyyyy"))
    assert(raw < 0.7 + 1e-12, s"gate fixture drifted: $raw")
    // symmetry
    assert(jw(b("dwayne"), b("duane")) == jw(b("duane"), b("dwayne")))
    // SQL registration + whole-stage codegen against a parquet scan
    graft.core.Tables.part(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("parts_jw")
    val q = spark.sql(
      "SELECT jaro_winkler(p_name, 'red widget') FROM parts_jw")
    assert(q.count() > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expression stays inside codegen:\n$plan")
    // null propagation
    assert(spark.sql("SELECT jaro_winkler(NULL, 'x')").collect()(0).isNullAt(0))
  }

  test("damerau_levenshtein: full-DL values, null propagation, codegen-resident") {
    GraftExtensions.register(spark)
    import graft.plans.DamerauLevenshtein.{distance => dl}
    def b(s: String) = s.getBytes("UTF-8")
    // the canonical full-vs-OSA pair, plus oracle-verified samples
    assert(dl(b("CA"), b("ABC")) == 2)
    assert(dl(b("ab"), b("ba")) == 1)
    assert(dl(b("abc"), b("acb")) == 1)
    assert(dl(b(""), b("abc")) == 3 && dl(b("abc"), b("")) == 3)
    assert(dl(b("kitten"), b("sitting")) == 3)
    assert(dl(b("x"), b("x")) == 0)
    graft.core.Tables.part(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("parts_dl")
    val q = spark.sql(
      "SELECT damerau_levenshtein(p_name, 'red widget') FROM parts_dl")
    assert(q.count() > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expression stays inside codegen:\n$plan")
    assert(spark.sql("SELECT damerau_levenshtein('x', NULL)")
      .collect()(0).isNullAt(0))
  }

  // -- native LSH / IVF / k-means / MinHash kernels against their HOF
  // oracles (graft.operators.VectorOracles). Every case runs twice: over a
  // local relation (the optimizer folds it, so the kernel's interpreted
  // eval runs) and over an RDD-backed frame (whole-stage codegen).

  private def bothPaths(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.DataFrame] =
    Seq(df, spark.createDataFrame(df.rdd.repartition(2), df.schema))

  /** Rows of (native, oracle) must agree exactly, row by row. */
  private def assertSame(df: org.apache.spark.sql.DataFrame, native: Column,
                         oracle: Column, what: String): Unit =
    for (d <- bothPaths(df)) {
      val out = d.select(col("id"), native.as("n"), oracle.as("o"))
        .orderBy("id").collect()
      assert(out.nonEmpty)
      for (r <- out) assert(r.get(1) == r.get(2),
        s"$what, row ${r.get(0)}: native ${r.get(1)} vs oracle ${r.get(2)}")
    }

  /** Random vectors plus every edge the kernels must reproduce: zero,
    * −0.0, NaN, infinity, a null vector, a null element, shorter and
    * longer vectors, and exact duplicates (ties).
    */
  private def edgeVectors(dim: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(17)
    val random = (0 until 120).map(_ => Some(Seq.fill(dim)(Some(rnd.nextGaussian()))))
    val edges: Seq[Option[Seq[Option[Double]]]] = Seq(
      Some(Seq.fill(dim)(Some(0.0))),
      Some(Seq.fill(dim)(Some(-0.0))),
      Some(Some(1.0) +: Seq.fill(dim - 1)(Some(0.0))),
      Some(Some(Double.NaN) +: Seq.fill(dim - 1)(Some(1.0))),
      Some(Some(Double.PositiveInfinity) +: Seq.fill(dim - 1)(Some(0.5))),
      None,
      Some(None +: Seq.fill(dim - 1)(Some(1.0))),
      Some(Seq.fill(dim - 1)(Some(1.0))),
      Some(Seq.fill(dim + 1)(Some(1.0))),
      Some(Seq.empty[Option[Double]]),
      random.head, random.head)
    (random ++ edges).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
  }

  test("lsh_signatures is bit-identical to the per-plane aggregate(zip_with) oracle") {
    GraftExtensions.register(spark)
    val dim = 8
    val df = edgeVectors(dim)
    val rnd = new scala.util.Random(5)
    // random planes plus a zero plane, a −0.0 plane and a plane orthogonal
    // to the unit vector (dot exactly 0.0 — sign bit 0, not 1)
    val planes = Seq.fill(13)(Seq.fill(dim)(rnd.nextGaussian())) ++ Seq(
      Seq.fill(dim)(0.0), Seq.fill(dim)(-0.0), 0.0 +: Seq.fill(dim - 1)(1.0))
    for (bits <- Seq(1, 4, 16)) {
      val native = call_function("lsh_signatures", col("v"), typedlit(planes), lit(bits))
      assertSame(df, native, VectorOracles.lshSignatures(col("v"), planes, bits),
        s"bitsPerBand=$bits")
    }
    // the engine's own seed-fixed planes, 64 bits in one word (bit 63 signs)
    val wide = graft.operators.Similarity.planes(dim, 64)
    assertSame(df, call_function("lsh_signatures", col("v"), typedlit(wide), lit(64)),
      VectorOracles.lshSignatures(col("v"), wide, 64), "bitsPerBand=64")
  }

  test("nearest_centroids is bit-identical to the array_sort probe-list oracle") {
    GraftExtensions.register(spark)
    val dim = 8
    val df = edgeVectors(dim)
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(6)(Seq.fill(dim)(rnd.nextGaussian()))
    // duplicate centroids (distance ties), zero and −0.0 centroids, and a
    // row of another length (a null distance for every vector)
    val cents = base ++ Seq(base(2), Seq.fill(dim)(0.0), Seq.fill(dim)(-0.0),
      base(0), Seq.fill(dim - 1)(1.0))
    for (n <- Seq(0, 1, 3, cents.length, cents.length + 2)) {
      val native = call_function("nearest_centroids", col("v"), typedlit(cents), lit(n))
      assertSame(df, native, VectorOracles.probeLists(col("v"), cents, n), s"n=$n")
    }
  }

  test("agree_count equals the zip_with/filter agreement oracle") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(3)
    def sig(n: Int) = Seq.fill(n)(Some(rnd.nextInt(4).toLong))
    val pairs: Seq[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])] =
      (0 until 60).map(_ => (Some(sig(16)), Some(sig(16)))) ++ Seq(
        (Some(sig(16)), Some(sig(12))), (Some(sig(5)), Some(sig(16))),
        (Some(Seq(None, Some(1L), Some(2L))), Some(Seq(None, Some(1L), None))),
        (None, Some(sig(4))), (Some(sig(4)), None), (None, None),
        (Some(Seq.empty), Some(Seq.empty)))
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    assertSame(df, call_function("agree_count", col("a"), col("b")),
      VectorOracles.agreement(col("a"), col("b")), "agree_count")
  }

  test("minhash_band_hashes is bit-identical to the concat_ws band-hash oracle") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(23)
    def sig(n: Int) = Seq.fill(n)(Some(rnd.nextLong() % 2147483647L))
    val sigs: Seq[Option[Seq[Option[Long]]]] =
      (0 until 60).map(_ => Some(sig(16))) ++ Seq(
        Some(Seq(Long.MinValue, Long.MaxValue, 0L, -1L).map(Some(_)) ++ sig(12)),
        Some(None +: sig(15)), Some(sig(7) ++ Seq(None, None) ++ sig(7)),
        Some(sig(6)), Some(sig(20)), Some(Seq.empty), None)
    val df = sigs.zipWithIndex.map { case (m, i) => (i.toLong, m) }.toDF("id", "m")
    for ((bands, rows) <- Seq((4, 4), (16, 1), (1, 16))) {
      assertSame(df,
        call_function("minhash_band_hashes", col("m"), lit(bands), lit(rows)),
        VectorOracles.bandHashes(col("m"), bands, rows), s"$bands x $rows")
    }
  }

  test("token_hashes equals per-token xxhash64, with and without pmod") {
    GraftExtensions.register(spark)
    val docs: Seq[Option[Seq[Option[String]]]] = Seq(
      Some(Seq("the", "quick", "brown", "fox").map(Some(_))),
      Some(Seq("", "汉字", "naïve", "x" * 300).map(Some(_))),
      Some(Seq(Some("a"), None, Some("b"))),
      Some(Seq.empty), None)
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    assertSame(df, call_function("token_hashes", col("t")),
      VectorOracles.tokenHashes(col("t"), None), "xxhash64")
    assertSame(df, call_function("token_hashes", col("t"), lit(2147483647L)),
      VectorOracles.tokenHashes(col("t"), Some(2147483647L)), "pmod P")
  }

  test("k-means update: the posexplode mean equals transformAvg over 1 and 4 partitions") {
    val dim = 6
    val rnd = new scala.util.Random(29)
    val rows: Seq[(Long, Option[Seq[Option[Double]]])] =
      (0 until 400).map(i => (i.toLong,
      Option(Seq.fill(dim)(Option(rnd.nextGaussian() + (i % 3) * 4.0))))) ++
      Seq((400L, None), (401L, Some(None +: Seq.fill(dim - 1)(Some(1.0)))),
        (402L, Some(Seq.fill(dim)(Some(-0.0)))))
    val cents = Seq(Seq.fill(dim)(0.0), Seq.fill(dim)(4.0), Seq.fill(dim)(8.0),
      Seq.fill(dim)(8.0)) // a duplicate: cluster 3 stays empty
    def frame(data: Seq[(Long, Option[Seq[Option[Double]]])], parts: Int) =
      spark.createDataFrame(spark.sparkContext.parallelize(data, parts))
        .toDF("id", "_v").select(col("_v").cast("array<double>").as("_v"))
    // compared as raw bits: == would equate 0.0 and −0.0
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    def nativeMeans(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.lloydUpdate(df, cents).collect().toSeq
        .filterNot(_.isNullAt(0)).groupBy(_.getInt(0))
        .map { case (c, rs) => c -> bits(rs.sortBy(_.getInt(1)).map(_.getDouble(2))) }
    for (parts <- Seq(1, 4)) {
      val df = frame(rows, parts)
      val oracle = VectorOracles.lloydUpdate(df, cents).collect()
        .filterNot(_.isNullAt(0))
        .map(r => r.getInt(0) -> bits(r.getSeq[Double](1).toSeq)).toMap
      val native = nativeMeans(df)
      assert(native.keySet == Set(0, 1, 2) && oracle.keySet == native.keySet)
      for (c <- native.keys) assert(native(c) == oracle(c),
        s"$parts partitions, cluster $c: ${native(c)} vs ${oracle(c)}")
    }
    // on values whose sums are exact the fold order cannot matter: the
    // means are then identical across partitionings too
    val exact = (0 until 400).map(i => (i.toLong,
      Option(Seq.fill(dim)(Option((rnd.nextInt(64) + (i % 3) * 64) / 16.0)))))
    assert(nativeMeans(frame(exact, 1)) == nativeMeans(frame(exact, 4)))
  }

  test("array expressions reject non-array arguments at analysis time") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((1L, "some text")).toDF("id", "t").createOrReplaceTempView("misuse")
    // a bare string is not castable to array<bigint>: the registration
    // Cast must fail ANALYSIS, never reach an executor ClassCastException
    for (call <- Seq("shingle_hashes(t, 2)", "minhash_sig(t, 4, 2)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call FROM misuse").collect()
      }
      assert(e.getMessage.toLowerCase.contains("cast") ||
        e.getMessage.toLowerCase.contains("data type"), s"$call: ${e.getMessage}")
    }
  }
}
