package graft

import graft.operators.{Dedup, Exporter, LshIndexOracle, Similarity}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted index layouts: the LSH index's postings + signature store
  * (probe answers equal the per-band-signature layout's, row for row), the
  * IVF table's one file per list, the driver-side codebook parse, and that
  * dropping either index leaves no catalog entry and no file behind.
  */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = ("alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
    "omega red green blue amber violet").split(" ").toIndexedSeq

  /** `n` documents from a small vocabulary; about a third are near copies
    * of an earlier one (one word replaced), and ids 0 and 1 are shorter
    * than any shingle size used below.
    */
  private def corpus(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer("alpha", "beta gamma")
    while (texts.length < n) {
      val t =
        if (texts.length > 4 && rnd.nextInt(3) == 0) {
          val w = texts(2 + rnd.nextInt(texts.length - 2)).split(" ")
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
          w.mkString(" ")
        } else Seq.fill(6 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
      texts += t
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text").repartition(3)
  }

  /** `n` random 8-dimensional vectors (`vec_id`, `embedding`). */
  private def vectors(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian()))).toSeq
      .toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("probe_id", "index_id", "est_jaccard").as[(Long, Long, Double)]
      .collect().toSeq.sorted

  private def dataFiles(dir: Path): Seq[Path] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
  }

  test("lshIndexProbe equals the per-band-signature probe on random corpora") {
    val oracleTbl = "lsh_layout_oracle"
    val tbl = "lsh_layout_split"
    case class Case(seed: Int, numHashes: Int, bands: Int, shingle: Int,
                    maxBucket: Int, threshold: Double)
    val cases = Seq(
      Case(11, 64, 16, 3, 100000, 0.35),
      Case(12, 32, 8, 2, 100000, 0.0),
      Case(13, 64, 16, 5, 100000, 0.2),
      // buckets capped hard: some documents lose postings, a few all of them
      Case(14, 32, 16, 2, 2, 0.0))
    try for (c <- cases) {
      val docs = corpus(c.seed, 90)
      val index = docs.filter($"doc_id" % 3 =!= 2)
      LshIndexOracle.build(index, oracleTbl, "doc_id", "text", c.numHashes,
        c.bands, c.shingle, maxBucketSize = c.maxBucket)
      val indexed = Dedup.buildLshIndex(index, tbl, "doc_id", "text",
        c.numHashes, c.bands, c.shingle, numBuckets = 4,
        maxBucketSize = c.maxBucket)
      assert(indexed == index.count())
      def both(batch: DataFrame) = (
        rows(Dedup.lshIndexProbe(spark, tbl, batch, "doc_id", "text",
          c.numHashes, c.bands, c.shingle, c.threshold)),
        rows(LshIndexOracle.probe(spark, oracleTbl, batch, "doc_id", "text",
          c.numHashes, c.bands, c.shingle, c.threshold)))
      // a disjoint batch, a batch overlapping the index ids (self pairs
      // drop, both directions of an indexed pair stay), an empty batch
      for (batch <- Seq(docs.filter($"doc_id" % 3 === 2), docs,
                        docs.filter($"doc_id" < 0))) {
        val (got, want) = both(batch)
        assert(got == want, s"$c: split layout differs from the oracle")
      }
      assert(both(docs)._1.nonEmpty, s"$c: the corpus must yield candidates")
    } finally {
      Exporter.dropBucketed(spark, oracleTbl)
      Exporter.dropBucketed(spark, tbl)
    }
  }

  test("LSH index layout: signature-free postings, one signature per document") {
    val tbl = "lsh_layout_shape"
    val docs = corpus(21, 60)
    try {
      val indexed = Dedup.buildLshIndex(docs, tbl, "doc_id", "text",
        shingleSize = 3, numBuckets = 4)
      assert(spark.table(tbl).columns.toSeq == Seq("band", "bh", "id"))
      val store = spark.table(Exporter.sidecarTable(tbl, "signatures"))
      assert(store.columns.toSeq == Seq("id", "minhash"))
      val (n, ids) = store.agg(count(lit(1)), countDistinct($"id"))
        .as[(Long, Long)].head()
      assert(n == 60 && ids == 60 && indexed == 60,
        s"$n signatures for $ids ids, $indexed indexed, of 60 documents")
      assert(spark.table(tbl).select($"id").distinct().count() == 60)
      // the store lives under the index's own location, hidden from its scan
      val loc = Exporter.managedLocation(spark, tbl)
      assert(dataFiles(new Path(loc, "_sidecars/signatures")).nonEmpty)
      // each part is written one file per bucket
      assert(dataFiles(loc).length <= 4)
      assert(dataFiles(new Path(loc, "_sidecars/signatures")).length <= 4)
    } finally Exporter.dropBucketed(spark, tbl)
  }

  test("an index without a signature store fails the probe by name") {
    val tbl = "lsh_layout_old"
    val docs = corpus(31, 30)
    try {
      LshIndexOracle.build(docs, tbl, "doc_id", "text", shingleSize = 3)
      val e = intercept[Dedup.LshIndexLayoutError] {
        Dedup.lshIndexProbe(spark, tbl, docs, "doc_id", "text", shingleSize = 3)
      }
      assert(e.getMessage.contains("has no signature store") &&
        e.getMessage.contains("rebuild it with Dedup.buildLshIndex"), e.getMessage)
    } finally Exporter.dropBucketed(spark, tbl)
  }

  test("IVF index: at most one data file per list") {
    val tbl = "ivf_layout_files"
    val emb = vectors(17, 400)
    try {
      Similarity.buildIvfIndex(emb.repartition(4), tbl, "vec_id", "embedding",
        nLists = 8, iterations = 1)
      val fs = Exporter.managedLocation(spark, tbl)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lists = fs.listStatus(Exporter.managedLocation(spark, tbl)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("ivf_list="))
      assert(lists.nonEmpty)
      val files = lists.map(s => s.getPath.getName -> dataFiles(s.getPath).length)
      assert(files.forall(_._2 == 1), s"data files per list: $files")
    } finally Similarity.dropIvfIndex(spark, tbl)
  }

  test("readCodebook's parse is bit-identical to the JSON source's") {
    val rnd = new scala.util.Random(5)
    val special = Seq(-0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL / 3, 2.2250738585072009e-308, Double.MaxValue,
      1.0, -1.0, 1e-300, 123456789.0, 0.1, 1.0 / 3)
    def value(): Double = rnd.nextInt(4) match {
      case 0 => special(rnd.nextInt(special.length))
      case 1 => java.lang.Double.longBitsToDouble(rnd.nextLong()) match {
        case d if d.isNaN || d.isInfinite => rnd.nextGaussian()
        case d => d
      }
      case _ => rnd.nextGaussian() * math.pow(10, rnd.nextInt(20) - 10)
    }
    for (_ <- 0 until 20) {
      val k = 1 + rnd.nextInt(6)
      val dim = 1 + rnd.nextInt(9)
      val cb = Seq.fill(k)(Seq.fill(dim)(value()))
      val json = s"""{"nLists": $k, "dim": $dim, "centroids": """ +
        cb.map(_.map(java.lang.Double.toString).mkString("[", ", ", "]"))
          .mkString("[", ", ", "]") + "}"
      // the reader this parse replaced: JSON source schema inference
      val viaSpark = spark.read.json(Seq(json).toDS()).select($"centroids").first()
        .getSeq[scala.collection.Seq[Double]](0).map(_.toSeq).toSeq
      val parsed = Similarity.parseCodebook(json)
      def bits(c: Seq[Seq[Double]]) =
        c.map(_.map(java.lang.Double.doubleToRawLongBits))
      assert(bits(parsed) == bits(viaSpark), json)
      assert(bits(parsed) == bits(cb), json)
    }
  }

  test("a non-finite centroid is written as null and reads back as NaN") {
    assert(Similarity.parseCodebook("""{"centroids": [[1.5, null], [null, -2.0]]}""")
      .map(_.map(java.lang.Double.doubleToRawLongBits)) ==
      Seq(Seq(1.5, Double.NaN), Seq(Double.NaN, -2.0))
        .map(_.map(java.lang.Double.doubleToRawLongBits)))
    // a NaN seed vector: only it joins the NaN centroid, which stays NaN
    val tbl = "ivf_layout_nan"
    val emb = (Seq(0L -> Seq(Double.NaN, 0.0)) ++
      vectors(23, 60).as[(Long, Seq[Double])].collect().toSeq.map {
        case (i, v) => (i + 1, v.take(2)) })
      .toDF("vec_id", "embedding").coalesce(1)
    try {
      val built = Similarity.buildIvfIndex(emb, tbl, "vec_id", "embedding",
        nLists = 3, iterations = 1)
      assert(built.head.head.isNaN && built.flatten.count(_.isNaN) == 1, s"$built")
      val read = Similarity.readCodebook(spark, tbl)
      assert(read.map(_.map(java.lang.Double.doubleToRawLongBits)) ==
        built.map(_.map(java.lang.Double.doubleToRawLongBits)))
      val hits = Similarity.ivfProbe(spark, tbl, emb.filter($"vec_id" > 0)
          .limit(5), "vec_id", "embedding", k = 2, nProbe = 3)
        .select($"qid").distinct().count()
      assert(hits == 5)
    } finally Similarity.dropIvfIndex(spark, tbl)
  }

  test("dropping the LSH and IVF indexes leaves no catalog entry and no file") {
    val lsh = "cleanup_lsh_index"
    val ivf = "cleanup_ivf_index"
    val emb = vectors(19, 100)
    def ours(): Seq[String] = spark.catalog.listTables().collect().toSeq
      .map(_.name).filter(n => n.startsWith(lsh) || n.startsWith(ivf))
    val fs = Exporter.managedLocation(spark, lsh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Dedup.buildLshIndex(corpus(41, 40), lsh, "doc_id", "text", shingleSize = 3)
    Similarity.buildIvfIndex(emb, ivf, "vec_id", "embedding", nLists = 4,
      iterations = 1)
    assert(ours().toSet == Set(lsh, Exporter.sidecarTable(lsh, "signatures"), ivf))
    Exporter.dropBucketed(spark, lsh)
    Similarity.dropIvfIndex(spark, ivf)
    assert(ours().isEmpty, s"catalog entries left: ${ours()}")
    for (t <- Seq(lsh, ivf))
      assert(!fs.exists(Exporter.managedLocation(spark, t)), s"$t files left")
  }
}
