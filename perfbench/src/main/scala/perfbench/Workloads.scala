package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.core.GraftConfig
import graft.operators.{Dedup, Exporter, Runner, Similarity, TextAnalysis}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** What one operation left behind for checking and cleanup. */
final case class Outcome(failures: Seq[String], outputBytes: Long,
                         layers: Map[String, Double])

/** A benchmark workload. `setup` (re)generates the input from the seed;
  * `run` is the timed operation — one call into the engine's public entry
  * points — and returns what `finish` checks outside the timed window.
  */
trait Workload {
  def name: String
  def setup(): Unit
  def inputRows: Long
  def inputChecksum: String
  def size: Map[String, Any]
  /** Untimed operations run after set-up, until op times stop drifting. */
  def warmupOps: Int
  /** What one operation returns. */
  type R
  /** The timed call. With a tracer, layer calls are wrapped in spans whose
    * parent is `opSpan`.
    */
  def run(op: Int, tracer: Option[Tracer], opSpan: Long): R
  /** Checks the output of `run`, measures what it wrote, and removes it. */
  def finish(op: Int, result: R, tracer: Option[Tracer]): Outcome
}

object Workload {
  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Read-back digest of a parquet export: rows and an order-independent
    * content hash.
    */
  def exportDigest(spark: SparkSession, path: String): String = {
    val (n, h) = Gen.checksum(spark.read.parquet(path))
    s"$n:$h"
  }
}

/** Runner stage timings reported through the public `Runner.timingSink`
  * hook: (stage, seconds, end nanoTime). Stages run concurrently on the
  * Runner's pool, so each becomes a span [end − seconds, end].
  */
final class StageSink {
  private val q = new ConcurrentLinkedQueue[(String, Double, Long)]()
  def install(): Unit =
    Runner.timingSink = Some((n, s) => { q.add((n, s, System.nanoTime())); () })
  def uninstall(): Unit = Runner.timingSink = None
  def take(): Seq[(String, Double, Long)] = {
    val xs = q.asScala.toSeq; q.clear(); xs
  }
}

object Stages {
  /** Per-layer sums of Runner stage spans, by the module each stage calls. */
  def layerSums(stages: Seq[(String, Double, Long)]): Map[String, Double] = {
    def sum(p: String => Boolean) = stages.filter(s => p(s._1)).map(_._2).sum
    Map(
      "Normalize.materialize_s" -> sum(_ == "materialize_cache"),
      "Normalize.report_s" -> sum(_ == "normalize_report"),
      "Reporting.quality_report_s" -> sum(_ == "quality_report"),
      "Gaps.repair_s" -> sum(_.startsWith("repair_")),
      "Resample.resample_s" -> sum(_.startsWith("resample_")),
      "Exporter.export_s" -> sum(_.startsWith("export_")),
      "Runner.stage_sum_s" -> sum(_ => true))
  }

  def record(t: Tracer, op: Int, parent: Long,
             stages: Seq[(String, Double, Long)]): Unit =
    stages.foreach { case (n, s, end) =>
      t.record(Span(t.newId(), parent, op, s"Runner.$n",
        end - (s * 1e9).toLong, end, Map.empty))
    }
}

/** `ohlcv_pipeline`: one `Runner.processDataFrame` per operation over one
  * in-memory single-symbol frame, faithful mode, reports on, 1T/5T/15T/1H.
  */
final class OhlcvPipeline(spark: SparkSession, seed: Long, gridRows: Long,
                          work: Path) extends Workload {
  require(gridRows % 60 == 0, "grid rows must fill whole hours")
  val name = "ohlcv_pipeline"
  val warmupOps = 2
  private val cfg = GraftConfig(timeframes = Seq("1T", "5T", "15T", "1H"),
    resampleMode = "faithful")
  private val expectRows = Map("1T" -> gridRows, "5T" -> gridRows / 5,
    "15T" -> gridRows / 15, "1H" -> gridRows / 60)
  private var input: DataFrame = _
  private var rows = 0L
  private var checksumHex = ""
  private var firstDigest: Option[String] = None
  private val sink = new StageSink
  private var lastOpSpan = 0L

  def size: Map[String, Any] = Map("grid_rows" -> gridRows)
  def inputRows: Long = rows
  def inputChecksum: String = checksumHex

  def setup(): Unit = {
    if (input != null) input.unpersist(true)
    input = Gen.ohlcvFrame(spark, seed, gridRows).cache()
    val (n, h) = Gen.checksum(input)
    rows = n; checksumHex = h
  }

  private def outDir(op: Int) = work.resolve(s"out/op$op")

  type R = Runner.RunResult

  def run(op: Int, tracer: Option[Tracer], opSpan: Long): R = {
    lastOpSpan = opSpan
    if (tracer.isDefined) sink.install()
    try Runner.processDataFrame(spark, input, cfg, sourceTz = None,
      basename = "EURUSD", outDir = outDir(op).toString)
    finally sink.uninstall()
  }

  def finish(op: Int, r: R, tracer: Option[Tracer]): Outcome = {
    var fails = r.errors.map { case (k, v) => s"error $k: $v" }
    val byTf = r.exports.map(e => e.name.split('_').last -> e).toMap
    val suffix = Map("1T" -> "1m", "5T" -> "5m", "15T" -> "15m", "1H" -> "1h")
    for ((tf, n) <- expectRows) byTf.get(suffix(tf)) match {
      case Some(e) if e.rows == n => ()
      case Some(e) => fails :+= s"export $tf has ${e.rows} rows, expected $n"
      case None => fails :+= s"export $tf missing"
    }
    val digest = r.exports.sortBy(_.name)
      .map(e => Workload.exportDigest(spark, e.path)).mkString(",")
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    if (firstDigest.get != digest) fails :+= "export content differs from op 1"
    val out = outDir(op)
    val (_, bytes) = Workload.dirBytes(out)
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val stages = sink.take()
      Stages.record(t, op, lastOpSpan, stages)
      val (files, exBytes) = r.exports
        .map(e => Workload.dirBytes(java.nio.file.Paths.get(e.path)))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      Stages.layerSums(stages) ++ Map(
        "Exporter.bytes" -> exBytes.toDouble, "Exporter.files" -> files.toDouble,
        "Gaps.rows_added" -> byTf.get("1m").map(_.rows - rows).getOrElse(0L).toDouble)
    }
    Workload.deleteTree(out)
    Outcome(fails, bytes, layers)
  }
}

/** `ohlcv_batch`: one `Runner.runBatch(dryRun = false)` per operation over a
  * raw directory of per-symbol CSVs, default (correct-mode) config.
  */
final class OhlcvBatch(spark: SparkSession, seed: Long, files: Int,
                       gridRows: Long, work: Path) extends Workload {
  val name = "ohlcv_batch"
  val warmupOps = 2
  private val raw = work.resolve("raw")
  private val tfs = Seq("1T" -> 1L, "5T" -> 5L, "15T" -> 15L, "1H" -> 60L)
  private var rows = 0L
  private var checksumHex = ""
  private val sink = new StageSink
  private var lastLoad: Option[Readers.ScanResult] = None

  def size: Map[String, Any] = Map("files" -> files, "grid_rows_per_file" -> gridRows)
  def inputRows: Long = rows
  def inputChecksum: String = checksumHex

  def setup(): Unit = {
    Workload.deleteTree(raw)
    val (n, crc) = Gen.writeCsvs(raw, seed, files, gridRows)
    rows = n; checksumHex = java.lang.Long.toHexString(crc)
  }

  private def outDir(op: Int) = work.resolve(s"out/op$op")
  private def cfg(op: Int) = GraftConfig(rawPath = raw.toString,
    processedPath = outDir(op).toString)

  type R = Seq[Runner.RunResult]

  def run(op: Int, tracer: Option[Tracer], opSpan: Long): R = tracer match {
    case None => Runner.runBatch(spark, cfg(op), dryRun = false)
    case Some(t) =>
      // the traced form makes runBatch's own public calls one at a time, so
      // the reader and each file's pipeline get their own spans
      val c = cfg(op)
      val (scan, _) = t.layer(op, opSpan, "Readers.loadAll", whole = true)(
        _ => Readers.loadAll(spark, c.rawPath))
      lastLoad = Some(scan)
      sink.install()
      try scan.loaded.map { r =>
        try t.layer(op, opSpan, "Runner.processDataFrame", whole = true)(_ =>
          Runner.processDataFrame(spark, r.df, c, c.sourceTzDefault,
            r.filename, c.processedPath))._1
        finally r.release()
      }
      finally sink.uninstall()
  }

  def finish(op: Int, rs: R, tracer: Option[Tracer]): Outcome = {
    var fails = Vector.empty[String]
    if (rs.size != files) fails :+= s"${files - rs.size} of $files files quarantined"
    for (r <- rs) {
      fails ++= r.errors.map { case (k, v) => s"${r.symbol} error $k: $v" }
      if (r.exports.size != tfs.size)
        fails :+= s"${r.symbol}: ${r.exports.size} exports, expected ${tfs.size}"
      for (((tf, step), e) <- tfs.zip(r.exports.sortBy(e => stepOf(e.name)))) {
        val want = (gridRows + step - 1) / step
        if (e.rows != want) fails :+= s"${r.symbol} $tf: ${e.rows} rows, expected $want"
      }
    }
    val out = outDir(op)
    val (_, bytes) = Workload.dirBytes(out)
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val stages = sink.take()
      val parents = t.allSpans.filter(s => s.op == op &&
        s.name == "Runner.processDataFrame")
      // each stage belongs to the file span it ended inside
      stages.foreach { case st @ (_, _, end) =>
        val p = parents.find(s => s.start <= end && end <= s.end).map(_.id)
          .getOrElse(0L)
        Stages.record(t, op, p, Seq(st))
      }
      val scan = lastLoad.get
      val load = t.allSpans.filter(s => s.op == op && s.name == "Readers.loadAll")
      val oneMin = rs.flatMap(_.exports.find(_.name.endsWith("_1m"))).map(_.rows).sum
      val (files, exBytes) = rs.flatMap(_.exports)
        .map(e => Workload.dirBytes(java.nio.file.Paths.get(e.path)))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      Stages.layerSums(stages) ++ Map(
        "Readers.load_s" -> load.map(_.seconds).sum,
        "Readers.rows" -> scan.loaded.map(_.meta("rows").asInstanceOf[Long]).sum.toDouble,
        "Readers.quarantined" -> scan.quarantined.size.toDouble,
        "Gaps.rows_added" -> (oneMin - rows).toDouble,
        "Exporter.bytes" -> exBytes.toDouble, "Exporter.files" -> files.toDouble)
    }
    Workload.deleteTree(out)
    Outcome(fails, bytes, layers)
  }

  private def stepOf(exportName: String): Long = exportName.split('_').last match {
    case "1m" => 1; case "5m" => 5; case "15m" => 15; case "1h" => 60; case _ => 0
  }
}

/** What one `llm_dedup` pass returns, collected to the driver. */
final case class LlmResult(exact: Row, pairs: Array[Row], comps: Array[Row],
                           indexed: Long, screen: Row, embComps: Array[Row],
                           probed: Array[Row], gopher: Long)

/** `llm_dedup`: one curation pass per operation over a seeded document
  * corpus and embedding set.
  */
final class LlmDedup(spark: SparkSession, seed: Long, nDocs: Long, nVecs: Long,
                     nQueries: Int, work: Path) extends Workload {
  val name = "llm_dedup"
  val warmupOps = 1
  val K = 10
  val NProbe = 4
  val NLists = 16
  /** Floors fixed in the benchmark: the share of planted near copies that
    * must land in their source's component, and IVF recall@k against the
    * brute-force top-k.
    */
  val PlantedRecallFloor = 0.9
  val RecallAtKFloor = 0.8
  private val lshTable = "perfbench_lsh_index"
  private val ivfTable = "perfbench_ivf_index"
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var rows = 0L
  private var checksumHex = ""
  private var truth: Array[Array[Long]] = _
  private var firstDigest: Option[String] = None
  private val warehouse = java.nio.file.Paths.get(spark.conf.get("spark.sql.warehouse.dir")
    .stripPrefix("file:"))

  def size: Map[String, Any] =
    Map("documents" -> nDocs, "embeddings" -> nVecs, "queries" -> nQueries)
  def inputRows: Long = rows
  def inputChecksum: String = checksumHex

  def setup(): Unit = {
    if (docs != null) { docs.unpersist(true); emb.unpersist(true) }
    docs = Gen.documents(spark, seed, nDocs).cache()
    emb = Gen.embeddings(spark, seed, nVecs).cache()
    val (dn, dh) = Gen.checksum(docs)
    val (en, eh) = Gen.checksum(emb.select(col("vec_id"), col("label"),
      to_json(col("embedding")).as("e")))
    rows = dn + en; checksumHex = s"$dh-$eh"
    truth = bruteForceTopK()
  }

  /** Exact cosine top-k of each query against the corpus, computed on the
    * driver from the generator (an oracle independent of the engine):
    * similarity rounded half-up to 4 decimals, ties to the smaller id, the
    * query itself excluded — `Similarity.ivfProbe`'s ranking contract.
    */
  private def bruteForceTopK(): Array[Array[Long]] = {
    val vs = Array.tabulate(nVecs.toInt) { i =>
      val v = Gen.vector(seed, i, nVecs); (v, math.sqrt(v.map(x => x * x).sum))
    }
    Array.tabulate(nQueries) { q =>
      val (qv, qn) = vs(q)
      val sims = Array.tabulate(vs.length) { c =>
        val (cv, cn) = vs(c)
        var d = 0.0; var i = 0
        while (i < Gen.Dim) { d += qv(i) * cv(i); i += 1 }
        math.floor(d / (qn * cn) * 10000.0 + 0.5) / 10000.0
      }
      (0 until vs.length).filter(_ != q)
        .sortBy(c => (-sims(c), c)).take(K).map(_.toLong).toArray
    }
  }

  private def call[T](t: Option[Tracer], op: Int, parent: Long, layer: String)
                     (f: => T): T =
    t.fold(f)(_.layer(op, parent, layer)(_ => f)._1)

  private val pairSchema = StructType(Seq(StructField("id_a", LongType),
    StructField("id_b", LongType)))

  type R = LlmResult

  def run(op: Int, t: Option[Tracer], opSpan: Long): R = {
    val exact = call(t, op, opSpan, "Dedup.exact")(
      Dedup.exact(docs, "doc_id", "text")
        .agg(count(lit(1)), sum(col("doc_id"))).collect()(0))
    val pairs = call(t, op, opSpan, "Dedup.minHashLshPairs")(
      Dedup.minHashLshPairs(docs, "doc_id", "text")
        .select(col("id_a"), col("id_b")).collect())
    val pairDf = spark.createDataFrame(pairs.toSeq.asJava, pairSchema)
    val comps = call(t, op, opSpan, "Dedup.connectedComponents")(
      Dedup.connectedComponents(docs.select(col("doc_id")), "doc_id", pairDf,
        "id_a", "id_b").collect())
    val indexed = call(t, op, opSpan, "Dedup.buildLshIndex")(
      Dedup.buildLshIndex(docs.filter(col("doc_id") % 2 === 0), lshTable,
        "doc_id", "text"))
    val screen = call(t, op, opSpan, "Dedup.nearDupScreen")(
      Dedup.nearDupScreen(spark, lshTable, docs.filter(col("doc_id") % 2 === 1),
        docs, "doc_id", "text")
        .agg(count(lit(1)), coalesce(sum(col("dup_of")), lit(0L))).collect()(0))
    val embComps = call(t, op, opSpan, "Dedup.embeddingDedup")(
      Dedup.embeddingDedup(emb, "vec_id", "embedding", 0.9)
        .select(col("vec_id"), col("component")).collect())
    call(t, op, opSpan, "Similarity.buildIvfIndex")(
      Similarity.buildIvfIndex(emb, ivfTable, "vec_id", "embedding",
        nLists = NLists, iterations = 3))
    val probed = call(t, op, opSpan, "Similarity.ivfProbe")(
      Similarity.ivfProbe(spark, ivfTable, emb.filter(col("vec_id") < nQueries),
        "vec_id", "embedding", k = K, nProbe = NProbe)
        .select(col("qid"), col("cid")).collect())
    val gopher = call(t, op, opSpan, "TextAnalysis.gopherRules")(
      TextAnalysis.gopherRules(docs, "text")
        .agg(sum(col("quality_pass").cast("long"))).collect()(0).getLong(0))
    LlmResult(exact, pairs, comps, indexed, screen, embComps, probed, gopher)
  }

  def finish(op: Int, r: R, tracer: Option[Tracer]): Outcome = {
    var fails = Vector.empty[String]
    val comp = r.comps.map(x => x.getLong(0) -> x.getLong(1)).toMap
    val exactCopies = (0L until nDocs).filter(i => Gen.docKind(seed, i) == Gen.ExactCopy)
    val nearCopies = (0L until nDocs).filter(i => Gen.docKind(seed, i) == Gen.NearCopy)
    val lost = exactCopies.count(i => comp.get(i) != comp.get(Gen.docSource(seed, i, nDocs)))
    if (lost > 0) fails :+= s"$lost planted exact copies not in their source's component"
    if (r.exact.getLong(0) != nDocs - exactCopies.size)
      fails :+= s"exact dedup kept ${r.exact.getLong(0)}, expected ${nDocs - exactCopies.size}"
    val found = nearCopies.count(i => comp.get(i) == comp.get(Gen.docSource(seed, i, nDocs)))
    val plantedRecall = if (nearCopies.isEmpty) 1.0 else found.toDouble / nearCopies.size
    if (plantedRecall < PlantedRecallFloor)
      fails :+= f"planted near-copy recall $plantedRecall%.4f < $PlantedRecallFloor"
    val ecomp = r.embComps.map(x => x.getLong(0) -> x.getLong(1)).toMap
    val vecCopies = (0L until nVecs).filter(Gen.vecIsCopy(seed, _))
    val vecFound = vecCopies.count(i => ecomp.get(i) == ecomp.get(Gen.vecSource(seed, i, nVecs)))
    val vecRecall = if (vecCopies.isEmpty) 1.0 else vecFound.toDouble / vecCopies.size
    if (vecRecall < PlantedRecallFloor)
      fails :+= f"planted near-duplicate embedding recall $vecRecall%.4f < $PlantedRecallFloor"
    val got = r.probed.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = truth.indices.map(q => truth(q).count(c => got.getOrElse(q.toLong, Set.empty[Long])(c))).sum
    val recallAtK = hits.toDouble / math.max(1, truth.map(_.length).sum)
    if (recallAtK < RecallAtKFloor) fails :+= f"IVF recall@$K $recallAtK%.4f < $RecallAtKFloor"
    val digest = Seq(r.exact.getLong(0), r.exact.getLong(1), r.pairs.length,
      r.pairs.map(p => p.getLong(0) * 31 + p.getLong(1)).sum,
      comp.values.toSet.size, r.indexed, r.screen.getLong(0), r.screen.getLong(1),
      ecomp.values.toSet.size, r.probed.length,
      r.probed.map(p => p.getLong(0) * 31 + p.getLong(1)).sum, r.gopher).mkString(":")
    if (firstDigest.isEmpty) firstDigest = Some(digest)
    if (firstDigest.get != digest) fails :+= s"result digest $digest differs from op 1"
    val (_, bytes) = Seq(lshTable, ivfTable)
      .map(tb => Workload.dirBytes(warehouse.resolve(tb)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val sp = t.allSpans.filter(_.op == op).groupBy(_.name).map { case (n, s) => n -> s.last }
      def sec(n: String) = sp.get(n).map(_.seconds).getOrElse(0.0)
      Map(
        "Dedup.exact_s" -> sec("Dedup.exact"),
        "Dedup.lsh_pairs_s" -> sec("Dedup.minHashLshPairs"),
        "Dedup.pairs" -> r.pairs.length.toDouble,
        "Dedup.cc_s" -> sec("Dedup.connectedComponents"),
        "Dedup.cc_jobs" -> sp.get("Dedup.connectedComponents")
          .map(_.attrs("jobs").asInstanceOf[Long].toDouble).getOrElse(0.0),
        "Dedup.index_build_s" -> sec("Dedup.buildLshIndex"),
        "Dedup.screen_s" -> sec("Dedup.nearDupScreen"),
        "Dedup.embedding_dedup_s" -> sec("Dedup.embeddingDedup"),
        "Dedup.planted_recall" -> plantedRecall,
        "Similarity.ivf_build_s" -> sec("Similarity.buildIvfIndex"),
        "Similarity.ivf_probe_s" -> sec("Similarity.ivfProbe"),
        "Similarity.recall_at_k" -> recallAtK,
        "TextAnalysis.gopher_s" -> sec("TextAnalysis.gopherRules"),
        "Exporter.index_write_s" -> sp.values.map(_.attrs("table_write_s")
          .asInstanceOf[Double]).sum)
    }
    Exporter.dropBucketed(spark, lshTable)
    Similarity.dropIvfIndex(spark, ivfTable)
    Outcome(fails, bytes, layers)
  }
}
