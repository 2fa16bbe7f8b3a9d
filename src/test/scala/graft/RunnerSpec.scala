package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.core.GraftConfig
import graft.operators.Runner

/** End-to-end EP1 run on a synthetic OHLC CSV: extract → normalize → QA →
  * repair+resample per timeframe → export + NDJSON log (src/run.py shape).
  */
class RunnerSpec extends SparkSpec {

  test("full batch pipeline produces per-timeframe parquet + logs") {
    val work = Files.createTempDirectory("graft_e2e")
    val raw = Files.createDirectories(work.resolve("raw"))
    val outDir = work.resolve("processed").toString

    // 30 one-minute candles with a 3-minute hole, duplicated stamp, symbol col
    val sb = new StringBuilder("timestamp,open,high,low,close,volume,symbol\n")
    for (m <- 0 until 30 if m < 10 || m > 12) {
      val o = 1.10 + m * 0.001
      sb.append(f"2024-01-01 00:$m%02d:00,$o%.4f,${o + 0.0005}%.4f," +
        f"${o - 0.0005}%.4f,${o + 0.0002}%.4f,${100 + m},eurusd\n")
    }
    sb.append("2024-01-01 00:05:00,9.9,9.9,9.9,9.9,1,eurusd\n") // dup stamp
    Files.writeString(raw.resolve("EURUSD_202401.csv"), sb.toString)

    val cfg = GraftConfig(
      rawPath = raw.toString,
      processedPath = outDir,
      timeframes = Seq("1T", "5T"),
      partitionCols = Nil)

    val results = Runner.runBatch(spark, cfg, dryRun = false)
    assert(results.length == 1)
    val r = results.head
    assert(r.symbol == "EURUSD")
    assert(r.errors.isEmpty, s"no stage errors: ${r.errors}")
    assert(r.exports.length == 2)

    // 1T export: full 30-stamp repaired grid
    val e1 = r.exports.find(_.name.endsWith("_1m")).get
    assert(e1.rows == 30, "gap-repaired to the full minute grid")
    assert(spark.read.parquet(e1.path).count() == 30)
    // dedup keep-first: the 9.9 duplicate row lost
    assert(spark.read.parquet(e1.path)
      .filter(org.apache.spark.sql.functions.col("OPEN") === 9.9).count() == 0)

    val e5 = r.exports.find(_.name.endsWith("_5m")).get
    assert(e5.rows == 6)

    // sidecar + ndjson written
    assert(Files.exists(Paths.get(e1.path + ".meta.json")))
    val log = Files.readAllLines(
      Paths.get(s"$outDir/exports/export_log.ndjson"))
    assert(log.size() == 2)
    // quality report saved
    assert(Files.list(Paths.get(s"$outDir/reports")).toArray.nonEmpty)
    // dry-run writes nothing
    val dryDir = work.resolve("dry").toString
    Runner.runBatch(spark, cfg.copy(processedPath = dryDir), dryRun = true)
    assert(!Files.exists(Paths.get(dryDir)))
  }

  test("resample modes: correct aggregates the base grid, faithful grid-samples") {
    import org.apache.spark.sql.functions.col
    val work = Files.createTempDirectory("graft_modes")
    val raw = Files.createDirectories(work.resolve("raw"))
    // 30 one-minute candles, no gaps: minute m has OPEN=1.10+m*0.001,
    // HIGH=OPEN+0.0005, VOLUME=100+m
    val sb = new StringBuilder("timestamp,open,high,low,close,volume\n")
    for (m <- 0 until 30) {
      val o = 1.10 + m * 0.001
      sb.append(f"2024-01-01 00:$m%02d:00,$o%.4f,${o + 0.0005}%.4f," +
        f"${o - 0.0005}%.4f,${o + 0.0002}%.4f,${100 + m}\n")
    }
    Files.writeString(raw.resolve("EURUSD_modes.csv"), sb.toString)

    def run(mode: String): org.apache.spark.sql.DataFrame = {
      val out = work.resolve(s"out_$mode").toString
      val cfg = GraftConfig(rawPath = raw.toString, processedPath = out,
        timeframes = Seq("1T", "5T"), partitionCols = Nil,
        resampleMode = mode)
      val r = Runner.runBatch(spark, cfg, dryRun = false).head
      assert(r.errors.isEmpty, s"$mode errors: ${r.errors}")
      spark.read.parquet(r.exports.find(_.name.endsWith("_5m")).get.path)
    }

    // correct mode: the 00:00 5T candle aggregates minutes 0-4
    val c = run("correct").orderBy("TIMESTAMP").collect()
    assert(c.length == 6)
    assert(math.abs(c(0).getAs[Double]("OPEN") - 1.1) < 1e-9)
    assert(math.abs(c(0).getAs[Double]("HIGH") - 1.1045) < 1e-9, "max of m=0..4")
    assert(math.abs(c(0).getAs[Double]("CLOSE") - 1.1042) < 1e-9, "last of m=0..4")
    assert(math.abs(c(0).getAs[Double]("VOLUME") - 510.0) < 1e-9, "sum 100..104")

    // faithful mode: the 00:00 candle is the boundary-minute grid sample
    // (the reference's §2.2.4 repair-at-rule quirk)
    val f = run("faithful").orderBy("TIMESTAMP").collect()
    assert(f.length == 6)
    assert(math.abs(f(0).getAs[Double]("HIGH") - 1.1005) < 1e-9, "m=0 row only")
    assert(math.abs(f(0).getAs[Double]("VOLUME") - 100.0) < 1e-9, "m=0 row only")
  }

  test("ndjson reader: malformed lines quarantine, clean docs round-trip") {
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_ndjson")
    val sb = new StringBuilder
    for (i <- 0 until 5)
      sb.append(s"""{"doc_id": $i, "text": "doc body $i"}\n""")
    sb.append("{not json at all\n")
    sb.append("""{"doc_id": "boom", "text": "type-corrupt id"}""" + "\n")
    val p = work.resolve("docs.jsonl")
    Files.writeString(p, sb.toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val r = graft.sources.Readers.readNdjson(spark, p.toString, Some(schema))
    assert(r.meta("corrupt_rows") == 2L, s"meta: ${r.meta}")
    assert(r.meta("rows") == 5L && r.df.count() == 5)
    val rows = r.df.orderBy(graft.sources.Readers.FileOrderCol).collect()
    assert(rows(0).getAs[Long]("doc_id") == 0L &&
      rows(4).getAs[String]("text") == "doc body 4")
    r.release()
    assert(r.df.count() == 5, "recompute after release identical")

    // first-contact read: no declared schema → inference pre-pass (CSV
    // parity). The inferred schema must not leak Spark's default corrupt
    // column, and only the parser-breaking line quarantines (the
    // "boom" id is VALID JSON — inference widens doc_id to string,
    // value badness flows to Normalize's try_cast like dirty CSV)
    val inf = graft.sources.Readers.readNdjson(spark, p.toString)
    assert(!inf.df.columns.contains("_corrupt_record"), inf.df.columns.toSeq)
    assert(inf.meta("corrupt_rows") == 1L, s"meta: ${inf.meta}")
    assert(inf.meta("rows") == 6L && inf.df.count() == 6)
    inf.release()
  }

  test("row quarantine: malformed CSV rows drop and are counted, good rows survive") {
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_rowquar")
    // 5 good rows + 2 value-corrupt rows under the DECLARED ingestion
    // schema — the reference contract (extractor.py:56-59) is that a dirty
    // file never fails the batch; the scale note demands the bad ROWS drop
    // instead of the whole file
    val sb = new StringBuilder("timestamp,open,close\n")
    for (m <- 0 until 5)
      sb.append(f"2024-01-01 00:0$m:00,1.1$m,1.2$m\n")
    sb.append("2024-01-01 00:05:00,boom,1.25\n")
    sb.append("2024-01-01 00:06:00,1.16,also-not-a-price\n")
    val p = work.resolve("mixed.csv")
    Files.writeString(p, sb.toString)

    val declared = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("open", DoubleType), StructField("close", DoubleType)))
    val r = graft.sources.Readers.readCsv(spark, p.toString, Some(declared))
    assert(r.meta("corrupt_rows") == 2L, s"meta: ${r.meta}")
    // sidecar parity with the reference reader metadata (csv_reader.py:
    // 29-35): rows = clean count, plus path/format/columns/status
    assert(r.meta("rows") == 5L, s"meta: ${r.meta}")
    assert(Seq("path", "format", "rows", "columns", "status")
      .forall(r.meta.contains), s"meta: ${r.meta}")
    assert(r.df.count() == 5)
    r.release() // post-materialization: recompute must be identical
    assert(r.df.count() == 5)
    // surviving rows keep typed columns and in-file order; any downstream
    // query shape is legal (no corrupt column in the plan)
    val rows = r.df.orderBy(graft.sources.Readers.FileOrderCol).collect()
    assert(rows.length == 5)
    assert(math.abs(rows(0).getAs[Double]("open") - 1.10) < 1e-9)
    assert(math.abs(rows(4).getAs[Double]("close") - 1.24) < 1e-9)

    // inferred-schema path: the dirty column widens to string (pandas
    // to_numeric-coerce parity downstream), nothing quarantines
    val inferred = graft.sources.Readers.readCsv(spark, p.toString)
    assert(inferred.meta("corrupt_rows") == 0L)
    assert(inferred.meta("rows") == 7L)
    assert(inferred.df.count() == 7)
    inferred.release()

    // O27 parity: pipeline activity lands in $LOG_DIR/etl.log (the
    // classpath log4j2 config ships a rolling-file appender; LOG_DIR
    // defaults to ./logs like the reference's utils/logger.py:11-27)
    val logFile = new java.io.File(
      sys.env.getOrElse("LOG_DIR", "logs"), "etl.log")
    assert(logFile.isFile && logFile.length() > 0,
      s"rolling log expected at $logFile")
  }

  test("glob ingestion: one scan over a drop directory with file provenance") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_glob")
    val raw = Files.createDirectories(work.resolve("raw"))
    for (f <- Seq("a", "b")) {
      val sb = new StringBuilder("timestamp,close\n")
      for (m <- 0 until 4)
        sb.append(f"2024-01-0${if (f == "a") 1 else 2} 00:0$m:00,1.$m$m\n")
      Files.writeString(raw.resolve(s"$f.csv"), sb.toString)
    }
    val declared = StructType(Seq(
      StructField("timestamp", TimestampType), StructField("close", DoubleType)))
    val df = graft.sources.Readers.loadGlob(spark, raw.toString,
      schema = Some(declared))
    assert(df.count() == 8)
    val perFile = df.groupBy(graft.sources.Readers.SourceFileCol).count()
      .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(perFile == Map("a.csv" -> 4L, "b.csv" -> 4L))
    // in-file order: ids ascend within each file
    val orders = df.filter(col(graft.sources.Readers.SourceFileCol).endsWith("a.csv"))
      .orderBy("timestamp")
      .select(graft.sources.Readers.FileOrderCol).collect().map(_.getLong(0))
    assert(orders.toSeq == orders.sorted.toSeq)
  }

  test("glob ingestion: ndjson and orc globs read with provenance") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val work = Files.createTempDirectory("graft_glob_fmt")
    val nd = Files.createDirectories(work.resolve("nd"))
    for (f <- Seq("a", "b"))
      Files.writeString(nd.resolve(s"$f.jsonl"),
        (0 until 3).map(i => s"""{"doc_id": ${if (f == "a") i else i + 10}, "text": "$f $i"}""")
          .mkString("", "\n", "\n"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val ndDf = graft.sources.Readers.loadGlob(spark, nd.toString,
      format = "ndjson", schema = Some(schema))
    assert(ndDf.count() == 6)
    val perFile = ndDf.groupBy(graft.sources.Readers.SourceFileCol).count()
      .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(perFile == Map("a.jsonl" -> 3L, "b.jsonl" -> 3L))

    import spark.implicits._
    val orcDir = work.resolve("orc").toString
    (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.orc(orcDir)
    val orcDf = graft.sources.Readers.loadGlob(spark, orcDir, format = "orc")
    assert(orcDf.count() == 5)
    assert(orcDf.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L, 4L, 5L)))
  }

  test("quarantine: a corrupt file is skipped, not fatal") {
    val work = Files.createTempDirectory("graft_quar")
    val raw = Files.createDirectories(work.resolve("raw"))
    Files.writeString(raw.resolve("good.csv"),
      "timestamp,open,high,low,close\n2024-01-01 00:00:00,1,2,0.5,1.5\n")
    Files.writeString(raw.resolve("bad.xyz"), "not a supported file")
    val scan = graft.sources.Readers.loadAll(spark, raw.toString)
    assert(scan.loaded.length == 1)
    assert(scan.quarantined.length == 1)
    assert(scan.quarantined.head._1.endsWith("bad.xyz"))
  }

  test("mixed drop dir: csv+parquet+ndjson+orc all dispatch, zero quarantined") {
    import org.apache.spark.sql.functions.col
    val work = Files.createTempDirectory("graft_mixed")
    val raw = Files.createDirectories(work.resolve("raw"))
    Files.writeString(raw.resolve("a.csv"), "doc_id,text\n1,csv doc\n2,csv two\n")
    Files.writeString(raw.resolve("b.jsonl"),
      """{"doc_id": 3, "text": "json doc"}""" + "\n")
    import spark.implicits._
    // single-file parquet/orc: write to a scratch dir, move the part file in
    for ((fmt, name, id) <- Seq(("parquet", "c.parquet", 4L), ("orc", "d.orc", 5L))) {
      val tmp = Files.createTempDirectory(s"graft_mixed_$fmt")
      val w = Seq((id, s"$fmt doc")).toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite")
      (if (fmt == "orc") w.orc(tmp.toString) else w.parquet(tmp.toString))
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.move(part, raw.resolve(name))
    }
    val scan = graft.sources.Readers.loadAll(spark, raw.toString)
    assert(scan.quarantined.isEmpty, s"quarantined: ${scan.quarantined}")
    assert(scan.loaded.length == 4)
    val formats = scan.loaded.map(_.meta("format")).toSet
    assert(formats == Set("csv", "parquet", "ndjson", "orc"), formats)
    val ids = scan.loaded.flatMap(
      _.df.select(col("doc_id").cast("long")).collect().map(_.getLong(0))).sorted
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L), ids)
    scan.loaded.foreach(_.release())
  }

  /** `n` one-minute candles for `symbol` from 2024-01-01, opening at
    * `open0` and rising 0.001 a minute, as an OHLC CSV.
    */
  private def candles(symbol: String, n: Int, open0: Double = 1.10): String = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val sb = new StringBuilder("timestamp,open,high,low,close,volume,symbol\n")
    for (m <- 0 until n) {
      val o = open0 + m * 0.001
      sb.append(s"${fmt.format(t0.plusMinutes(m))},").append(
        f"$o%.4f,${o + 0.0005}%.4f,${o - 0.0005}%.4f,${o + 0.0002}%.4f,${100 + m},$symbol\n")
    }
    sb.toString
  }

  /** A raw directory with one `candles` CSV per symbol; returns (raw, out). */
  private def batchDirs(prefix: String, symbols: Seq[String],
                        n: Int): (Path, String) = {
    val work = Files.createTempDirectory(prefix)
    val raw = Files.createDirectories(work.resolve("raw"))
    for (s <- symbols) Files.writeString(raw.resolve(s"${s}_2024.csv"), candles(s, n))
    (raw, work.resolve("processed").toString)
  }

  /** Runs `f` with Runner's timing sink recording every `file` stage as a
    * [start, end] nanoTime interval.
    */
  private def fileIntervals[T](f: => T): (T, Seq[(Long, Long)]) = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    Runner.timingSink = Some((stage, sec) => if (stage == "file") {
      val end = System.nanoTime()
      q.add((end - (sec * 1e9).toLong, end)); ()
    })
    try (f, q.asScala.toSeq) finally Runner.timingSink = None
  }

  /** Most intervals open at one instant (an end precedes a start at a tie). */
  private def peakOverlap(spans: Seq[(Long, Long)]): Int =
    spans.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
      .scanLeft(0)(_ + _._2).max

  test("twelve timeframes finish: the driver pool cannot deadlock") {
    import org.apache.spark.sql.functions._
    val input = spark.range(1200).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("timestamp"),
      (lit(1.1) + col("id") * 1e-4).as("open"),
      (lit(1.1005) + col("id") * 1e-4).as("high"),
      (lit(1.0995) + col("id") * 1e-4).as("low"),
      (lit(1.1002) + col("id") * 1e-4).as("close"),
      (lit(100.0) + col("id")).as("volume")).cache()
    input.count()
    val tfs = Seq("1T", "2T", "3T", "4T", "5T", "6T", "10T", "15T", "20T",
      "30T", "1H", "2H")
    val out = Files.createTempDirectory("graft_tf12").toString
    val cfg = GraftConfig(rawPath = out, processedPath = out, timeframes = tfs,
      partitionCols = Nil)
    // on its own thread: a deadlocked pool must fail the test, not hang it
    val run = Future(Runner.processDataFrame(spark, input, cfg, None,
      "EURUSD_tf12", out))(ExecutionContext.global)
    val r = try Await.result(run, 120.seconds) finally input.unpersist()
    assert(r.errors.isEmpty, s"errors: ${r.errors}")
    val steps = Seq(1, 2, 3, 4, 5, 6, 10, 15, 20, 30, 60, 120)
    assert(r.exports.map(_.rows) == steps.map(k => (1200L + k - 1) / k))
  }

  test("processDataFrame releases every frame it persists") {
    import org.apache.spark.sql.functions._
    val input = spark.range(600).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 60).as("timestamp"),
      (lit(1.1) + col("id") * 1e-4).as("open"),
      (lit(1.1005) + col("id") * 1e-4).as("high"),
      (lit(1.0995) + col("id") * 1e-4).as("low"),
      (lit(1.1002) + col("id") * 1e-4).as("close"),
      (lit(100.0) + col("id")).as("volume")).cache()
    input.count()
    val out = Files.createTempDirectory("graft_residue").toString
    val cfg = GraftConfig(rawPath = out, processedPath = out,
      timeframes = Seq("1T", "5T"), partitionCols = Nil)
    // reports on: the quality report's SMA scan and Normalize's observed
    // counters read only the normalized cache
    val (r, residue) =
      try persistResidue(Runner.processDataFrame(spark, input, cfg, None,
        "EURUSD_residue", out))(_ => Set.empty)
      finally input.unpersist()
    assert(r.errors.isEmpty, s"errors: ${r.errors}")
    assert(r.exports.map(_.rows) == Seq(600L, 120L))
    assert(residue.isEmpty, s"RDDs left persisted: $residue")
  }

  test("query census: one processDataFrame runs no probe, report or anchor query") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graft.GraftSqlBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val (raw, out) = batchDirs("graft_census", Seq("EURUSD"), 90)
    val cfg = GraftConfig(rawPath = raw.toString, processedPath = out)
    val read = graft.sources.Readers.read(spark,
      raw.resolve("EURUSD_2024.csv").toString)
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { queries.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { queries.add(qe); () }
    }
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftSqlBridge.drainListenerBus(spark)
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    val r = try Runner.processDataFrame(spark, read.df, cfg, None, read.filename,
      out, inputRows = Some(read.meta("rows").asInstanceOf[Long]))
    finally {
      GraftSqlBridge.drainListenerBus(spark)
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
      read.release()
    }
    assert(r.errors.isEmpty, s"errors: ${r.errors}")
    assert(r.symbol == "EURUSD" && r.exports.map(_.rows) == Seq(90L, 18L, 6L, 2L))
    assert(r.normalizationReport("duplicates") ==
      scala.collection.immutable.ListMap("removed_duplicates" -> 0L))
    val plans = queries.asScala.toSeq.map(_.analyzed)
    val aggAliases = plans.flatMap(_.collect {
      case a: Aggregate => a.aggregateExpressions.map(_.name)
    }.flatten)
    // Normalize's counters and FastFill's anchors ride other jobs
    assert(!aggAliases.exists(Set("_parse_nat", "_a")), aggAliases)
    // no symbol probe (a one-row limit)
    val limits = plans.flatMap(_.collect { case l: GlobalLimit => l.limitExpr.eval() })
    assert(!limits.contains(1), plans.mkString("\n"))
    // one materializing aggregate (profile + observed counters), then per
    // timeframe one export write and one content-hash read; the jobs add
    // the reader-free RDD passes (anchors, seeds, SMA, the resample summary
    // that also fills the base cache) and the range exchanges' sampling. A
    // coarse export is one write job: no exchange, no sampling job.
    assert((plans.size, jobs.get) == (9, 18), plans.mkString("\n---\n"))
  }

  test("content_hash of a multi-series export follows its recipe in (time, series) order") {
    // default config: SYMBOL is a partition directory, not a column of the files
    assertHashRecipeAndPartOrder(GraftConfig().partitionCols)
  }

  test("content_hash and part-file order of a multi-series export with no partition columns") {
    // no partition directories: SYMBOL is in the files, and the exporter
    // writes the resampled frames' partitions as they are
    assertHashRecipeAndPartOrder(Nil)
  }

  /** AAA and BBB on the same 600 one-minute stamps, in one file: each
    * export's logged hash equals a driver-side recomputation of the recipe,
    * and every part file is in (SYMBOL, TIMESTAMP) order. */
  private def assertHashRecipeAndPartOrder(partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val work = Files.createTempDirectory("graft_hash")
    val raw = Files.createDirectories(work.resolve("raw"))
    val sb = new StringBuilder("timestamp,open,high,low,close,volume,symbol\n")
    for (m <- 0 until 600; (s, o) <- Seq("aaa" -> 1.1, "bbb" -> 2.2)) {
      val p = o + m * 0.001
      sb.append(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00,$p%.4f,${p + 0.0005}%.4f," +
        f"${p - 0.0005}%.4f,${p + 0.0002}%.4f,${100 + m},$s\n")
    }
    Files.writeString(raw.resolve("PAIR_2024.csv"), sb.toString)
    val cfg = GraftConfig(rawPath = raw.toString,
      processedPath = work.resolve("processed").toString,
      partitionCols = partitionCols)
    val r = Runner.runBatch(spark, cfg, dryRun = false).head
    assert(r.errors.isEmpty, s"errors: ${r.errors}")
    assert(r.exports.map(_.rows) == Seq(1200L, 240L, 80L, 20L))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val logged = Files.readAllLines(
      Paths.get(s"${cfg.processedPath}/exports/export_log.ndjson")).asScala
      .map(json.readTree).map(n => n.get("path").asText -> n.get("content_hash").asText).toMap
    for (e <- r.exports) {
      // the recipe on the driver: sha256 over rows, extent and the first 3
      // non-null OPEN/CLOSE of the first 1000 rows by (TIMESTAMP, SYMBOL)
      val rows = spark.read.parquet(e.path)
        .select("TIMESTAMP", "SYMBOL", "OPEN", "CLOSE").collect()
        .sortBy(x => (x.getTimestamp(0).getTime, x.getString(1)))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(rows.length.toString.getBytes)
      md.update(graft.operators.Reporting.fmtTs(rows.head.getTimestamp(0)).getBytes)
      md.update(graft.operators.Reporting.fmtTs(rows.last.getTimestamp(0)).getBytes)
      val head = rows.take(1000)
      for (i <- Seq(2, 3))
        md.update(head.iterator.filterNot(_.isNullAt(i)).map(_.get(i)).take(3)
          .mkString("[", ", ", "]").getBytes)
      assert(logged(e.path) == md.digest().map("%02x".format(_)).mkString, e.name)
      // every part file is in (series, time) order
      val parts = Files.walk(Paths.get(e.path)).iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      for (f <- parts) {
        val stamps = spark.read.option("basePath", e.path).parquet(f.toString)
          .select(col("SYMBOL"), col("TIMESTAMP")).collect()
          .map(x => (x.getString(0), x.getTimestamp(1).getTime)).toSeq
        assert(stamps == stamps.sorted, s"${e.name}: $f out of order")
      }
      // a coarse export keeps the resampled frame's one partition: one file
      // per partition directory
      if (!e.name.endsWith("_1m"))
        assert(parts.groupBy(_.getParent).values.forall(_.size == 1), s"${e.name}: $parts")
    }
  }

  test("one failing file or base repair leaves the other files to finish") {
    val (raw, out) = batchDirs("graft_isolate", Seq("AAA", "CCC", "DDD"), 30)
    // BBB lacks the required CLOSE column: it fails in Normalize
    Files.writeString(raw.resolve("BBB_2024.csv"),
      "timestamp,open,high,low\n2024-01-01 00:00:00,1,2,0.5\n")
    val cfg = GraftConfig(rawPath = raw.toString, processedPath = out,
      timeframes = Seq("1T", "5T"), partitionCols = Nil)
    // the first base repair to finish fails (Runner's timing hook throws)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    Runner.timingSink = Some((stage, _) =>
      if (stage.startsWith("repair_base_") && failed.compareAndSet(false, true))
        throw new IllegalStateException("repair failed"))
    val rs = try Runner.runBatch(spark, cfg, dryRun = false)
      finally Runner.timingSink = None
    assert(rs.map(_.symbol) == Seq("AAA", "BBB", "CCC", "DDD"))
    val bbb = rs(1)
    assert(bbb.exports.isEmpty && bbb.errors.map(_._1) == Seq("file") &&
      bbb.errors.head._2.contains("Missing required"), s"BBB: ${bbb.errors}")
    val (repairFailed, good) = rs.filter(_.symbol != "BBB")
      .partition(_.errors.nonEmpty)
    assert(repairFailed.size == 1, rs.map(_.errors))
    assert(repairFailed.head.errors == Seq("repair_base_1T" -> "repair failed"))
    assert(repairFailed.head.exports.isEmpty, "no export of the unrepaired frame")
    assert(good.size == 2 && good.forall(_.exports.map(_.rows) == Seq(30L, 6L)))
    val log = Files.readAllLines(Paths.get(s"$out/exports/export_log.ndjson"))
    assert(log.size == 4)
  }

  test("concurrent files: the export log has one timeframe-ordered block per file") {
    val symbols = (0 until 5).map(i => s"SYM$i")
    val (raw, out) = batchDirs("graft_batch_log", symbols, 60)
    val cfg = GraftConfig(rawPath = raw.toString, processedPath = out,
      partitionCols = Nil)
    val (rs, spans) = fileIntervals(Runner.runBatch(spark, cfg, dryRun = false))
    assert(rs.map(_.symbol) == symbols, "results in sorted file order")
    assert(rs.forall(r => r.errors.isEmpty && r.exports.size == 4), rs)
    // more files than local[4]'s parallelism: files overlap, at most 4 at once
    val peak = peakOverlap(spans)
    assert(spans.size == 5 && peak >= 2 &&
      peak <= spark.sparkContext.defaultParallelism, s"peak $peak")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Files.readAllLines(Paths.get(s"$out/exports/export_log.ndjson"))
      .asScala.map(json.readTree).toSeq
    assert(lines.size == 5 * 4)
    val blocks = lines.grouped(4).toSeq
    for (b <- blocks) {
      assert(b.map(_.get("symbol").asText).distinct.size == 1, b)
      assert(b.map(_.get("timeframe").asText) == cfg.timeframes, b)
    }
    assert(blocks.map(_.head.get("symbol").asText).sorted == symbols)
  }

  test("a spill threshold below every file admits files one at a time") {
    val (raw, out) = batchDirs("graft_admit", Seq("AAA", "BBB", "CCC"), 30)
    val cfg = GraftConfig(rawPath = raw.toString, processedPath = out,
      timeframes = Seq("1T", "5T"), partitionCols = Nil)
    sys.props("graft.mat.spill.bytes") = "1"
    val (rs, spans) =
      try fileIntervals(Runner.runBatch(spark, cfg, dryRun = false))
      finally sys.props -= "graft.mat.spill.bytes"
    assert(rs.forall(r => r.errors.isEmpty && r.exports.map(_.rows) == Seq(30L, 6L)))
    assert(spans.size == 3 && peakOverlap(spans) == 1, s"spans: $spans")
  }

  test("two files naming the same outputs write them one after the other") {
    val (raw, out) = batchDirs("graft_same_name", Nil, 0)
    Files.writeString(raw.resolve("AAA_a.csv"), candles("AAA", 30))
    Files.writeString(raw.resolve("AAA_b.csv"), candles("AAA", 30, open0 = 2.10))
    val cfg = GraftConfig(rawPath = raw.toString, processedPath = out,
      timeframes = Seq("1T", "5T"), partitionCols = Nil)
    val rs = Runner.runBatch(spark, cfg, dryRun = false)
    assert(rs.forall(r => r.errors.isEmpty && r.exports.map(_.rows) == Seq(30L, 6L)),
      rs.map(_.errors))
    // each export holds one file's rows, never a mix of both
    for (e <- rs.head.exports) {
      val opens = spark.read.parquet(e.path).select("OPEN").collect().map(_.getDouble(0))
      assert(opens.length == e.rows &&
        (opens.forall(_ < 2) || opens.forall(_ >= 2)), opens.toSeq)
    }
    assert(Files.readAllLines(Paths.get(s"$out/exports/export_log.ndjson")).size == 4)
  }
}
