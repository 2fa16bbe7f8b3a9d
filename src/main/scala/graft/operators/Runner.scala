package graft.operators

import scala.collection.immutable.ListMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.core.{GraftConfig, Json, Rules, Sizing, Timing}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pipeline orchestration (reference O22–O24: src/run.py:60-340): per input
  * — normalize → QA report → per timeframe: gap repair then resample →
  * export with sidecar + NDJSON log. Each stage is isolated so one
  * file/timeframe failing never stops the run (src/run.py:74,189,249,252).
  *
  * The transform graph stays lazy end-to-end; the normalized frame is
  * cached before the multi-timeframe fan-out so the rename/cast/tz/dedup
  * work executes once, not once per timeframe.
  */
object Runner {

  val TsCol: String = Normalize.TsCol

  /** Driver-side pool for the pipeline's concurrent chains: the files of
    * a batch, each file's timeframe chains and reports, and each export's
    * validate aggregate. Its tasks block on other tasks of the same pool
    * (a chain waits on its export's validate future), so the pool grows
    * with demand: a fixed size deadlocks once every thread waits on a
    * queued task. The threads only wait on Spark jobs, and `runBatch`'s
    * admission rule bounds how many files, and so threads, are live.
    * Daemon threads — the pool must never keep a driver JVM alive after
    * main() returns; idle ones exit after a minute.
    */
  lazy val driverPool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-driver-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Optional per-stage timing hook: when set, every timed stage also
    * reports (name, seconds) here — `tools.Harness.stageTimes` uses it to
    * break a pipeline run down by stage (a super-linear stage must not
    * hide inside a healthy total). Called from concurrent files and
    * timeframe chains, so the sink must be thread-safe.
    */
  @volatile var timingSink: Option[(String, Double) => Unit] = None
  private def timed[T](name: String)(f: => T): T =
    Timing.timed(name, sec => timingSink.foreach(_(name, sec)))(f)

  /** O22: symbol inference — first value of a symbol-ish column, else the
    * basename prefix before '_' (src/run.py:31-49).
    */
  def inferSymbol(df: DataFrame, fallback: String): String = {
    val candidates = Set("symbol", "ticker", "pair", "instrument", "sym")
    df.columns.find(c => candidates.contains(c.toLowerCase)) match {
      case Some(c) =>
        df.select(col(c)).filter(col(c).isNotNull).limit(1)
          .collect().headOption.map(_.get(0).toString.toUpperCase)
          .getOrElse(fallbackSymbol(fallback))
      case None => fallbackSymbol(fallback)
    }
  }

  private def fallbackSymbol(basename: String): String =
    (if (basename.contains("_")) basename.split("_")(0) else basename).toUpperCase

  /** O23: output name `{symbol}_{minYYYYMMDD}_{maxYYYYMMDD}` + timeframe
    * suffix (src/run.py:280-302); a null stamp (empty frame) prints NA.
    */
  def outputBasename(symbol: String, first: java.sql.Timestamp,
                     last: java.sql.Timestamp): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd").withZone(java.time.ZoneOffset.UTC)
    def day(t: java.sql.Timestamp) =
      Option(t).map(t => fmt.format(t.toInstant)).getOrElse("NA")
    s"${symbol}_${day(first)}_${day(last)}"
  }

  final case class StageResult(name: String, rows: Long, path: String)
  final case class RunResult(
      symbol: String,
      normalizationReport: ListMap[String, Any],
      qualityReport: ListMap[String, Any],
      exports: Seq[StageResult],
      errors: Seq[(String, String)])

  /** O24: process one input frame end-to-end (src/run.py:60-253). */
  def processDataFrame(spark: SparkSession, input: DataFrame,
                       cfg: GraftConfig, sourceTz: Option[String],
                       basename: String, outDir: String,
                       computeReports: Boolean = true): RunResult = {

    var errors = Vector.empty[(String, String)]

    // symbol inference + injection (src/run.py:304-319)
    val symbol = inferSymbol(input, basename)
    val injected =
      if (input.columns.exists(_.equalsIgnoreCase("SYMBOL")))
        input.withColumn("SYMBOL", upper(col("SYMBOL")))
      else input.withColumn("SYMBOL", lit(symbol))

    // every window/join/scan below is keyed on the series column — a
    // multi-symbol frame never serializes through one task (the injected
    // SYMBOL column always exists; a single-symbol frame is one series
    // spread over consecutive range partitions)
    val seriesKeys = Seq("SYMBOL")

    val normalized0 = timed("normalize")(
      Normalize(injected, cfg.columnsMap, cfg.requiredColumns,
        sourceTz.orElse(cfg.sourceTzDefault), cfg.targetTz,
        computeReport = computeReports,
        partitionCols = seriesKeys,
        policyIfNa = cfg.policyIfNa))
    // cache before the per-timeframe fan-out — the reference re-reads its
    // in-memory frame for free; Spark must not re-run the normalize graph
    // once per timeframe.
    // Persist level is size-aware (core.Sizing): in-memory columnar at
    // gate scale, DISK_ONLY past the spill threshold — the 60M-row probe
    // spent >25% of wall in GC with this cache (plus the repair cache)
    // heap-resident. DISK_ONLY keeps the RDD partitioning, so the range
    // layout the repair and SMA scans require is unaffected.
    val ndfPlain = normalized0.unsorted
    val ndfEstBytes = Sizing.planEstimate(ndfPlain)
    val ndf = ndfPlain.persist(Sizing.storageFor(ndfEstBytes))
    var baseRepaired: Option[DataFrame] = None
    var claimed: Option[String] = None
    try {
      // The materializing job is one aggregate over the whole cache: its
      // count doubles as the post-dedup count for the duplicates report and
      // its stamp extent names the outputs (no separate count or min/max job).
      val extent = timed("materialize_cache")(
        ndf.agg(count(lit(1)), min(col(TsCol)), max(col(TsCol))).collect()(0))
      val postRows = extent.getLong(0)
      // defeated-policy tripwire (ADVICE r15): a LogicalRDD-bridged lineage
      // has no plan size estimate, so the persist above silently kept
      // MEMORY_AND_DISK. Now that the count has run we have a REAL row
      // count — if rows × schema row width lands past the spill threshold,
      // this is exactly the huge-frame case the DISK_ONLY policy targets,
      // running heap-resident with no signal. Warn unconditionally (not
      // just in timing mode) so a defeated policy is visible in any record.
      if (ndfEstBytes.isEmpty) {
        val approxBytes = postRows * ndfPlain.schema.defaultSize
        if (approxBytes > Sizing.spillBytes)
          System.err.println("[graft] WARN: normalize cache has no Catalyst " +
            s"size estimate (bridged lineage) but measured $postRows rows " +
            s"(~$approxBytes bytes by schema width) past the spill threshold " +
            s"(${Sizing.spillBytes}); persist stayed " +
            "MEMORY_AND_DISK — set GRAFT_MAT_SPILL_BYTES or feed a sized " +
            "lineage if this run GC-thrashes")
      }
      if (Timing.enabled)
        System.err.println(s"[graft-timing] ndf partitions: ${ndf.rdd.getNumPartitions}" +
          s", est bytes: ${ndfEstBytes.getOrElse(-1L)}" +
          s", level: ${ndf.storageLevel.description}")

      val timeframes = if (cfg.timeframes.nonEmpty) cfg.timeframes else Seq("1T")
      val baseName = outputBasename(symbol, extent.getTimestamp(1),
        extent.getTimestamp(2))
      claimOutputs(baseName)
      claimed = Some(baseName)

      // The per-timeframe chains are independent reads of the cached
      // normalized frame — run them CONCURRENTLY (the reference loops
      // sequentially, src/run.py:192-250; Spark schedules concurrent jobs on
      // one session, so four repair→resample→export chains overlap their
      // shuffle/write latencies instead of stacking them). Failure isolation
      // is unchanged: each chain catches independently. The NDJSON log is
      // written once all chains are done: one block per file, in timeframe
      // order.
      implicit val ec: ExecutionContext = driverPool
      // the normalization-report aggregation reads the cached pre-dedup frame
      // — overlap it with the timeframe chains; the source cache is released
      // only after the agg has run (Normalize's deferred-report contract)
      val normReportF: Future[ListMap[String, Any]] =
        if (computeReports) Future {
          val r = timed("normalize_report")(
            normalized0.reportWithPostCount(postRows))
          normalized0.unpersistSource()
          r
        }
        else { normalized0.unpersistSource()
          Future.successful(ListMap.empty[String, Any]) }
      // the QA report reads only the cached frame — overlap it with the
      // timeframe chains
      val qualityF: Future[ListMap[String, Any]] =
        if (computeReports) Future(timed("quality_report")(
          Reporting.dataQualityReport(ndf, partitionCols = seriesKeys,
            knownDistinctTs = true, knownRows = Some(postRows))))
        else Future.successful(ListMap.empty[String, Any])
      // Resample mode (O26 `resampleMode`, SURVEY §7.3). "correct" (default):
      // ONE gap repair at the finest configured rule, then every timeframe is
      // a TRUE aggregation of that repaired base — coarse candles aggregate
      // all base rows (industry semantics), and the pipeline runs one
      // full-frame repair instead of one per timeframe. "faithful": replicate
      // the reference's repair-at-target-rule → grid-sample order
      // (src/run.py:194-216, the §2.2.4 quirk) per timeframe.
      //
      // The per-tf repair report is deliberately not computed: the reference
      // attaches it to DataFrame.attrs (run.py:206) but never persists it —
      // exporter.py only forwards `normalization_report` — so skipping the
      // report aggregation is parity AND removes two jobs per timeframe.
      //
      // `ndf` is Normalize's output, in the RangeLayout on (keys, TIMESTAMP)
      // that the repair and SMA scans require: they run as narrow
      // mapPartitions with no shuffle and no sort, parallel across a single
      // symbol's time ranges (cross-boundary state via FastFill's seeds).
      val correctMode = cfg.resampleMode != "faithful"
      val baseRule: Option[String] =
        if (correctMode && cfg.gapPolicy.isDefined)
          Some(timeframes.minBy(Rules.stepSeconds))
        else None
      // a failed base repair fails every timeframe (it is isolated like one:
      // the reports still finish) — no chain may export the unrepaired frame
      val baseOk = baseRule.forall { rule =>
        val gp = cfg.gapPolicy.get
        try {
          // the repaired frame is the normalized frame plus synthesized grid
          // rows — same magnitude, so ndf's estimate serves as its size hint
          val df = Gaps.repairGaps(ndf, rule, gp.useFfillFor,
            gp.interpolatePrices, gp.shortGapMinutes, partitionCols = seriesKeys,
            computeReport = false, cacheResult = true,
            approxResultBytes = ndfEstBytes).df
          baseRepaired = Some(df)
          // materialize BEFORE the fan-out: four chains read this cache
          // concurrently, and racing an unmaterialized cache serializes them
          // all on the partition lock
          timed(s"repair_base_$rule")(df.count())
          true
        } catch { case e: Exception =>
          errors :+= s"repair_base_$rule" -> e.getMessage
          false
        }
      }
      val results = (if (baseOk) timeframes else Nil).map { tf =>
        tf -> Future {
          // The resampled frame is cached: export runs three actions
          // (validate agg, write, hash) and must not re-execute the repair
          // chain for each.
          val (src, onGrid) =
            if (correctMode) (baseRepaired.getOrElse(ndf), baseRule.contains(tf))
            else cfg.gapPolicy match {
              case Some(gp) =>
                val r = Gaps.repairGaps(ndf, tf, gp.useFfillFor,
                  gp.interpolatePrices, gp.shortGapMinutes,
                  partitionCols = seriesKeys, computeReport = false,
                  cacheResult = true, approxResultBytes = ndfEstBytes).df
                // materialize here so the export's concurrent validate+write
                // read a hot cache instead of racing its first computation
                timed(s"repair_$tf")(r.count())
                (r, true)
              case None => (ndf, false)
            }
          // input on the target bucket grid => one row per bucket => the
          // resample aggregation degenerates to a projection (no shuffle)
          val resPlain = Resample.resampleOhlc(src, tf,
            partitionCols = seriesKeys,
            inputOnBucketGrid = onGrid)
          // The resampled frame is cached so the export's three concurrent
          // actions (validate agg, write, hash head) read a hot cache; the
          // count materializes it first because racing the FIRST
          // computation of a cached plan serializes the jobs on the
          // cache's partition locks. Measured both ways at the gate scale:
          // dropping this cache re-scans the repair cache 3× per chain ×
          // four concurrent chains and the pipeline went 3.6 s -> 5.0 s.
          // EXCEPTION — on-grid res at spill scale: there res is a pure
          // PROJECTION of the repair cache at full row count (the
          // pipeline's largest frame), and caching it again builds a
          // second full-size copy (the row-linear `resample_1T` build the
          // 30× record shows at 0.16 s -> 4.5 s) that a DISK_ONLY source
          // re-read serves just as well — so past the Sizing threshold the
          // projection stays uncached and exports read the spilled repair
          // cache directly.
          val resSpillSized = onGrid &&
            Sizing.storageFor(ndfEstBytes) == StorageLevel.DISK_ONLY
          val res = if (resSpillSized) resPlain else resPlain.cache()
          if (!resSpillSized) timed(s"resample_$tf")(res.count())
          val name = s"${baseName}_${Rules.suffix(tf)}"
          val path = s"$outDir/$name.parquet"
          val report = timed(s"export_$tf")(
            Exporter.writeParquetWithMetadata(res, path,
              cfg.compression, cfg.partitionCols,
              Json.obj("exporter_version" -> "v1",
                "timeframe" -> tf, "symbol" -> symbol),
              knownDistinctTs = true,
              writeMode = cfg.writeMode,
              rowGroupSize = cfg.rowGroupSize))
          if (!resSpillSized) res.unpersist()
          if (!correctMode && !(src eq ndf)) src.unpersist()
          (StageResult(name, report("rows").asInstanceOf[Long], path), report)
        }
      }
      var exports = Vector.empty[StageResult]
      var logBlock = Vector.empty[ListMap[String, Any]]
      for ((tf, f) <- results) {
        try {
          val (stage, report) = Await.result(f, Duration.Inf)
          exports :+= stage
          logBlock :+= report
        } catch { case e: Exception => errors :+= s"timeframe_$tf" -> e.getMessage }
      }
      if (logBlock.nonEmpty)
        try Exporter.appendExportLog(s"$outDir/exports", logBlock: _*)
        catch { case e: Exception => errors :+= "export_log" -> e.getMessage }
      val quality =
        try Await.result(qualityF, Duration.Inf)
        catch { case e: Exception => errors :+= "quality_report" -> e.getMessage
          ListMap.empty[String, Any] }
      val normReport =
        try Await.result(normReportF, Duration.Inf)
        catch { case e: Exception => errors :+= "normalize_report" -> e.getMessage
          ListMap.empty[String, Any] }
      if (computeReports && cfg.saveReports)
        try Reporting.saveReport(quality, s"$outDir/reports/${basename}_quality.json")
        catch { case e: Exception => errors :+= "save_report" -> e.getMessage }

      RunResult(symbol, normReport, quality, exports, errors)
    } finally {
      claimed.foreach(releaseOutputs)
      baseRepaired.foreach(_.unpersist())
      ndf.unpersist()
      normalized0.unpersistSource()
    }
  }

  /** Output basenames some file in flight is writing. Two batch files can
    * name the same outputs (same symbol and dates); the second waits for
    * the first, so their exports never interleave — the later writer wins.
    */
  private val writing = scala.collection.mutable.Set.empty[String]
  private def claimOutputs(baseName: String): Unit = writing.synchronized {
    while (!writing.add(baseName)) writing.wait()
  }
  private def releaseOutputs(baseName: String): Unit = writing.synchronized {
    writing -= baseName
    writing.notifyAll()
  }

  /** Admission for [[runBatch]]: a file enters while fewer than `maxFiles`
    * are in flight and the on-disk bytes in flight, plus its own, stay
    * within `maxBytes`; a file always enters when nothing is in flight.
    */
  private final class Admission(maxFiles: Int, maxBytes: Long) {
    private var files = 0
    private var bytes = 0L
    def acquire(b: Long): Unit = synchronized {
      while (files > 0 && (files >= maxFiles || bytes + b > maxBytes)) wait()
      files += 1
      bytes += b
    }
    def release(b: Long): Unit = synchronized {
      files -= 1
      bytes -= b
      notifyAll()
    }
  }

  /** EP1: full batch run over a raw directory. Each file's chain (read →
    * pipeline → release) is its own task on [[driverPool]]: one file is a
    * chain of ~60 small dependent Spark jobs that leaves most cores idle,
    * so files run together. They enter in sorted order under the
    * admission rule — at most `defaultParallelism` files, and at most
    * [[Sizing.spillBytes]] of input bytes, in flight (the bound Sizing sets
    * for live cached frames) — and results come back in sorted file
    * order. A file that fails to read is quarantined and has no result; a
    * file that fails later keeps its result with the failure in `errors`,
    * so one bad file never stops the batch (src/run.py:74,189,249,252).
    * Timed as stage `file`, one per file.
    */
  def runBatch(spark: SparkSession, cfg: GraftConfig,
               dryRun: Boolean = true): Seq[RunResult] = {
    val admission = new Admission(spark.sparkContext.defaultParallelism,
      Sizing.spillBytes)
    val files = Readers.listFiles(cfg.rawPath).map { path =>
      val bytes = new java.io.File(path).length
      admission.acquire(bytes)
      Future {
        try timed("file")(runFile(spark, cfg, path, dryRun))
        finally admission.release(bytes)
      }(driverPool)
    }
    files.flatMap(Await.result(_, Duration.Inf))
  }

  private def runFile(spark: SparkSession, cfg: GraftConfig, path: String,
                      dryRun: Boolean): Option[RunResult] =
    Readers.readOrQuarantine(spark, path).toOption.map { r =>
      try
        if (dryRun)
          RunResult(inferSymbol(r.df, r.filename), ListMap.empty,
            ListMap.empty, Nil, Nil)
        else
          processDataFrame(spark, r.df, cfg, cfg.sourceTzDefault,
            r.filename, cfg.processedPath)
      catch { case e: Exception =>
        RunResult(fallbackSymbol(r.filename), ListMap.empty, ListMap.empty,
          Nil, Seq("file" -> e.getMessage)) }
      // the pipeline materialized (and cached) everything it derives from
      // the source frame — the read-time parse cache can go
      finally r.release()
    }
}
