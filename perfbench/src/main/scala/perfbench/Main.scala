package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of the graft engine: one client, one operation at
  * a time, on `local[cores]`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--scale full|tiny]
  *
  * Set-up runs outside the timed window: session start, input generation
  * from the seed (repeated [[SetupReps]] times; the median counts), and the
  * workload's warm-up operations, so JIT and codegen caches are filled
  * before timing. `setup_s` is the sum of the three. Then operations
  * run back to back for `--seconds`; every one is checked, and its outputs
  * are deleted outside the timed window. The run's record (metrics, host,
  * input size and checksum) is written as JSON to `<work>/record.json`, and
  * with `--trace 1` the spans to `<work>/spans.json`.
  *
  * With `--trace 1` operations alternate untraced and traced, so the
  * per-layer numbers come from the traced ones and the difference of the
  * two medians is the tracing overhead.
  */
object Main {

  val SetupReps = 3

  /** BASELINE.md's reference stage times (pandas, 593,821 rows) beside the
    * matching `ohlcv_pipeline` layer metrics.
    */
  val ReferenceStages: Seq[(String, Double, Seq[String])] = Seq(
    ("normalize", 0.588, Seq("Normalize.materialize_s")),
    ("qa_report", 0.085, Seq("Reporting.quality_report_s")),
    ("repair", 2.782, Seq("Gaps.repair_s")),
    ("resample_export", 1.029, Seq("Resample.resample_s", "Exporter.export_s")))

  /** Progress line on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%8.2f s $msg")

  /** One-line JSON through the engine's report writer. */
  private def json(x: Any): String = graft.core.Json.write(x, indent = 0).replace("\n", "")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
    val tiny = arg(args, "--scale").contains("tiny")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    Workload.deleteTree(work)
    Files.createDirectories(work.resolve("tmp"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val wl: Workload = workload match {
        case "ohlcv_pipeline" =>
          new OhlcvPipeline(spark, seed, if (tiny) 6000L else 120000L, work)
        case "ohlcv_batch" =>
          new OhlcvBatch(spark, seed, if (tiny) 2 else 3,
            if (tiny) 3000L else 6000L, work)
        case "llm_dedup" =>
          if (tiny) new LlmDedup(spark, seed, 600, 500, 50, work)
          else new LlmDedup(spark, seed, 1000, 800, 100, work)
        case other => sys.error(s"unknown workload $other")
      }
      val record = runLoop(spark, wl, seconds, trace, cores, work)
      Files.writeString(work.resolve("record.json"), json(record))
      log("record written")
    } finally spark.stop()
    log("session stopped")
  }

  private final case class OpStat(wall: Double, cpu: Double, traced: Boolean,
                                  out: Outcome)

  private def runLoop(spark: SparkSession, wl: Workload, seconds: Double,
                      trace: Boolean, cores: Int, work: Path): ListMap[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    var op = 0
    var stats = Vector.empty[OpStat]
    val tracer = if (trace) Some(new Tracer(spark)) else None

    def oneOp(traced: Boolean): OpStat = {
      op += 1
      val t = if (traced) tracer else None
      t.foreach { x => x.attach(); x.resetCachedPeak() }
      val rdds0 = sc.getPersistentRDDs.size
      val c0 = cpuNs()
      val w0 = System.nanoTime()
      val (result, span): (Either[Exception, wl.R], Option[Span]) = t match {
        case None => (try Right(wl.run(op, None, 0)) catch { case e: Exception => Left(e) }, None)
        case Some(x) =>
          try {
            val (r, s) = x.layer(op, 0, s"op.${wl.name}", whole = true)(id =>
              wl.run(op, t, id))
            (Right(r), Some(s))
          } catch { case e: Exception => (Left(e), None) }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val out = result match {
        case Left(e) => Outcome(Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"),
          0L, Map.empty)
        case Right(r) =>
          try wl.finish(op, r, t)
          catch { case e: Exception =>
            Outcome(Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"), 0L, Map.empty) }
      }
      val extra = (t, span) match {
        case (Some(x), Some(s)) =>
          x.detach()
          val a = s.attrs
          def d(k: String) = a(k) match {
            case l: Long => l.toDouble; case v: Double => v; case _ => 0.0 }
          val stageSum = out.layers.getOrElse("Runner.stage_sum_s", 0.0)
          Map(
            "plans.analysis_s" -> d("plans_analysis_s"),
            "plans.optimization_s" -> d("plans_optimization_s"),
            "plans.planning_s" -> d("plans_planning_s"),
            "plans.queries" -> d("plans_queries"),
            "exec.jobs" -> d("jobs"), "exec.tasks" -> d("tasks"),
            "exec.cpu_s" -> d("cpu_s"), "exec.gc_s" -> d("gc_s"),
            "exec.shuffle_write_bytes" -> d("shuffle_write_bytes"),
            "exec.shuffle_read_bytes" -> d("shuffle_read_bytes"),
            "exec.spill_bytes" -> d("spill_bytes"),
            "exec.failed_tasks" -> d("failed_tasks"),
            "exec.idle_core_s" -> (s.seconds * cores - d("task_run_s")),
            "core.persisted_rdds_delta" ->
              (sc.getPersistentRDDs.size - rdds0).toDouble,
            "core.cached_bytes_peak" -> x.cachedPeakBytes.toDouble,
            "Runner.overlap" -> (if (s.seconds > 0) stageSum / s.seconds else 0.0))
        case (Some(x), None) => x.detach(); Map.empty[String, Double]
        case _ => Map.empty[String, Double]
      }
      log(f"op $op ${if (traced) "traced" else "untraced"} wall $wall%.3f s" +
        (if (out.failures.isEmpty) "" else s" FAILED: ${out.failures.mkString("; ")}"))
      OpStat(wall, cpu, traced, out.copy(layers = out.layers ++ extra))
    }

    // ---- set-up: input generation repeated (median), then warm-up ops ----
    val genReps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      log("input generated")
      (System.nanoTime() - t0) / 1e9
    }
    val warmups = (1 to wl.warmupOps).map(_ => oneOp(traced = false))
    val setupS = sessionS + median(genReps) + warmups.map(_.wall).sum

    // ---- timed closed loop ----
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds ||
           (trace && stats.count(_.traced) == 0)) {
      stats :+= oneOp(traced = trace && i % 2 == 1)
      i += 1
    }
    val hwm = vmHwmMb()

    val plain = stats.filterNot(_.traced)
    val traced = stats.filter(_.traced)
    val wallP50 = median(plain.map(_.wall))
    // warm-up operations are checked like the timed ones and count as attempts
    val attempted = warmups ++ stats
    val failed = attempted.count(_.out.failures.nonEmpty)
    val endToEnd = ListMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_p50_s" -> (wallP50, "s"),
      "input_rows_per_s" -> (wl.inputRows / wallP50, "rows/s"),
      "cpu_s_p50" -> (median(plain.map(_.cpu)), "s"),
      "peak_rss_mb" -> (hwm, "MB"),
      "output_bytes" -> (median(plain.map(_.out.outputBytes.toDouble)), "bytes"))
    val perLayer: ListMap[String, (Double, String)] = if (!trace) ListMap.empty else {
      val names = PerLayer.metrics
      val m = ListMap(names.map { case (n, unit) =>
        n -> (median(traced.map(_.out.layers.getOrElse(n, 0.0))), unit) }: _*)
      m + ("trace.overhead_s" -> (median(traced.map(_.wall)) - wallP50, "s"))
    }

    tracer.foreach { t =>
      val spans = t.allSpans
      val byOp = spans.groupBy(_.op)
      // critical path over each op's leaf spans (stages run concurrently,
      // so the path, not the sum, is what bounds the op)
      val parents = spans.map(_.parent).toSet
      val crit = byOp.toSeq.sortBy(_._1).map { case (o, ss) =>
        val path = CriticalPath(ss.filter(s => s.parent != 0 && !parents(s.id)))
        ListMap("op" -> o, "wall_s" -> ss.filter(_.parent == 0).map(_.seconds).sum,
          "path" -> path.map(s => ListMap("name" -> s.name, "seconds" -> s.seconds)),
          "path_s" -> path.map(_.seconds).sum)
      }
      val origin = spans.map(_.start).minOption.getOrElse(0L)
      val reference = if (wl.name != "ohlcv_pipeline") Nil else
        ReferenceStages.map { case (stage, ref, metrics) =>
          ListMap("reference_stage" -> stage, "reference_s" -> ref,
            "reference_rows" -> 593821,
            "metrics" -> metrics, "measured_s" -> metrics.map(m => perLayer(m)._1).sum,
            "measured_rows" -> wl.inputRows)
        }
      Files.writeString(work.resolve("spans.json"), json(ListMap(
        "workload" -> wl.name,
        "spans" -> spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start_s" -> (s.start - origin) / 1e9,
          "end_s" -> (s.end - origin) / 1e9, "seconds" -> s.seconds) ++ s.attrs),
        "critical_path" -> crit,
        "reference_stages" -> reference)))
    }

    ListMap(
      "workload" -> wl.name,
      "size" -> wl.size,
      "input_rows" -> wl.inputRows,
      "input_checksum" -> wl.inputChecksum,
      "trace" -> trace,
      "attempted" -> attempted.size,
      "failed" -> failed,
      "fail_ratio" -> failed.toDouble / attempted.size,
      "failures" -> attempted.flatMap(_.out.failures).distinct.take(20),
      "samples" -> plain.size,
      "op_walls_s" -> plain.map(_.wall),
      "traced_op_walls_s" -> traced.map(_.wall),
      "setup_input_reps_s" -> genReps,
      "warmup_op_walls_s" -> warmups.map(_.wall),
      "session_s" -> sessionS,
      "metrics" -> ListMap((if (trace) perLayer else endToEnd).toSeq.map {
        case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "end_to_end" -> ListMap(endToEnd.toSeq.map {
        case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) }: _*),
      "host" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores_used" -> cores,
        "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString))
  }
}

/** Per-layer metric names and units, in the order they are reported. */
object PerLayer {
  val metrics: Seq[(String, String)] = Seq(
    "Reporting.quality_report_s" -> "s",
    "Normalize.materialize_s" -> "s",
    "Normalize.report_s" -> "s",
    "Gaps.repair_s" -> "s",
    "Gaps.rows_added" -> "count",
    "Resample.resample_s" -> "s",
    "Exporter.export_s" -> "s",
    "Exporter.bytes" -> "bytes",
    "Exporter.files" -> "count",
    "Exporter.index_write_s" -> "s",
    "Readers.load_s" -> "s",
    "Readers.rows" -> "count",
    "Readers.quarantined" -> "count",
    "Runner.stage_sum_s" -> "s",
    "Runner.overlap" -> "ratio",
    "Dedup.exact_s" -> "s",
    "Dedup.lsh_pairs_s" -> "s",
    "Dedup.pairs" -> "count",
    "Dedup.cc_s" -> "s",
    "Dedup.cc_jobs" -> "count",
    "Dedup.index_build_s" -> "s",
    "Dedup.screen_s" -> "s",
    "Dedup.embedding_dedup_s" -> "s",
    "Dedup.planted_recall" -> "ratio",
    "Similarity.ivf_build_s" -> "s",
    "Similarity.ivf_probe_s" -> "s",
    "Similarity.recall_at_k" -> "ratio",
    "TextAnalysis.gopher_s" -> "s",
    "plans.analysis_s" -> "s",
    "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "plans.queries" -> "count",
    "exec.jobs" -> "count",
    "exec.tasks" -> "count",
    "exec.cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.failed_tasks" -> "count",
    "exec.idle_core_s" -> "s",
    "core.persisted_rdds_delta" -> "count",
    "core.cached_bytes_peak" -> "bytes")
}
