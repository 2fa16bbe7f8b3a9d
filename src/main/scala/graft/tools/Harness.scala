package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.core.Json
import graft.operators.Runner
import org.apache.spark.sql.SparkSession

/** The one session, scratch, timing and JSON path of the bench and tool
  * mains (`graft.Bench`, `graft.Verify` and every `graft.tools` main).
  *
  *  - Session: `local[n]` with n shuffle partitions, n =
  *    `SPARK_GRAFT_CPUS`, else every available processor; UTC, UI off,
  *    WARN. A session that already exists (a test JVM's) is used as it
  *    is: the harness applies its confs to, and stops, only a session it
  *    created.
  *  - Scratch: a created session's `spark.local.dir` can be a fresh
  *    [[ScratchPrefix]] directory, on tmpfs when it has room. It and every
  *    [[tempDir]] are deleted on stop.
  *  - Reps: [[isolate]] before a rep that must not pay for the previous
  *    one, [[stageTimes]] for the Runner's per-stage sums, [[partsFor]]
  *    for data-sized shuffle partitions.
  */
final class Harness private (val spark: SparkSession, owned: Boolean) {
  private val dirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory on the disk tmpdir, deleted on stop. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  /** Shuffle partitions for `rows` input rows: ~250k rows per partition
    * bounds FastFill's per-task series buffer (at a pinned 32 partitions
    * the 30× grid went GC-bound), never fewer than the cores. Plans do
    * not depend on the count; only memory per task does.
    */
  def partsFor(rows: Long): Int =
    math.max(spark.sparkContext.defaultParallelism, (rows / 250000L).toInt)

  /** Runs `f` with the shuffle partitions of [[partsFor]]`(rows)`. */
  def withPartsFor[T](rows: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, partsFor(rows).toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Frees what earlier reps left behind, so the next rep's time is its
    * own and not session debt. The blocking unpersist also frees
    * localCheckpoint blocks, which `clearCache` does not touch and the
    * asynchronous ContextCleaner frees too late (a 100× probe ran out of
    * heap on exactly this accumulation).
    */
  def isolate(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    System.gc()
  }

  private def stop(): Unit = {
    if (owned) spark.stop()
    dirs.asScala.foreach(Harness.delete)
  }
}

object Harness {

  /** Name prefix of every tool's tmpfs scratch directory. */
  private val ScratchPrefix = "graft_scratch"

  private val Shm = Paths.get("/dev/shm")

  /** Runs `body` on the session and stops the harness afterwards, also
    * when `body` throws. `scratchRows`: give a created session a scratch
    * `spark.local.dir` sized for a pipeline over that many grid rows.
    */
  def run[T](scratchRows: Option[Long] = None)(body: Harness => T): T = {
    val h = SparkSession.getDefaultSession match {
      case Some(s) => new Harness(s, owned = false)
      case None =>
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors.toString)
        val scratch = scratchRows.map(scratchDir)
        val b = SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
        scratch.foreach(d => b.config("spark.local.dir", d.toString))
        val h = new Harness(b.getOrCreate(), owned = true)
        h.spark.sparkContext.setLogLevel("WARN")
        scratch.foreach(h.dirs.add)
        h
    }
    try body(h) finally h.stop()
  }

  /** Shuffle and cache scratch on the fastest local storage (Spark's own
    * guidance for `spark.local.dir`). A pipeline's worst tmpfs footprint
    * is its chains' shuffle files and spills, a few times the raw grid
    * (~56 B/row); 8× that must fit in half the free tmpfs, which leaves
    * co-tenants room (tmpfs pages compete with the executor heap). Else
    * the disk tmpdir: slower, same semantics.
    */
  private def scratchDir(rows: Long): Path =
    if (Files.isWritable(Shm) &&
        BigInt(rows) * 56 * 8 * 2 < BigInt(Files.getFileStore(Shm).getUsableSpace))
      Files.createTempDirectory(Shm, ScratchPrefix)
    else Files.createTempDirectory(ScratchPrefix)

  /** Deletes tmpfs scratch a dead tool JVM left behind and returns the
    * paths. Stale tmpfs pages compete with this run's executor heap (a
    * monotonic 5 s → 37 s benchmark degradation traced to exactly this).
    * Only safe while no sibling tool JVM is alive.
    */
  def sweepStaleScratch(): Seq[String] =
    if (!Files.isDirectory(Shm)) Nil
    else Files.list(Shm).iterator().asScala
      .filter(_.getFileName.toString.startsWith(ScratchPrefix)).toList
      .map { dir => delete(dir); dir.toString }

  /** Deletes `p` and everything under it, if present. */
  def delete(p: Path): Unit =
    try Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  /** `f`'s result and wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds of `f`. */
  def seconds(f: => Any): Double = timed(f)._2

  /** Wall seconds of `f` and the seconds per stage name that
    * `Runner.timingSink` reported meanwhile, summed over concurrent
    * timeframe chains.
    */
  def stageTimes(f: => Any): (Double, Map[String, Double]) = {
    val buf = new ConcurrentLinkedQueue[(String, Double)]()
    Runner.timingSink = Some((n, s) => { buf.add((n, s)); () })
    val sec = try seconds(f) finally Runner.timingSink = None
    (sec, buf.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Milliseconds this JVM has spent in garbage collection. */
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Classes this JVM's whole-stage codegen has compiled: the count of
    * Spark's generated-class cache misses. A per-run delta well above the
    * plans a run builds means the working set overflows that cache (a
    * Guava LRU of 100 entries in four segments of ~25), so every run
    * recompiles what the previous one compiled.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The middle element (upper middle for an even count). */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** `f` over each stage's seconds in `runs` (a stage may be missing
    * from some runs).
    */
  def perStage(runs: Seq[Map[String, Double]])(
      f: Seq[Double] => Double): Map[String, Double] =
    runs.flatMap(_.keys).distinct.map(n => n -> f(runs.flatMap(_.get(n)))).toMap

  /** `xs` as a JSON array of seconds with three decimals. */
  def jsonSecs(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  /** `xs` as a JSON array of strings. */
  def jsonStrings(xs: Seq[String]): String = xs.map(Json.write(_)).mkString("[", ",", "]")

  /** Prints a one-line JSON record and writes it to `path`. */
  def publish(path: String, json: String): Unit = {
    println(json)
    Files.writeString(Paths.get(path), json + "\n")
  }
}
