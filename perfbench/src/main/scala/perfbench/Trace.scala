package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the operation that caused it; `parent` the
  * enclosing span (0 = none). Times are nanoseconds on `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, op: Int, name: String,
                      start: Long, end: Long, attrs: Map[String, Any]) {
  def seconds: Double = (end - start) / 1e9
}

/** Executor-side counters, summed over the tasks of a set of jobs. */
final case class ExecCounts(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                            gcMs: Long = 0, runMs: Long = 0,
                            shuffleWrite: Long = 0, shuffleRead: Long = 0,
                            spill: Long = 0, failedTasks: Long = 0) {
  def +(o: ExecCounts): ExecCounts = ExecCounts(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, gcMs + o.gcMs, runMs + o.runMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, failedTasks + o.failedTasks)
  def -(o: ExecCounts): ExecCounts = ExecCounts(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, runMs - o.runMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, failedTasks - o.failedTasks)
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "task_run_s" -> runMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "failed_tasks" -> failedTasks)
}

/** Catalyst phase times of the queries that ran, from
  * `QueryExecution.tracker`.
  */
final case class PlanCounts(queries: Long = 0, analysisMs: Long = 0,
                            optimizationMs: Long = 0, planningMs: Long = 0,
                            tableWriteNs: Long = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(queries + o.queries,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
    planningMs + o.planningMs, tableWriteNs + o.tableWriteNs)
  def -(o: PlanCounts): PlanCounts = PlanCounts(queries - o.queries,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, tableWriteNs - o.tableWriteNs)
}

/** The traced run's probes, all attached through public hooks: a
  * `SparkListener` (jobs, task metrics, RDD block sizes) and a
  * `QueryExecutionListener` (Catalyst phases, catalog-table writes).
  *
  * Jobs are attributed to the layer named by the `perfbench.layer` local
  * property of the thread that submitted them. Events arrive on Spark's
  * listener bus asynchronously; [[drain]] runs a marker job and waits for
  * it, and since both listeners sit on the same bus queue, every event
  * posted before the marker has then been seen.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val LayerKey = "perfbench.layer"
  private val DrainKey = "perfbench.drain"

  val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()

  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val byLayer = new ConcurrentHashMap[String, ExecCounts]()
  private val drainJobs = new ConcurrentHashMap[Int, CountDownLatch]()
  private val pendingDrain = new ConcurrentHashMap[String, CountDownLatch]()
  private val plans = new AtomicReference(PlanCounts())
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private val cachedNow = new AtomicLong(0)
  private val cachedPeak = new AtomicLong(0)

  private def addTo(layer: String, c: ExecCounts): Unit =
    byLayer.merge(layer, c, (a, b) => a + b)

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(DrainKey))) match {
        case Some(token) =>
          Option(pendingDrain.remove(token)).foreach(l => drainJobs.put(e.jobId, l))
        case None =>
          val layer = props.flatMap(p => Option(p.getProperty(LayerKey)))
            .getOrElse("untagged")
          e.stageIds.foreach(s => stageLayer.put(s, layer))
          addTo(layer, ExecCounts(jobs = 1))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(drainJobs.remove(e.jobId)).foreach(_.countDown())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val layer = stageLayer.get(e.stageId)
      if (layer != null) {
        val m = e.taskMetrics
        val failed = if (e.reason == Success) 0L else 1L
        addTo(layer, if (m == null) ExecCounts(tasks = 1, failedTasks = failed)
          else ExecCounts(tasks = 1,
            cpuNs = m.executorCpuTime + m.executorDeserializeCpuTime,
            gcMs = m.jvmGCTime, runMs = m.executorRunTime,
            shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
            shuffleRead = m.shuffleReadMetrics.totalBytesRead,
            spill = m.diskBytesSpilled, failedTasks = failed))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize
                    else 0L
        val prev = Option(blockBytes.put(key, bytes)).getOrElse(0L)
        val now = cachedNow.addAndGet(bytes - prev)
        cachedPeak.accumulateAndGet(now, (a, b) => math.max(a, b))
      }
    }
  }

  /** `saveAsTable` plans (the persisted-index writes); path-based exports
    * are a different command and do not match.
    */
  private def isTableWrite(qe: QueryExecution): Boolean =
    qe.logical.exists(p => p.nodeName.startsWith("CreateTable") ||
      p.nodeName.startsWith("CreateDataSourceTableAsSelect"))

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val write = isTableWrite(qe)
      plans.accumulateAndGet(PlanCounts(1, ms("analysis"), ms("optimization"),
        ms("planning"), if (write) durationNs else 0L), (a, b) => a + b)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(execListener)
    spark.listenerManager.register(planListener)
  }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(execListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Block until the listener bus has delivered every earlier event. */
  def drain(): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    pendingDrain.put(token, latch)
    val prev = sc.getLocalProperty(DrainKey)
    sc.setLocalProperty(DrainKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainKey, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
  }

  def execTotal: ExecCounts = byLayer.values().asScala.foldLeft(ExecCounts())(_ + _)
  def execFor(layer: String): ExecCounts =
    Option(byLayer.get(layer)).getOrElse(ExecCounts())
  def planTotal: PlanCounts = plans.get()
  def cachedPeakBytes: Long = cachedPeak.get()
  def resetCachedPeak(): Unit = cachedPeak.set(cachedNow.get())

  /** Runs `f` as layer `name`: its jobs carry the layer tag, and a span
    * with the layer's executor and planning counters is recorded. `f`
    * receives the span's id, so nested calls can name it as their parent.
    * With `whole`, the span counts every job that ran meanwhile (the
    * Runner's pool threads do not carry the caller's tag).
    */
  def layer[T](op: Int, parent: Long, name: String, whole: Boolean = false)
              (f: Long => T): (T, Span) = {
    val id = newId()
    drain()
    def exec = if (whole) execTotal else execFor(name)
    val e0 = exec; val p0 = planTotal
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, name)
    val t0 = System.nanoTime()
    val r = try f(id) finally sc.setLocalProperty(LayerKey, prev)
    val t1 = System.nanoTime()
    drain()
    val e = exec - e0; val p = planTotal - p0
    val s = Span(id, parent, op, name, t0, t1,
      e.toMap ++ Map("plans_queries" -> p.queries,
        "plans_analysis_s" -> p.analysisMs / 1e3,
        "plans_optimization_s" -> p.optimizationMs / 1e3,
        "plans_planning_s" -> p.planningMs / 1e3,
        "table_write_s" -> p.tableWriteNs / 1e9))
    spans.add(s)
    (r, s)
  }

  def record(s: Span): Unit = spans.add(s)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))
}

/** Critical path through the child spans of one parent: start from the
  * child that ends last and repeatedly step to the child that ends latest
  * at or before the current one's start. Concurrent stages overlap, so
  * span durations, not self times, are what this reports.
  */
object CriticalPath {
  def apply(children: Seq[Span], slackNs: Long = 5000000L): Seq[Span] = {
    if (children.isEmpty) return Nil
    val path = mutable.ArrayBuffer(children.maxBy(_.end))
    var done = false
    while (!done) {
      val cur = path.last
      val before = children.filter(c => c.end <= cur.start + slackNs && c.end < cur.end)
      if (before.isEmpty) done = true else path += before.maxBy(_.end)
    }
    path.reverse.toSeq
  }
}
