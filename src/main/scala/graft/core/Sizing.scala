package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.storage.StorageLevel

/** Size-aware persist policy for frames a fan-out re-reads (the pipeline's
  * normalized/repaired caches).
  *
  * At gate scale the columnar in-memory default (`MEMORY_AND_DISK`) is
  * fastest. Above [[spillBytes]] the cached batches compete with the
  * executor heap for the whole run — the 60M-row repair probe spent >25%
  * of wall in GC (medians 22–28 s/rep) with the heap-resident cache — so
  * large frames go `DISK_ONLY`: the SAME RDD partitioning (the range
  * layout FastFill requires survives, unlike a parquet round-trip,
  * whose file splits lose the global partition order), but the serialized
  * batches live in spark.local.dir (page-cache-backed scratch) instead of
  * the heap.
  */
object Sizing {

  /** Catalyst's "don't know" sentinel region: a LogicalRDD lineage (the
    * InternalRow bridge) reports defaultSizeInBytes ≈ Long.MaxValue;
    * anything this large is a missing estimate, not a measurement.
    */
  private val UnknownFloor = BigInt(1L) << 50

  /** Spill threshold: a quarter of the JVM heap (local mode runs driver
    * and executors in one JVM), overridable via GRAFT_MAT_SPILL_BYTES.
    * Two large frames are live at once in the pipeline (normalized +
    * repaired), so together they stay under half the heap.
    */
  def spillBytes: Long = sys.props.get("graft.mat.spill.bytes")
    .orElse(sys.env.get("GRAFT_MAT_SPILL_BYTES")).map(_.toLong)
    .getOrElse(Runtime.getRuntime.maxMemory / 4)

  /** A fresh plan of `df`'s logical plan. Forcing `df.queryExecution`
    * itself freezes it: a `persist` of `df` after that is invisible to
    * `df.queryExecution`, whose plan then re-runs the lineage instead of
    * reading the cache (`queryExecution.toRdd` callers such as the SMA
    * scan). Questions asked of a plan before it may be persisted go here.
    */
  def freshPlan(df: DataFrame): QueryExecution = {
    val qe = df.queryExecution
    new QueryExecution(qe.sparkSession, qe.logical)
  }

  /** Optimizer size estimate; None when Catalyst has no real number.
    * Estimated on a [[freshPlan]], so the caller may persist `df` after.
    */
  def planEstimate(df: DataFrame): Option[Long] = {
    val s = freshPlan(df).optimizedPlan.stats.sizeInBytes
    if (s >= UnknownFloor || s < 0) None else Some(s.toLong)
  }

  /** Storage level for a frame of (estimated) `estBytes`: spill past the
    * threshold, default otherwise — including when the estimate is
    * missing, because every gate-scale caller must keep today's in-memory
    * behavior (a false spill is a constant-factor read regression on
    * every query; a false keep degrades exactly the huge-frame case the
    * caller should be passing a hint for).
    */
  def storageFor(estBytes: Option[Long]): StorageLevel = estBytes match {
    case Some(b) if b > spillBytes => StorageLevel.DISK_ONLY
    case _ => StorageLevel.MEMORY_AND_DISK
  }

  /** Replay-cost proxy for a plan a consumer will scan several times: the
    * total bytes its SOURCE leaves read. Join/aggregate size propagation
    * is garbage for this question (a self-join's estimate is the product
    * of its children — tens of TB for a 10 MB input), but leaf sizes are
    * real numbers (parquet footers), and the cost of REPLAYING a build
    * k times is bounded by k × (scan volume + the shuffles it feeds),
    * which tracks scan volume at every scale we've measured. Materialized
    * leaves — a LogicalRDD (localCheckpoint; it CARRIES its origin plan's
    * stats in Spark 4, which may be a join product) and an
    * InMemoryRelation — count ZERO by CLASS, not by stats: they are
    * already computed, so a re-scan is a block read, not a build replay.
    * Unknown-sized leaves also count zero (an RDD bridge with no stats is
    * indistinguishable from a materialized one).
    */
  def leafScanBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map {
        case _: org.apache.spark.sql.execution.LogicalRDD => BigInt(0)
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          BigInt(0)
        case leaf =>
          val s = leaf.stats.sizeInBytes
          if (s >= UnknownFloor || s < 0) BigInt(0) else s
      }
      .sum
      .min(BigInt(Long.MaxValue)).toLong

  /** Threshold above which a fan-out consumer (triangle/wedge builders
    * scanning their edge working set 3–5×) eagerly materializes instead
    * of replaying the build per scan. Default 256 MB of leaf scan volume:
    * below it a handful of replays of a scan-plus-shuffle build is cheap
    * (measured: q118's full co-activity build replayed ~4× inside 1.4 s
    * at gate scale, while the eager checkpoint added 0.2–0.9 s of noisy
    * I/O — the r15 alarm); above it one materialization is strictly
    * cheaper than k replays and bounds AQE's concurrent-exchange memory.
    */
  def fanoutCkptBytes: Long = sys.props.get("graft.fanout.ckpt.bytes")
    .orElse(sys.env.get("GRAFT_FANOUT_CKPT_BYTES")).map(_.toLong)
    .getOrElse(1L << 28)

  /** Should a fan-out consumer eagerly materialize a working set derived
    * from `input`? (VERDICT r15 item 1: gate-scale plans keep the cheap
    * lazy form — exchange reuse and small replays — and only at-scale
    * inputs pay the checkpoint.) Any one signal suffices:
    *
    *  - the input contains an already-CHECKPOINTED leaf (LogicalRDD —
    *    e.g. coActivityEdges' capped path, which materializes exactly
    *    when its probe measured an at-scale graph): the caller's own
    *    materialization IS the scale marker, and deriving the working
    *    set once costs an input-sized pass while replaying the derive
    *    per fan-out branch measured +96 s at the 100× q118 probe
    *    (417 s lazy vs r15's 321 s checkpointed — 4 pruned branches
    *    each re-shuffling the 2.4M-row distinct). A small checkpointed
    *    input pays a harmless ms-scale extra materialization.
    *  - a LARGE cached input (ADVICE r16, medium): an InMemoryRelation
    *    leaf counts zero in [[leafScanBytes]] because RE-SCANNING the
    *    cache is a block read — but the shuffles the fan-out derives ON
    *    TOP of it are replayed per branch all the same, the exact
    *    pattern the gate exists to prevent. A materialized
    *    InMemoryRelation carries REAL post-computation stats (unlike
    *    join-product estimates), so compare them against the same
    *    threshold. (An un-materialized cache still reports its child
    *    plan's estimate — possibly a join-product overshoot — which
    *    errs toward checkpointing a big-LOOKING cache: the cheap
    *    failure mode. Gate-scale graph queries cache nothing, so their
    *    pinned lazy plans are untouched.)
    *  - a lazy build whose leaf scan volume exceeds the threshold: one
    *    materialization beats k replays of a big build, and bounds
    *    AQE's concurrent-exchange memory (the pre-r15 heap death).
    *  - a NON-DETERMINISTIC build (ADVICE r16, low): without one
    *    materialized snapshot, each fan-out branch re-executes the
    *    build and can observe a DIFFERENT row set (rand(), sampling, a
    *    non-deterministic UDF) — a degree census, orientation join and
    *    closing join over three different edge sets is silently
    *    inconsistent output, not a perf question. Size is irrelevant
    *    here; correctness forces the snapshot.
    *
    * Gate-scale graph queries hit none of these (small, deterministic,
    * un-cached lazy parquet builds) and keep the fully lazy plan — the
    * r15 q118 alarm's fix, pinned by PlanSpec.
    */
  def materializeForFanout(input: DataFrame): Boolean = {
    val plan = input.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    leaves.exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val s = imr.stats.sizeInBytes
        s < UnknownFloor && s > fanoutCkptBytes
      case _ => false
    } ||
      leafScanBytes(input) > fanoutCkptBytes ||
      plan.exists(_.expressions.exists(_.exists(!_.deterministic)))
  }
}
