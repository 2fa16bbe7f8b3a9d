package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Round snapshots for the iterative operators: connected components
  * (both algorithms), PageRank, label propagation, k-core and k-truss.
  *
  * A snapshot is a frame materialized by `Dataset.localCheckpoint` into a
  * `LogicalRDD` leaf. A lazy loop otherwise plans each round over the
  * previous round's plan, so every action re-optimizes a plan that grows
  * with the round count; and a lazy loop INPUT drags the caller's whole
  * build subtree into every round (r18: q104 and q314 spent more time in
  * the optimizer than running). Over a leaf, a round's plan is just the
  * round.
  *
  * Eager or lazy (each site's choice was measured in r18):
  *  - lazy (`eager = false`) for the connected-components rounds: the
  *    loop's next action, the convergence probe, reads the frame anyway,
  *    materializes the snapshot, and the round runs ONE job instead of
  *    checkpoint + probe;
  *  - eager (`eager = true`) everywhere else: loop inputs that every round
  *    re-reads, and the k-core and k-truss peel rounds (k-core's must
  *    materialize while its survivor cache is still held). One job, paid
  *    at snapshot time;
  *  - never for a returned result: `localCheckpoint`'s own job runs the
  *    static, non-adaptive plan (1.1 s vs 0.08 s for the consumer's AQE
  *    action over the same frame), so operators return lazy frames over
  *    their snapshots.
  *
  * Retention: a [[Loop]] keeps exactly one round's snapshot alive — the
  * previous round's is released once the next one is materialized. If the
  * operator throws, every snapshot its loop holds is released. On return,
  * the snapshots listed below stay alive because the returned lazy frame
  * reads them; Spark's ContextCleaner releases them once that frame is
  * garbage. Everything else is released before return.
  *  - `connectedComponents`: the last round's labels (pointer jumping) or
  *    edge set (star)
  *  - `pageRankFixedPoint`: the edge list, plus the last rank snapshot
  *    when `iterations` exceeds [[Interval]]
  *  - `labelPropagation`: the adjacency and the node set, plus the last
  *    label snapshot when `rounds` exceeds [[Interval]]
  *  - `kCore`, `kTruss`: the last round's edge set
  *
  * Local-checkpoint blocks die with their executor: a deployment that must
  * survive a lost executor mid-loop needs reliable checkpointing, and this
  * object is the one place that would switch.
  *
  * `GRAFT_TIMING=1` prints every round's wall time to stderr.
  */
object Snapshot {

  /** Rounds between the lineage-truncating snapshots of [[Loop.iterate]]. */
  val Interval = 8

  /** Releases the blocks behind `snap`, a frame returned by
    * `localCheckpoint` (its analyzed plan is the `LogicalRDD` leaf).
    */
  def release(snap: DataFrame, blocking: Boolean = false): Unit =
    snap.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking))

  /** Runs an iterative operator's `body` with a fresh [[Loop]]; if `body`
    * throws, every snapshot the loop still holds is released.
    */
  def loop[T](name: String)(body: Loop => T): T = {
    val l = new Loop(name)
    try body(l)
    catch {
      case t: Throwable =>
        l.held.foreach(release(_))
        throw t
    }
  }

  /** The outcome of [[Loop.untilStable]]: the last round's snapshot, the
    * number of rounds run, and whether the last probe repeated.
    */
  final case class Stable(frame: DataFrame, rounds: Int, converged: Boolean)

  /** The snapshots one operator call holds: loop inputs, released only by
    * [[release]], and the current round's snapshot, which [[rotate]]
    * replaces.
    */
  final class Loop private[Snapshot] (name: String) {
    private[Snapshot] var held = List.empty[DataFrame]
    private var current = Option.empty[DataFrame]

    /** `df` as a snapshot (eager or lazy, see [[Snapshot]]) this loop
      * holds.
      */
    def take(df: DataFrame, eager: Boolean): DataFrame = {
      held ::= df.localCheckpoint(eager)
      held.head
    }

    /** Makes `snap` the round snapshot and releases the previous one.
      * `snap` must be materialized by now: it was computed from the
      * previous one.
      */
    def rotate(snap: DataFrame): DataFrame = {
      current.foreach(release)
      current = Some(snap)
      snap
    }

    /** Releases a snapshot this loop holds. */
    def release(snap: DataFrame): Unit = {
      held = held.filterNot(_ eq snap)
      Snapshot.release(snap)
    }

    /** Round `i` of the loop, timed under `GRAFT_TIMING=1`. */
    def round[T](i: Int)(body: => T): T = Timing.timed(s"$name round $i")(body)

    /** Until-stable loop control from the round snapshot `init`, whose
      * probe is `initProbe` (None: round 1 is not compared). Each round
      * snapshots `step(cur)`, probes it (with `eager = false` the probe is
      * the job that materializes it), rotates it in and compares the probe
      * with the previous one; the loop stops when they are equal or after
      * `maxIter` rounds.
      */
    def untilStable[P](init: DataFrame, initProbe: Option[P], maxIter: Int,
                       eager: Boolean)(step: DataFrame => DataFrame)(
                       probe: DataFrame => P): Stable = {
      var cur = rotate(init)
      var last = initProbe
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxIter) {
        rounds += 1
        val p = round(rounds) {
          val next = take(step(cur), eager)
          val p = probe(next)
          cur = rotate(next)
          p
        }
        converged = last.contains(p)
        last = Some(p)
      }
      Stable(cur, rounds, converged)
    }

    /** `rounds` applications of `step`, lazy except that every
      * [[Interval]]-th round before the last is an eager round snapshot,
      * so plan depth stays bounded. At `rounds` ≤ [[Interval]] no snapshot
      * is taken.
      */
    def iterate(init: DataFrame, rounds: Int)(
                step: DataFrame => DataFrame): DataFrame =
      (1 to rounds).foldLeft(init) { (cur, i) =>
        val next = round(i)(step(cur))
        if (i % Interval == 0 && i < rounds) rotate(take(next, eager = true))
        else next
      }
  }
}
