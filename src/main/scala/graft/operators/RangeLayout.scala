package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The range layout: the one physical input the per-series scans accept.
  *
  * A frame is in the layout when it is RANGE-partitioned on
  * (series keys, stamp) and sorted by (keys, stamp) within partitions.
  * Normalize produces it (its keyed dedup needs exactly this exchange and
  * sort); `FastFill.fill`, `Gaps.repairGaps` and the SMA summaries of
  * `Reporting.dataQualityReport` require it. A series may span many
  * consecutive partitions, so a hot series still parallelizes; the scans
  * carry the cross-partition state as fixed-size per-(partition, series)
  * summaries. A keyless frame is one series with zero key columns.
  *
  * The layout is a property of the frame, not a flag: each scan's summary
  * pass records every (partition, series run)'s first and last stamp and
  * whether its stamps ever went backwards, and [[check]] turns a broken
  * layout into a [[LayoutError]] on the driver before any row is written.
  */
object RangeLayout {

  /** The input is not in the range layout. */
  final class LayoutError(msg: String) extends IllegalStateException(msg)

  /** Lays `df` out: `repartitionByRange(keys, TIMESTAMP)`, then a sort
    * within partitions on (keys, TIMESTAMP, thenBy). `partitions` fixes the
    * range partition count (default: the session's shuffle partitions,
    * which AQE may coalesce); `thenBy` only orders rows sharing a stamp
    * (Normalize's dedup sorts by file order there).
    *
    * A key the optimizer folds to a constant (a `lit` series column) is
    * left out of the range partitioning: Catalyst drops it from a
    * downstream window's partitioning but not from the range exchange,
    * and `rangepartitioning(constant, TIMESTAMP)` does not satisfy the
    * window's clustering on TIMESTAMP — Catalyst would hash-exchange after
    * the range exchange and break the layout. A constant key is one
    * series, so ranging on the stamp alone is the same layout.
    */
  def apply(df: DataFrame, keys: Seq[String],
            partitions: Option[Int] = None,
            thenBy: Seq[String] = Nil): DataFrame = {
    val ts = Normalize.TsCol
    val rangeCols = (keys.filterNot(constantKeys(df, keys)) :+ ts).map(col)
    partitions.fold(df.repartitionByRange(rangeCols: _*))(
        df.repartitionByRange(_, rangeCols: _*))
      .sortWithinPartitions((keys ++ (ts +: thenBy)).map(col): _*)
  }

  /** The `keys` whose values the optimized plan of `df` folds to literals. */
  private def constantKeys(df: DataFrame, keys: Seq[String]): Set[String] =
    if (keys.isEmpty) Set.empty
    else df.select(keys.map(col): _*).queryExecution.optimizedPlan match {
      case p: Project => keys.zip(p.projectList)
        .collect { case (k, a: Alias) if a.child.foldable => k }.toSet
      case _ => Set.empty
    }

  /** One series run inside one partition, as a summary pass saw it. Null
    * stamps count as the smallest stamp (they sort first).
    */
  final case class Run(pid: Int, key: List[Any], firstUs: Long, lastUs: Long,
                       ordered: Boolean)

  /** Builds a [[Run]] row by row inside a task. */
  final class RunTracker(pid: Int, key: List[Any]) {
    private var first = Long.MaxValue
    private var last = Long.MinValue
    private var ordered = true
    def add(us: Long): Unit = {
      if (us < last) ordered = false
      if (first == Long.MaxValue) first = us
      last = math.max(last, us)
    }
    def run: Run = Run(pid, key, first, last, ordered)
  }

  /** Throws [[LayoutError]] when a series run's stamps go backwards, when
    * one series has two runs in one partition (series interleave), or when
    * a series' per-partition stamp ranges overlap or run out of order.
    */
  def check(op: String, runs: Iterable[Run]): Unit = {
    def fail(what: String): Nothing = throw new LayoutError(
      s"$op: input is not in the range layout ($what) — lay it out with " +
        "RangeLayout(df, keys) (range partition on (keys, stamp), sorted " +
        "within partitions)")
    runs.find(!_.ordered).foreach(r => fail(
      s"stamps go backwards in series ${r.key.mkString(",")} in partition ${r.pid}"))
    for ((k, rs) <- runs.groupBy(_.key)) {
      val byPid = rs.toSeq.sortBy(_.pid)
      byPid.zip(byPid.drop(1)).foreach { case (a, b) =>
        if (a.pid == b.pid)
          fail(s"series ${k.mkString(",")} has two runs in partition ${a.pid}")
        if (b.firstUs <= a.lastUs)
          fail(s"series ${k.mkString(",")}: partition ${b.pid} starts at or " +
            s"before partition ${a.pid} ends")
      }
    }
  }

  /** Owned internal key values of row `r` (`kIdx` columns). */
  def keyOf(r: InternalRow, kIdx: Array[Int],
            types: Array[DataType]): Array[Any] =
    kIdx.map(i => if (r.isNullAt(i)) null
      else InternalRow.copyValue(r.get(i, types(i))))

  /** Internal → external key values, matching what a DataFrame `collect()`
    * yields for string/integral keys (driver maps are keyed this way).
    */
  def externalize(key: Array[Any]): List[Any] = key.map {
    case u: UTF8String => u.toString
    case x => x
  }.toList

  /** Whether `r` belongs to the series whose internal key is `key`. */
  def sameKey(r: InternalRow, key: Array[Any], kIdx: Array[Int],
              types: Array[DataType]): Boolean = {
    if (key == null) return false
    var i = 0
    while (i < kIdx.length) {
      val ci = kIdx(i)
      val v = if (r.isNullAt(ci)) null else r.get(ci, types(ci))
      if (v != key(i)) return false
      i += 1
    }
    true
  }
}
