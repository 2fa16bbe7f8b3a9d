package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.Partition
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._

/** The carry scan: a per-series sequential pass (a fill, a rolling window,
  * an as-of carry) run in parallel over a range layout, where one series
  * may span many consecutive partitions.
  *
  * A frame is in the range layout when it is RANGE-partitioned on
  * (series keys, stamp) and sorted by (keys, stamp) within partitions
  * ([[RangeScan.layout]]; Normalize's keyed dedup produces it). A keyless
  * frame is one series with zero key columns. The scan runs in three steps,
  * every one over the same `queryExecution.toRdd`, so all of them see one
  * partitioning by construction:
  *  1. [[summarize]]: one job splits each partition into series runs and
  *     collects a caller summary per (partition, series run), together with
  *     the run's [[RangeScan.Run]] (stamp extent and order); the runs are
  *     checked against the layout ([[RangeScan.check]]).
  *  2. [[seeds]]: the driver groups the runs by key, sorts them by
  *     partition and folds them with a caller merge into one carry-in seed
  *     per (partition, key). Memory is O(partitions × series), never
  *     row-shaped data.
  *  3. [[scan]]: a narrow `mapPartitionsWithIndex` hands each run and its
  *     seed to the caller's per-row loop. Seeds follow the RDD's partition
  *     index, so a downstream `coalesce` still finds them.
  *
  * Callers write only their per-row loop over [[RangeScan.Rows]]; the
  * primitive adds a key comparison per row and no boxing or closure call.
  * `op` names the caller in a [[RangeScan.LayoutError]]; `descending` is a
  * layout sorted by stamp descending within each series (the forward
  * as-of scan).
  */
final class RangeScan(op: String, df: DataFrame, keyCols: Seq[String],
                      stampCol: String, descending: Boolean = false) {
  import RangeScan._

  private val shape = {
    val schema = df.schema
    Shape(keyCols.map(schema.fieldIndex).toArray,
      schema.fields.map(_.dataType), schema.fieldIndex(stampCol), descending)
  }
  require(shape.kIdx.forall(i => isKeyType(shape.types(i))),
    s"$op: key columns must be string/numeric/boolean/date/timestamp " +
      "(runs compare boxed internal values; binary and nested keys compare " +
      "by reference)")
  require(Seq(TimestampType, TimestampNTZType, LongType)
      .contains(shape.types(shape.tsIdx)),
    s"$op: $stampCol must be a timestamp or long column")

  private val rdd = df.queryExecution.toRdd

  /** The summary job: `f` reads one series run and returns its summary.
    * Throws [[LayoutError]] when the input is not in the range layout.
    */
  def summarize[S: ClassTag](f: Rows => S): Array[(Run, S)] = {
    val shape = this.shape
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = new Rows(it, shape, track = true)
      val out = ArrayBuffer.empty[(Run, S)]
      while (rows.nextRun()) {
        val s = f(rows)
        out += rows.run(pid) -> s
      }
      out.iterator
    }.collect()
    check(op, sums.map(_._1), descending)
    sums
  }

  /** The driver fold: `merge` gets one key's summaries in partition order
    * and returns each run's seed, in the same order; a null seed is left
    * out of the map.
    */
  def seeds[S, Z <: AnyRef](sums: Array[(Run, S)])(
      merge: IndexedSeq[(Run, S)] => Seq[Z]): Map[(Int, List[Any]), Z] =
    sums.groupBy(_._1.key).iterator.flatMap { case (key, runs) =>
      val byPid = runs.sortBy(_._1.pid).toIndexedSeq
      byPid.map(_._1.pid).zip(merge(byPid))
        .collect { case (pid, z) if z != null => (pid, key) -> z }
    }.toMap

  /** The seeded scan: `f` gets each run's seed (null when it has none) and
    * its rows, and returns the run's output.
    */
  def scan[Z <: AnyRef, T: ClassTag](seeds: Map[(Int, List[Any]), Z])(
      f: (Z, Rows) => Iterator[T]): RDD[T] = {
    val shape = this.shape
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val rows = new Rows(it, shape, track = false)
      new Iterator[T] {
        private var out: Iterator[T] = Iterator.empty
        override def hasNext: Boolean = {
          while (!out.hasNext && rows.nextRun())
            out = f(seeds.getOrElse((pid, rows.key), null.asInstanceOf[Z]), rows)
          out.hasNext
        }
        override def next(): T =
          if (hasNext) out.next() else Iterator.empty.next()
      }
    }
  }

  /** [[scan]] returning rows of `schema` as a DataFrame. Emitted rows must
    * be owned (fresh or copied), never the input's reused buffer.
    */
  def scanFrame[Z <: AnyRef](seeds: Map[(Int, List[Any]), Z], schema: StructType)(
      f: (Z, Rows) => Iterator[InternalRow]): DataFrame =
    GraftSqlBridge.internalCreateDataFrame(df.sparkSession, scan(seeds)(f),
      schema)
}

object RangeScan {

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
  def layout(df: DataFrame, keys: Seq[String],
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

  /** Merges runs of consecutive partitions of `rdd` into one partition
    * each, in order, so a range layout stays one: a group closes before
    * its `weights` (one per partition) would pass `target`, and always
    * holds at least one partition. No shuffle.
    */
  def mergeContiguous[T: ClassTag](rdd: RDD[T], weights: Array[Long],
                                   target: Long): RDD[T] = {
    val groups = ArrayBuffer(ArrayBuffer.empty[Int])
    var acc = 0L
    for (p <- weights.indices) {
      if (groups.last.nonEmpty && acc + weights(p) > target) {
        groups += ArrayBuffer.empty[Int]
        acc = 0L
      }
      groups.last += p
      acc += weights(p)
    }
    if (groups.length == weights.length) rdd
    else rdd.coalesce(groups.length, shuffle = false,
      Some(Contiguous(groups.map(_.toArray).toArray)))
  }

  /** Fixed groups of parent partitions, in order. */
  private final case class Contiguous(groups: Array[Array[Int]])
      extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val parts: Array[Partition] = parent.partitions
      groups.map { g =>
        val pg = new PartitionGroup()
        g.foreach(p => pg.partitions += parts(p))
        pg
      }
    }
  }

  /** One series run inside one partition, as the summary job saw it. A
    * null stamp counts as `Long.MinValue`: first when ascending and last
    * when descending, where Spark's default null ordering puts it.
    */
  final case class Run(pid: Int, key: List[Any], firstUs: Long, lastUs: Long,
                       ordered: Boolean)

  /** Throws [[LayoutError]] when a series run's stamps go against the
    * order, when one series has two runs in one partition (series
    * interleave), or when a series' runs, concatenated in partition order,
    * are not in stamp order. Equal stamps may meet at a boundary.
    */
  def check(op: String, runs: Iterable[Run], descending: Boolean = false): Unit = {
    def fail(what: String): Nothing = throw new LayoutError(
      s"$op: input is not in the range layout ($what) — lay it out with " +
        "RangeScan.layout(df, keys) (range partition on (keys, stamp), " +
        "sorted within partitions)")
    runs.find(!_.ordered).foreach(r => fail(
      s"stamps go backwards in series ${r.key.mkString(",")} in partition ${r.pid}"))
    for ((k, rs) <- runs.groupBy(_.key)) {
      val byPid = rs.toSeq.sortBy(_.pid)
      byPid.zip(byPid.drop(1)).foreach { case (a, b) =>
        if (a.pid == b.pid)
          fail(s"series ${k.mkString(",")} has two runs in partition ${a.pid}")
        if (if (descending) b.firstUs > a.lastUs else b.firstUs < a.lastUs)
          fail(s"series ${k.mkString(",")}: partition ${b.pid} starts " +
            s"before partition ${a.pid} ends")
      }
    }
  }

  private def isKeyType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType | DateType | TimestampType | TimestampNTZType |
         FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  /** A key value in Spark's join-key semantics: every NaN bit pattern is
    * the one canonical NaN and -0.0 is +0.0, so a run never splits, and a
    * seed is never missed, on a difference a Spark equi-join ignores.
    * Compared with `Objects.equals` (`Double.equals` is bits-based, so NaN
    * equals NaN); other key types keep their value-based `equals`.
    */
  private def canon(v: Any): Any = v match {
    case d: java.lang.Double =>
      if (d.doubleValue() == 0.0d) java.lang.Double.valueOf(0.0d)
      else if (d.isNaN) java.lang.Double.valueOf(java.lang.Double.NaN)
      else d
    case f: java.lang.Float =>
      if (f.floatValue() == 0.0f) java.lang.Float.valueOf(0.0f)
      else if (f.isNaN) java.lang.Float.valueOf(java.lang.Float.NaN)
      else f
    case x => x
  }

  /** Column positions and types of a scan's input. */
  private final case class Shape(kIdx: Array[Int], types: Array[DataType],
                                 tsIdx: Int, descending: Boolean) {
    /** Owned canonical key values of `r`. */
    def keyOf(r: InternalRow): Array[Any] = kIdx.map(i =>
      if (r.isNullAt(i)) null else canon(InternalRow.copyValue(r.get(i, types(i)))))

    def sameKey(r: InternalRow, key: Array[Any]): Boolean = {
      var i = 0
      while (i < kIdx.length) {
        val ci = kIdx(i)
        val v = if (r.isNullAt(ci)) null else canon(r.get(ci, types(ci)))
        if (!java.util.Objects.equals(v, key(i))) return false
        i += 1
      }
      true
    }
  }

  /** The rows of one series run in one partition. A row is the input's
    * reused buffer: read it (or copy it) before asking for the next one.
    */
  final class Rows private[RangeScan] (it: Iterator[InternalRow], shape: Shape,
                                       track: Boolean) extends Iterator[InternalRow] {
    private var head: InternalRow = _ // the next row, already read from `it`
    private var inRun = false
    private var keyArr: Array[Any] = _
    private var n = 0L
    private var first = 0L
    private var last = 0L
    private var ordered = true

    /** The run's key: canonical internal values, one per key column. */
    var key: List[Any] = Nil

    /** Skips what is left of the current run and starts the next one. */
    private[RangeScan] def nextRun(): Boolean = {
      while (hasNext) next()
      if (head == null && it.hasNext) head = it.next()
      if (head == null) false
      else {
        keyArr = shape.keyOf(head)
        key = keyArr.toList
        inRun = true; n = 0L; ordered = true
        true
      }
    }

    override def hasNext: Boolean = inRun && (head != null || {
      inRun = it.hasNext && { head = it.next(); shape.sameKey(head, keyArr) }
      inRun
    })

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of the series run")
      val r = head
      head = null
      if (track) {
        val us = if (r.isNullAt(shape.tsIdx)) Long.MinValue else r.getLong(shape.tsIdx)
        if (n == 0L) first = us
        else if (if (shape.descending) us > last else us < last) ordered = false
        last = us
        n += 1
      }
      r
    }

    /** The whole run's [[Run]] record (reads what `f` left unread). */
    private[RangeScan] def run(pid: Int): Run = {
      while (hasNext) next()
      Run(pid, key, first, last, ordered)
    }
  }
}
