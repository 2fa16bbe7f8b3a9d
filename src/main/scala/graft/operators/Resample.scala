package graft.operators

import graft.core.Rules
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** OHLCV time-bucket resampling (reference O14:
  * src/etl/transform/resample.py:39-100).
  *
  * Aggregation map over present columns: OPEN→first, HIGH→max, LOW→min,
  * CLOSE→last, VOLUME/TICKVOL/VOL→sum, SYMBOL→last; unmapped numeric
  * columns follow `extraNumericPolicy` (mean default / sum); unmapped
  * non-numeric columns are dropped (resample.py:13-36, 74-88).
  *
  * pandas parity micro-semantics (SURVEY.md §2.2.1-3), those of a Spark
  * `groupBy` on (series, bucket):
  *  - first/last skip nulls: OPEN is the earliest non-null value, CLOSE
  *    (and SYMBOL when it is not a key) the latest;
  *  - HIGH/LOW follow Spark's max/min (NaN is the largest value, -0.0
  *    equals 0.0);
  *  - a sum is `coalesce(sum, 0.0)`: an all-null or empty bucket sums to
  *    0.0; a mean extra is Spark's `avg` (null on no values);
  *  - pandas emits EMPTY in-range buckets (null aggregates, 0.0 sums):
  *    `emitEmpty = true` emits them within each series, also across
  *    partition boundaries, and `dropIncomplete` then removes null-CLOSE
  *    buckets (resample.py:90-95).
  *
  * Buckets are left-closed/left-labeled epoch-aligned floors (`floorMod`,
  * so pre-1970 stamps floor down) — pandas' minute/hour anchoring (all
  * reference rules divide 24 h). Null stamps drop.
  *
  * The input is in the range layout on (partitionCols, TIMESTAMP)
  * ([[RangeScan.layout]]), and each rule is a [[RangeScan]] — one
  * time-ordered bucket fold per series, as in the reference, with no
  * exchange and no sort:
  *  1. one summary job, shared by every rule that needs carries, records
  *     each (partition, series run)'s partial aggregate of its first and
  *     last bucket;
  *  2. the driver folds those into each run's seed: the partial of the
  *     bucket still open at the run's start, and whether the run's last
  *     bucket continues into the next run;
  *  3. a narrow scan per rule emits the closed buckets in time order, as
  *     `UnsafeRow` copies; contiguous partitions are merged down to about
  *     the input's rows per partition, so every output partition (and
  *     every file written from it) stays in (series, time) order.
  * A rule whose input is on its own grid (one row per bucket) has no
  * bucket that spans partitions: it skips the summary and scans with no
  * seeds. Partials merge in partition order, the order of Spark's own
  * partial → final aggregation over the same partitions, so sums and
  * means equal the `groupBy`'s bit for bit.
  */
object Resample {

  val TsCol: String = Normalize.TsCol

  /** One rule: see [[resampleOhlc(df:org.apache.spark.sql.DataFrame,rules:Seq[String]*]].
    * `inputOnBucketGrid`: the caller guarantees the input has exactly one
    * row per `rule` bucket (e.g. it was just gap-repaired at the same rule
    * — the reference pipeline's shape, src/run.py:194-216). Its labels are
    * still the epoch-aligned floors: gap repair anchors its grid at each
    * series' first stamp, so a series starting off-boundary (00:02 at 5T)
    * has one row per bucket but not on the bucket labels.
    * @throws RangeScan.LayoutError when the input is not in the layout
    */
  def resampleOhlc(df: DataFrame, rule: String,
                   dropIncomplete: Boolean = true,
                   extraNumericPolicy: String = "mean",
                   emitEmpty: Boolean = false,
                   partitionCols: Seq[String] = Nil,
                   inputOnBucketGrid: Boolean = false): DataFrame =
    resampleOhlc(df, Seq(rule), dropIncomplete, extraNumericPolicy, emitEmpty,
      partitionCols, if (inputOnBucketGrid) Some(rule) else None).head

  /** Resamples `df` (range layout on (partitionCols, TIMESTAMP)) at every
    * rule, returning one frame per rule in order. The summary job, when a
    * rule needs one, runs here; each returned frame is one narrow scan.
    * `onGrid` names the rule whose grid the input is on, if any.
    * Output columns: TIMESTAMP, the aggregates, then `partitionCols`.
    * @throws RangeScan.LayoutError when the input is not in the layout
    */
  def resampleOhlc(df: DataFrame, rules: Seq[String], dropIncomplete: Boolean,
                   extraNumericPolicy: String, emitEmpty: Boolean,
                   partitionCols: Seq[String],
                   onGrid: Option[String]): Seq[DataFrame] = {
    val schema = df.schema
    val cols = schema.fieldNames.toSeq
    var plan = Vector.empty[(String, Int)]
    if (cols.contains("OPEN")) plan :+= "OPEN" -> First
    if (cols.contains("HIGH")) plan :+= "HIGH" -> Max
    if (cols.contains("LOW")) plan :+= "LOW" -> Min
    if (cols.contains("CLOSE")) plan :+= "CLOSE" -> Last
    for (v <- Seq("VOLUME", "TICKVOL", "VOL") if cols.contains(v)) plan :+= v -> Sum
    if (cols.contains("SYMBOL") && !partitionCols.contains("SYMBOL"))
      plan :+= "SYMBOL" -> Last
    val mapped = plan.map(_._1).toSet ++ partitionCols + TsCol + Readers.FileOrderCol
    for (f <- schema.fields if !mapped.contains(f.name) &&
         f.dataType.isInstanceOf[NumericType])
      plan :+= f.name -> (if (extraNumericPolicy == "sum") Sum else Avg)

    val aggs = Aggs(plan.map { case (c, k) =>
      Agg(k, schema.fieldIndex(c), schema(c).dataType) }.toArray,
      plan.indexWhere(_._1 == "CLOSE"))
    // the nullability of the groupBy's output (a coalesced sum is never
    // null), which parquet writes as required columns
    val outSchema = StructType(
      StructField(TsCol, TimestampType) +:
        plan.zip(aggs.cols).map { case ((c, _), a) =>
          StructField(c, a.outType, nullable = a.kind != Sum) } ++:
        partitionCols.map(schema(_)))
    val scan = new RangeScan("Resample", df, partitionCols, TsCol)
    val tsIdx = schema.fieldIndex(TsCol)
    val steps = rules.map(Rules.stepMicros)
    // on-grid rules carry nothing across partitions unless empty buckets
    // must bridge them
    val carried = rules.indices.filter(i => emitEmpty || !onGrid.contains(rules(i)))
    val summaries =
      if (carried.isEmpty) Array.empty[(RangeScan.Run, RunSummary)]
      else scan.summarize(rows => summarize(rows, aggs, tsIdx,
        carried.map(steps).toArray))
    val spark = df.sparkSession
    rules.indices.map { i =>
      val j = carried.indexOf(i)
      val seeds =
        if (j < 0) Map.empty[(Int, List[Any]), Seed]
        else scan.seeds(summaries.map { case (r, s) => r -> s.rules(j) })(fold(aggs))
      val task = new BucketScan(aggs, tsIdx, steps(i),
        partitionCols.map(k => schema(k).dataType).toArray, dropIncomplete, emitEmpty)
      val out = scan.scan(seeds)((seed: Seed, rows) => task.run(seed, rows))
      val merged =
        if (j < 0) out
        else {
          val n = out.getNumPartitions
          val inRows = new Array[Long](n)
          val outRows = new Array[Long](n)
          for ((r, s) <- summaries) {
            inRows(r.pid) += s.rows
            outRows(r.pid) += s.rules(j).buckets
          }
          RangeScan.mergeContiguous(out, outRows,
            math.max(1L, (inRows.sum + n - 1) / n))
        }
      GraftSqlBridge.internalCreateDataFrame(spark, merged, outSchema)
    }
  }

  /** Faithful-mode pipeline step (SURVEY.md §2.2.4 / §7.3): the reference
    * runs `repair_gaps(rule=tf)` BEFORE `resample_ohlc(rule=tf)`, which
    * reindexes onto the target-frequency grid and silently drops every
    * source row not exactly on it — so coarse candles are grid-samples, not
    * true aggregates. Kept as an explicit, documented mode for parity.
    * `df` must be in the range layout on (partitionCols, TIMESTAMP)
    * ([[RangeScan.layout]]); the repair throws [[RangeScan.LayoutError]]
    * otherwise.
    */
  def faithful(df: DataFrame, rule: String,
               useFfillFor: Seq[String] = Seq("VOLUME"),
               interpolatePrices: Boolean = true,
               shortGapMinutes: Int = 5,
               partitionCols: Seq[String] = Nil): DataFrame = {
    // not cached: a caller's one action is its only reader; the repaired
    // frame is on the rule's grid, so no carries
    val repaired = Gaps.repairGaps(df, rule, useFfillFor, interpolatePrices,
      shortGapMinutes, partitionCols, computeReport = false).df
    resampleOhlc(repaired, rule, partitionCols = partitionCols,
      inputOnBucketGrid = true)
  }

  // aggregate kinds
  private final val First = 0
  private final val Last = 1
  private final val Max = 2
  private final val Min = 3
  private final val Sum = 4
  private final val Avg = 5

  /** One output column: its aggregate kind, input column and input type.
    * Numbers accumulate as doubles (`d`), longs (`l`: integral sums and
    * mean counts) or exact decimals (`o`); other values are owned internal
    * values (`o`).
    */
  private final case class Agg(kind: Int, in: Int, dt: DataType) {
    val dbl: Boolean = dt == DoubleType
    val numeric: Char = dt match {
      case _: DecimalType => 'x'
      case ByteType | ShortType | IntegerType | LongType if kind == Sum => 'l'
      case _ => 'd'
    }
    val outType: DataType = kind match {
      case Sum => DoubleType
      case Avg => dt match {
        case d: DecimalType => DecimalType(math.min(d.precision + 4, DecimalType.MAX_PRECISION),
          math.min(d.scale + 4, DecimalType.MAX_SCALE))
        case _ => DoubleType
      }
      case _ => dt
    }
    @transient lazy val ordering: Ordering[Any] = TypeUtils.getInterpretedOrdering(dt)

    def compare(a: Any, b: Any): Int = dt match {
      case FloatType => SQLOrderingUtil.compareFloats(
        a.asInstanceOf[Float], b.asInstanceOf[Float])
      case _ => ordering.compare(a, b)
    }

    def asDouble(r: InternalRow): Double = dt match {
      case DoubleType => r.getDouble(in)
      case FloatType => r.getFloat(in).toDouble
      case ByteType => r.getByte(in).toDouble
      case ShortType => r.getShort(in).toDouble
      case IntegerType => r.getInt(in).toDouble
      case _ => r.getLong(in).toDouble
    }

    def asLong(r: InternalRow): Long = dt match {
      case ByteType => r.getByte(in).toLong
      case ShortType => r.getShort(in).toLong
      case IntegerType => r.getInt(in).toLong
      case _ => r.getLong(in)
    }

    def asDecimal(r: InternalRow): java.math.BigDecimal = {
      val d = dt.asInstanceOf[DecimalType]
      r.getDecimal(in, d.precision, d.scale).toJavaBigDecimal
    }
  }

  /** The aggregates of one output row; `close` is CLOSE's position or -1. */
  private final case class Aggs(cols: Array[Agg], close: Int)

  /** A bucket's partial aggregate, one slot per [[Agg]]. */
  private final class Acc(n: Int) extends Serializable {
    val has = new Array[Boolean](n)
    val d = new Array[Double](n)
    val l = new Array[Long](n)
    val o = new Array[AnyRef](n)

    def clear(): Unit = {
      java.util.Arrays.fill(has, false)
      java.util.Arrays.fill(d, 0.0)
      java.util.Arrays.fill(l, 0L)
      java.util.Arrays.fill(o, null)
    }

    def copy(): Acc = {
      val c = new Acc(n)
      System.arraycopy(has, 0, c.has, 0, n); System.arraycopy(d, 0, c.d, 0, n)
      System.arraycopy(l, 0, c.l, 0, n); System.arraycopy(o, 0, c.o, 0, n)
      c
    }

    /** Folds row `r` in; rows come in time order. Sums start at 0.0 and
      * means at (0.0, 0), as Spark's buffers do. */
    def update(r: InternalRow, aggs: Aggs): Unit = {
      var i = 0
      while (i < n) {
        val a = aggs.cols(i)
        if (!r.isNullAt(a.in))
          if (a.kind < Sum) {
            if (a.dbl) absorb(i, a, r.getDouble(a.in), 0L, null)
            else absorb(i, a, 0.0, 0L,
              InternalRow.copyValue(r.get(a.in, a.dt)).asInstanceOf[AnyRef])
          } else a.numeric match {
            case 'x' => absorb(i, a, 0.0, 1L, a.asDecimal(r))
            case 'l' => absorb(i, a, 0.0, a.asLong(r), null)
            case _ => absorb(i, a, a.asDouble(r), 1L, null)
          }
        i += 1
      }
    }

    /** This partial (earlier) merged with `b` (later), into a new one. */
    def merge(b: Acc, aggs: Aggs): Acc = {
      val c = copy()
      for (i <- 0 until n if b.has(i)) c.absorb(i, aggs.cols(i), b.d(i), b.l(i), b.o(i))
      c
    }

    /** Folds in one later value: `vd` or `vo` for first/last/max/min; for a
      * sum or mean the addend in `vd`, `vl` or `vo` by [[Agg.numeric]], and
      * for a mean the row count in `vl`. */
    private def absorb(i: Int, a: Agg, vd: Double, vl: Long, vo: AnyRef): Unit = {
      (a.kind: @scala.annotation.switch) match {
        case First =>
          if (!has(i)) { d(i) = vd; o(i) = vo }
        case Last =>
          d(i) = vd; o(i) = vo
        case Max | Min =>
          val take = !has(i) || {
            val c = if (a.dbl) SQLOrderingUtil.compareDoubles(vd, d(i)) else a.compare(vo, o(i))
            if (a.kind == Max) c > 0 else c < 0
          }
          if (take) { d(i) = vd; o(i) = vo }
        case _ =>
          a.numeric match {
            case 'x' => o(i) =
              if (o(i) == null) vo
              else o(i).asInstanceOf[java.math.BigDecimal].add(vo.asInstanceOf[java.math.BigDecimal])
            case 'l' => l(i) = Math.addExact(l(i), vl)
            case _ => d(i) += vd
          }
          if (a.kind == Avg) l(i) += vl // a mean's count (its sum is never 'l')
      }
      has(i) = true
    }

    /** True when the bucket's CLOSE is null (an incomplete bucket). */
    def closeNull(aggs: Aggs): Boolean = aggs.close >= 0 && !has(aggs.close)

    /** Writes the bucket's output values at ordinals 1..n. */
    def write(w: UnsafeRowWriter, aggs: Aggs): Unit = {
      var i = 0
      while (i < n) {
        val a = aggs.cols(i)
        val at = i + 1
        a.kind match {
          case Sum => w.write(at, a.numeric match {
            case 'x' => if (o(i) == null) 0.0 else Decimal(o(i).asInstanceOf[java.math.BigDecimal]).toDouble
            case 'l' => l(i).toDouble
            case _ => d(i)
          })
          case Avg =>
            if (l(i) == 0L) w.setNullAt(at)
            else a.outType match {
              case t: DecimalType =>
                // avg's decimal result: sum / count at the result scale,
                // half-up; null when it overflows the result precision
                val mean = o(i).asInstanceOf[java.math.BigDecimal].divide(
                  java.math.BigDecimal.valueOf(l(i)), t.scale,
                  java.math.RoundingMode.HALF_UP)
                if (mean.precision > t.precision) w.setNullAt(at)
                else w.write(at, Decimal(mean), t.precision, t.scale)
              case _ => w.write(at, d(i) / l(i).toDouble)
            }
          case _ =>
            if (!has(i)) w.setNullAt(at)
            else if (a.dbl) w.write(at, d(i))
            else writeValue(w, at, a.dt, o(i))
        }
        i += 1
      }
    }
  }

  /** Writes one owned internal value of type `dt` at ordinal `i`. */
  private def writeValue(w: UnsafeRowWriter, i: Int, dt: DataType, v: Any): Unit =
    if (v == null) w.setNullAt(i)
    else dt match {
      case BooleanType => w.write(i, v.asInstanceOf[Boolean])
      case ByteType => w.write(i, v.asInstanceOf[Byte])
      case ShortType => w.write(i, v.asInstanceOf[Short])
      case IntegerType | DateType => w.write(i, v.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType => w.write(i, v.asInstanceOf[Long])
      case FloatType => w.write(i, v.asInstanceOf[Float])
      case DoubleType => w.write(i, v.asInstanceOf[Double])
      case t: DecimalType => w.write(i, v.asInstanceOf[Decimal], t.precision, t.scale)
      case _: StringType => w.write(i, v.asInstanceOf[UTF8String])
      case BinaryType => w.write(i, v.asInstanceOf[Array[Byte]])
      case other => throw new IllegalArgumentException(
        s"Resample: cannot emit a $other column")
    }

  /** One rule's view of one series run: the partial of its first and last
    * bucket (the same object when the run holds one bucket) and its bucket
    * count. `firstB == Long.MinValue` marks a run with no stamped row.
    */
  private final case class RuleRun(firstB: Long, first: Acc, lastB: Long,
                                   last: Acc, buckets: Long)

  /** A series run's summary: its rows and one [[RuleRun]] per carried rule. */
  private final case class RunSummary(rows: Long, rules: Array[RuleRun])

  /** A run's carry-in for one rule: the partial of the bucket still open at
    * its start (null when its first bucket starts here), the previous
    * run's last bucket (`Long.MinValue`: none) and whether the run's last
    * bucket continues into the next run.
    */
  private final case class Seed(open: Acc, prevB: Long, continues: Boolean)

  private def floorBucket(us: Long, step: Long): Long = us - Math.floorMod(us, step)

  private def summarize(rows: RangeScan.Rows, aggs: Aggs, tsIdx: Int,
                        steps: Array[Long]): RunSummary = {
    val n = aggs.cols.length
    val k = steps.length
    val firstB = Array.fill(k)(Long.MinValue)
    val curB = Array.fill(k)(Long.MinValue)
    val first = new Array[Acc](k)
    val cur = new Array[Acc](k)
    val buckets = new Array[Long](k)
    var count = 0L
    while (rows.hasNext) {
      val r = rows.next()
      count += 1
      if (!r.isNullAt(tsIdx)) {
        val us = r.getLong(tsIdx)
        var j = 0
        while (j < k) {
          val b = floorBucket(us, steps(j))
          if (first(j) == null) {
            first(j) = new Acc(n); cur(j) = first(j)
            firstB(j) = b; curB(j) = b; buckets(j) = 1
          } else if (b != curB(j)) {
            // the first bucket's partial is kept; later ones reuse one Acc
            if (cur(j) eq first(j)) cur(j) = new Acc(n) else cur(j).clear()
            curB(j) = b; buckets(j) += 1
          }
          cur(j).update(r, aggs)
          j += 1
        }
      }
    }
    RunSummary(count, Array.tabulate(k)(j =>
      RuleRun(firstB(j), first(j), curB(j), cur(j), buckets(j))))
  }

  /** The driver fold for one rule over one series' runs in partition
    * order: the partial open at each run's start is the previous runs'
    * partials of that bucket merged in partition order.
    */
  private def fold(aggs: Aggs)(runs: IndexedSeq[(RangeScan.Run, RuleRun)]): Seq[Seed] = {
    val stamped = runs.indices.filter(i => runs(i)._2.firstB != Long.MinValue)
    var carry: Acc = null
    var carryB = Long.MinValue
    val seeds = new Array[Seed](runs.length)
    for ((i, next) <- stamped.zipAll(stamped.drop(1).map(Some(_)), -1, None)) {
      val r = runs(i)._2
      val open = if (carry != null && carryB == r.firstB) carry else null
      seeds(i) = Seed(open, carryB,
        next.exists(j => runs(j)._2.firstB == r.lastB))
      carry = if (open != null && r.firstB == r.lastB) open.merge(r.last, aggs) else r.last
      carryB = r.lastB
    }
    seeds.toSeq
  }

  /** The per-rule scan over one series run. */
  private final class BucketScan(aggs: Aggs, tsIdx: Int, step: Long,
                                 keyTypes: Array[DataType], dropIncomplete: Boolean,
                                 emitEmpty: Boolean) extends Serializable {
    private val width = 1 + aggs.cols.length + keyTypes.length

    def run(seed: Seed, rows: RangeScan.Rows): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        private val w = new UnsafeRowWriter(width, 64)
        private val out = new java.util.ArrayDeque[InternalRow]()
        private val cur = new Acc(aggs.cols.length)
        private var curB = Long.MinValue
        private var open = if (seed == null) null else seed.open
        private var done = false

        override def hasNext: Boolean = {
          while (out.isEmpty && !done) step1()
          !out.isEmpty
        }

        override def next(): InternalRow =
          if (hasNext) out.poll() else Iterator.empty.next()

        private def step1(): Unit =
          if (rows.hasNext) {
            val r = rows.next()
            if (!r.isNullAt(tsIdx)) {
              val b = floorBucket(r.getLong(tsIdx), step)
              if (curB == Long.MinValue) {
                if (open == null && seed != null && seed.prevB != Long.MinValue)
                  empties(seed.prevB, b)
                curB = b
              } else if (b != curB) {
                if (b < curB) throw new RangeScan.LayoutError(
                  s"Resample: stamps go backwards in series ${rows.key.mkString(",")}")
                emit()
                empties(curB, b)
                cur.clear()
                curB = b
              }
              cur.update(r, aggs)
            }
          } else {
            if (curB != Long.MinValue && (seed == null || !seed.continues)) emit()
            done = true
          }

        private def emit(): Unit = {
          val acc = if (open == null) cur else open.merge(cur, aggs)
          open = null
          if (!(dropIncomplete && acc.closeNull(aggs))) out.add(row(curB, acc))
        }

        /** The empty buckets strictly between `from` and `to`. */
        private def empties(from: Long, to: Long): Unit =
          if (emitEmpty && !(dropIncomplete && aggs.close >= 0)) {
            val none = new Acc(aggs.cols.length)
            var b = from + step
            while (b < to) { out.add(row(b, none)); b += step }
          }

        private def row(b: Long, acc: Acc): InternalRow = {
          w.reset()
          w.zeroOutNullBytes()
          w.write(0, b)
          acc.write(w, aggs)
          var k = 0
          val at = 1 + aggs.cols.length
          for (v <- rows.key) {
            writeValue(w, at + k, keyTypes(k), v)
            k += 1
          }
          w.getRow.copy()
        }
      }
  }
}
