package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Single-pass per-series reindex + gap filling: pandas `reindex` onto the
  * series' grid, forward-fill, and pandas-style linear positional
  * interpolation (limit_direction="both") in ONE narrow partition scan.
  *
  * The input must be in the range layout ([[RangeScan.layout]]): one
  * series may span many consecutive ordered partitions, so a hot series
  * parallelizes across tasks (the 100 TB skew answer). The fill is a
  * [[RangeScan]]: cross-boundary state (grid continuation, ffill carry,
  * interpolation neighbors) comes from two summary jobs over the fill's own
  * input RDD (per-series anchors, then per-(partition, series) boundary
  * summaries), folded on the driver into seeds. Positions are grid
  * indices, which are globally consistent, so the grid step is required.
  *
  * This is the deliberate `mapPartitions` escape hatch (SURVEY.md §7.4
  * preference order (d)): fill semantics are inherently sequential per
  * series, and one imperative scan replaces 3 window exchanges.
  *
  * Execution runs at the `InternalRow` level, NOT through
  * `Dataset.mapPartitions`'s external-Row encoder. The encoder boundary
  * boxed every field of every row twice (deserializer in, serializer out:
  * a `GenericRowWithSchema`, an `Array[Any]`, ~8 boxes and a
  * `java.sql.Timestamp` per row); the 100× probe measured the repair stage
  * GC-bound on exactly that churn (34–41 s of GC per 60M-row chain).
  * Internally a timestamp is a bare `long` of epoch micros and a buffered
  * row is one `UnsafeRow.copy()` — compact bytes, no per-field objects —
  * so per-task retention for a 250k-row partition drops from ~2M boxes to
  * 250k byte arrays, and fills mutate fixed-width slots in place.
  */
object FastFill {

  /** Cross-boundary state for one (partition, series): everything the
    * partition-local scan needs to behave exactly like a single global scan.
    * `ffillCarry` holds INTERNAL values (e.g. `UTF8String`, boxed
    * primitives) — they are written back with the same setters the scan
    * uses.
    */
  private final case class Seed(
      anchorUs: Long,                     // series' global first stamp
      prevGridUs: Long,                   // grid floor of earlier partitions' last stamp (MinValue = none)
      ffillCarry: Array[Any],             // last non-null per ffill col in earlier partitions (null = none)
      inUs: Array[Long], inV: Array[Double],   // per interp col: last non-null (stamp, value) before
      inHas: Array[Boolean],
      outUs: Array[Long], outV: Array[Double], // per interp col: first non-null (stamp, value) after
      outHas: Array[Boolean])

  /** One (partition, series-run) boundary summary: the grid floor of its
    * last stamp, the last non-null per ffill col, and the first (`out*`)
    * and last (`in*`) non-null per interp col over its on-grid rows.
    */
  private final case class Summary(
      lastGrid: Long, ff: Array[Any],
      inUs: Array[java.lang.Long], inV: Array[java.lang.Double],
      outUs: Array[java.lang.Long], outV: Array[java.lang.Double])

  private def isFixedWidth(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** Last grid point at or before `us` on the grid anchored at `anchorUs`. */
  private def gridFloor(us: Long, anchorUs: Long, stepUs: Long): Long =
    anchorUs + Math.floorDiv(us - anchorUs, stepUs) * stepUs

  /** @param df          input in the range layout on
    *                    (partitionCols, tsCol); an empty key list is one
    *                    keyless series
    * @param ffillCols   columns forward-filled (nulls take the previous
    *                    non-null value)
    * @param interpCols  columns linearly interpolated over grid position
    *                    with both-direction edge fill (must be DOUBLE)
    * @param stepMicros  the grid step: the scan performs the pandas
    *                    `reindex` inline — the grid runs from each series'
    *                    first stamp to the last grid point at or before its
    *                    last stamp (`date_range(min, max)`); missing grid
    *                    stamps are emitted as null rows and off-grid source
    *                    rows are dropped — no dense grid, no join
    * @param trueOnGenerated columns set to boolean true on generated grid
    *                    rows (pre-fill null flags for repair accounting)
    * @throws RangeScan.LayoutError when the input is not in the layout
    */
  def fill(df: DataFrame, ffillCols: Seq[String], interpCols: Seq[String],
           tsCol: String, stepMicros: Long,
           partitionCols: Seq[String] = Nil,
           trueOnGenerated: Seq[String] = Nil): DataFrame = {
    val schema = df.schema
    val types: Array[DataType] = schema.fields.map(_.dataType)
    val nCols = schema.length
    val fIdx = ffillCols.map(schema.fieldIndex).toArray
    val iIdx = interpCols.map(schema.fieldIndex).toArray
    val kIdx = partitionCols.map(schema.fieldIndex).toArray
    val tsIdx = schema.fieldIndex(tsCol)
    val genIdx = trueOnGenerated.map(schema.fieldIndex).toArray
    require(types(tsIdx) == TimestampType || types(tsIdx) == TimestampNTZType,
      s"FastFill: $tsCol must be a timestamp column")
    require(iIdx.forall(i => types(i) == DoubleType),
      "FastFill: interpolation columns must be DOUBLE")
    // fast path: every MUTATED column is fixed-width, so buffered rows stay
    // UnsafeRow byte copies and fills are in-place primitive writes. A
    // var-length fill column (e.g. a string ffill) buffers via
    // GenericInternalRow instead — `update` works there, UnsafeRow throws.
    val fastPath = (fIdx ++ iIdx ++ genIdx).forall(i => isFixedWidth(types(i)))
    // synthesized grid rows null every column except keys, stamp, gen flags
    val nullOutIdx: Array[Int] = (0 until nCols)
      .filterNot(i => i == tsIdx || kIdx.contains(i) || genIdx.contains(i))
      .toArray
    // synthesized rows carry nulls in data columns regardless of the
    // input's nullability flags
    val outSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    val stepUs = stepMicros

    val scan = new RangeScan("FastFill", df, partitionCols, tsCol)
    val seeds = buildSeeds(scan, fIdx, iIdx, tsIdx, types, stepUs)

    // generic deep copy for the non-fast path (internal values cloned so
    // nothing references the scan's reused buffer row)
    def genericCopy(r: InternalRow): InternalRow = {
      val a = new Array[Any](nCols)
      var i = 0
      while (i < nCols) {
        if (!r.isNullAt(i)) a(i) = InternalRow.copyValue(r.get(i, types(i)))
        i += 1
      }
      new GenericInternalRow(a)
    }

    scan.scanFrame(seeds, outSchema) { (seed: Seed, run) =>
      // write one internal value into a fixed-width slot (fast path) or a
      // generic slot (buffered rows are GenericInternalRow there)
      def writeValue(r: InternalRow, ci: Int, v: Any): Unit =
        if (v == null) r.setNullAt(ci)
        else if (fastPath) types(ci) match {
          case DoubleType => r.setDouble(ci, v.asInstanceOf[Double])
          case LongType | TimestampType | TimestampNTZType =>
            r.setLong(ci, v.asInstanceOf[Long])
          case IntegerType | DateType => r.setInt(ci, v.asInstanceOf[Int])
          case BooleanType => r.setBoolean(ci, v.asInstanceOf[Boolean])
          case FloatType => r.setFloat(ci, v.asInstanceOf[Float])
          case ShortType => r.setShort(ci, v.asInstanceOf[Short])
          case ByteType => r.setByte(ci, v.asInstanceOf[Byte])
          case dt => throw new IllegalStateException(s"non-fixed $dt")
        }
        else r.update(ci, v)

      // The run's rows are buffered ONCE, as owned row copies — on the
      // production path each is one UnsafeRow byte copy (~row-width bytes,
      // two objects), not a field array of boxes. Per-task retention is the
      // unavoidable minimum for a scan whose interpolation needs the gap's
      // far edge.
      val rows = ArrayBuffer.empty[InternalRow]
      while (run.hasNext)
        rows += (if (fastPath) run.next().copy() else genericCopy(run.next()))
      // inline reindex: keep on-grid rows, synthesize null rows for
      // missing stamps; anchor = first observed stamp of the SERIES.
      // Stamps are bare epoch-micros longs here — no Timestamp objects
      // anywhere in the loop.
      val anchorUs = seed.anchorUs
      val vals = new ArrayBuffer[InternalRow](rows.length)
      var firstEmitUs = Long.MinValue
      // grid continuation: synthesis resumes right after the grid floor
      // of the previous partitions' last stamp
      var prevUs =
        if (seed.prevGridUs != Long.MinValue) seed.prevGridUs
        else anchorUs - stepUs
      // emits the missing grid stamps in (prevUs, upToUs] as copies of
      // `template` (keys ride along; data slots nulled)
      def synthesize(template: InternalRow, upToUs: Long): Unit = {
        var g = prevUs + stepUs
        while (g <= upToUs) {
          val a = template.copy()
          var j = 0
          while (j < nullOutIdx.length) {
            a.setNullAt(nullOutIdx(j)); j += 1
          }
          a.setLong(tsIdx, g)
          j = 0
          while (j < genIdx.length) {
            a.setBoolean(genIdx(j), true); j += 1
          }
          if (firstEmitUs == Long.MinValue) firstEmitUs = g
          vals += a
          prevUs = g
          g += stepUs
        }
      }
      for (r <- rows) {
        val us = r.getLong(tsIdx)
        if ((us - anchorUs) % stepUs == 0 && us >= anchorUs) {
          synthesize(r, us - stepUs)
          if (firstEmitUs == Long.MinValue) firstEmitUs = us
          vals += r
          prevUs = us
        } // off-grid rows drop (pandas reindex semantics)
      }
      // the grid runs to the last grid point at or before the run's last
      // stamp, on-grid or not (pandas date_range(min, max))
      synthesize(rows.last,
        gridFloor(rows.last.getLong(tsIdx), anchorUs, stepUs))
      val n = vals.length
      // forward-fill columns (carry-in = last non-null of earlier
      // partitions — identical to one uninterrupted scan). DOUBLE (the
      // production shape) runs a primitive-register loop; other types
      // carry one boxed value.
      var j = 0
      while (j < fIdx.length) {
        val ci = fIdx(j)
        if (types(ci) == DoubleType) {
          var has = false
          var lastV = 0.0
          if (seed.ffillCarry(j) != null) {
            has = true; lastV = seed.ffillCarry(j).asInstanceOf[Double]
          }
          var i = 0
          while (i < n) {
            val r = vals(i)
            if (r.isNullAt(ci)) { if (has) r.setDouble(ci, lastV) }
            else { lastV = r.getDouble(ci); has = true }
            i += 1
          }
        } else {
          var lastV: Any = seed.ffillCarry(j)
          var i = 0
          while (i < n) {
            val r = vals(i)
            if (r.isNullAt(ci)) {
              if (lastV != null) writeValue(r, ci, lastV)
            } else lastV = InternalRow.copyValue(r.get(ci, types(ci)))
            i += 1
          }
        }
        j += 1
      }
      // linear positional interpolation, both-direction edge fill.
      // Positions are grid indices (globally consistent), so virtual
      // neighbors from other partitions slot into the same arithmetic:
      // prev/next default to the seed's boundary points when the run
      // touches the partition edge.
      j = 0
      while (j < iIdx.length) {
        val ci = iIdx(j)
        var havePrev = false
        var prevPos = 0L
        var prevV = 0.0
        if (seed.inHas(j)) {
          havePrev = true
          prevPos = (seed.inUs(j) - firstEmitUs) / stepUs
          prevV = seed.inV(j)
        }
        val haveOut = seed.outHas(j)
        val outPos = if (haveOut) (seed.outUs(j) - firstEmitUs) / stepUs else 0L
        val outV = if (haveOut) seed.outV(j) else 0.0
        var runStart = 0
        var i = 0
        while (i <= n) {
          val isVal = i < n && !vals(i).isNullAt(ci)
          if (isVal || i == n) {
            if (runStart < i) { // a run of nulls in [runStart, i)
              val haveNext = isVal || haveOut
              val nextPos = if (isVal) i.toLong else outPos
              val nextV = if (isVal) vals(i).getDouble(ci) else outV
              var k = runStart
              while (k < i) {
                if (havePrev && haveNext)
                  vals(k).setDouble(ci,
                    prevV + (nextV - prevV) * (k - prevPos).toDouble /
                      (nextPos - prevPos))
                else if (havePrev) vals(k).setDouble(ci, prevV) // trailing -> ffill
                else if (haveNext) vals(k).setDouble(ci, nextV) // leading -> backfill
                // else: all-null series stays null
                k += 1
              }
            }
            if (isVal) {
              havePrev = true
              prevPos = i
              prevV = vals(i).getDouble(ci)
            }
            runStart = i + 1
          }
          i += 1
        }
        j += 1
      }
      vals.iterator
    }
  }

  /** Two summary jobs over the layout, then a driver prefix/suffix fold —
    * never row-shaped data:
    *  1. per-series anchors: the first stamp of each series' first run;
    *  2. per-(partition, series run) boundary [[Summary]] records.
    * The fold turns them, in partition order, into each run's carry-in
    * (anchor, grid continuation, ffill carry, last interp neighbor before)
    * and carry-out (first interp neighbor after). Driver memory is
    * O(partitions × series) — Runner keys by SYMBOL; a catalog of millions
    * of series should pre-split by key range.
    */
  private def buildSeeds(scan: RangeScan, fIdx: Array[Int], iIdx: Array[Int],
                         tsIdx: Int, types: Array[DataType],
                         stepUs: Long): Map[(Int, List[Any]), Seed] = {
    val nF = fIdx.length; val nI = iIdx.length

    val runs = scan.summarize(_ => ())
    if (runs.exists(_._1.firstUs == Long.MinValue))
      throw new IllegalStateException(
        "FastFill: null timestamp in a reindex scan — filter null stamps " +
          "before filling")
    val anchors: Map[List[Any], Long] =
      runs.groupMapReduce(_._1.key)(_._1.firstUs)(math.min)

    val summaries = scan.summarize { run =>
      val anchorUs = anchors(run.key)
      var lastGrid = Long.MinValue
      val ff = new Array[Any](nF)
      val inUs = new Array[java.lang.Long](nI)
      val inV = new Array[java.lang.Double](nI)
      val outUs = new Array[java.lang.Long](nI)
      val outV = new Array[java.lang.Double](nI)
      while (run.hasNext) {
        val r = run.next()
        val us = r.getLong(tsIdx)
        lastGrid = gridFloor(us, anchorUs, stepUs)
        if ((us - anchorUs) % stepUs == 0 && us >= anchorUs) {
          var j = 0
          while (j < nF) {
            val ci = fIdx(j)
            if (!r.isNullAt(ci))
              ff(j) = InternalRow.copyValue(r.get(ci, types(ci)))
            j += 1
          }
          j = 0
          while (j < nI) {
            val ci = iIdx(j)
            if (!r.isNullAt(ci)) {
              val v = r.getDouble(ci)
              if (outUs(j) == null) { outUs(j) = us; outV(j) = v }
              inUs(j) = us; inV(j) = v
            }
            j += 1
          }
        }
      }
      Summary(lastGrid, ff, inUs, inV, outUs, outV)
    }

    scan.seeds(summaries) { rows =>
      val anchorUs = anchors(rows.head._1.key)
      // prefix pass: carry-in
      var prevGrid = Long.MinValue
      val ffC = new Array[Any](nF)
      val ciUs = new Array[Long](nI); val ciV = new Array[Double](nI)
      val ciHas = new Array[Boolean](nI)
      val seeds = rows.map { case (_, s) =>
        val seed = Seed(anchorUs, prevGrid, ffC.clone(),
          ciUs.clone(), ciV.clone(), ciHas.clone(),
          new Array[Long](nI), new Array[Double](nI), new Array[Boolean](nI))
        prevGrid = s.lastGrid
        for (j <- 0 until nF if s.ff(j) != null) ffC(j) = s.ff(j)
        for (j <- 0 until nI if s.inUs(j) != null) { // last non-null of this run
          ciUs(j) = s.inUs(j); ciV(j) = s.inV(j); ciHas(j) = true
        }
        seed
      }
      // suffix pass: carry-out
      val coUs = new Array[Long](nI); val coV = new Array[Double](nI)
      val coHas = new Array[Boolean](nI)
      for (idx <- rows.indices.reverse) {
        val seed = seeds(idx)
        System.arraycopy(coUs, 0, seed.outUs, 0, nI)
        System.arraycopy(coV, 0, seed.outV, 0, nI)
        System.arraycopy(coHas, 0, seed.outHas, 0, nI)
        val s = rows(idx)._2
        for (j <- 0 until nI if s.outUs(j) != null) { // first non-null of this run
          coUs(j) = s.outUs(j); coV(j) = s.outV(j); coHas(j) = true
        }
      }
      seeds
    }
  }
}
