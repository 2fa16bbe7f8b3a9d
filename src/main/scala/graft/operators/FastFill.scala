package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._

/** Single-pass per-series reindex + gap filling: pandas `reindex` onto the
  * series' grid, forward-fill, and pandas-style linear positional
  * interpolation (limit_direction="both") in ONE narrow partition scan.
  *
  * The input must be in the [[RangeLayout]]: one series may span many
  * consecutive ordered partitions, so a hot series parallelizes across
  * tasks (the 100 TB skew answer). The scan stays narrow; cross-boundary
  * state (grid continuation, ffill carry, interpolation neighbors) comes
  * from two cheap metadata passes over the fill's own input RDD (per-series
  * anchors + per-partition boundary summaries, both fixed-size per
  * (partition, series)) folded on the driver into seeds. The summary pass also checks the layout.
  * Positions are grid indices, which are globally consistent, so the grid
  * step is required.
  *
  * This is the deliberate `mapPartitions` escape hatch (SURVEY.md §7.4
  * preference order (d)): fill semantics are inherently sequential per
  * series, and one imperative scan replaces 3 window exchanges.
  *
  * Execution runs at the `InternalRow` level — `queryExecution.toRdd` in,
  * [[GraftSqlBridge.internalCreateDataFrame]] out — NOT through
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

  /** One (partition, series-run) boundary summary from the metadata scan. */
  private final case class SeedSummary(
      run: RangeLayout.Run, lastGrid: Long, ff: Array[Any],
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

  /** @param df          input in the [[RangeLayout]] on
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
    * @throws RangeLayout.LayoutError when the input is not in the layout
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
    require(kIdx.forall(i => types(i) match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType => true
      case _ => false
    }), "FastFill: partition keys must be string/integral " +
      "(seed-map key equality across the internal and external views)")
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

    val seeds: Map[(Int, List[Any]), Seed] =
      buildSeeds(df, fIdx, iIdx, tsIdx, kIdx, types, stepUs)

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

    // the summary pass and this scan read the SAME physical RDD, so they
    // observe one partitioning by construction; seeds are keyed by that
    // RDD's partition index, not the running task's (a downstream coalesce
    // runs several of these partitions in one task)
    val filledRdd = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
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

      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        private var pending: InternalRow = _ // already an owned copy

        // Per-series rows are buffered ONCE, as owned row copies — on the
        // production path each is one UnsafeRow byte copy (~row-width
        // bytes, two objects), not a field array of boxes; there is no
        // encoder at either boundary. Per-task retention is the
        // unavoidable minimum for a scan whose interpolation needs the
        // gap's far edge.
        private def processSeries(rows: ArrayBuffer[InternalRow]): Iterator[InternalRow] = {
          for (r <- rows)
            if (r.isNullAt(tsIdx))
              throw new IllegalStateException(
                "FastFill: null timestamp in a reindex scan — filter " +
                  "null stamps before filling")
          val seed = seeds((pid,
            RangeLayout.externalize(RangeLayout.keyOf(rows.head, kIdx, types))))
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
          var firstOnGrid = true
          for (r <- rows) {
            val us = r.getLong(tsIdx)
            if ((us - anchorUs) % stepUs == 0 && us >= anchorUs) {
              // tripwire: a seed pointing at-or-past the first local
              // on-grid stamp means the partitioning changed between the
              // summary pass and this scan
              if (firstOnGrid && seed.prevGridUs != Long.MinValue &&
                  us <= seed.prevGridUs)
                throw new RangeLayout.LayoutError(
                  "FastFill: input partitioning drifted between the seed " +
                    "pass and the fill scan — pin the layout (cache it) " +
                    "before filling")
              firstOnGrid = false
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
          if (n == 0) return Iterator.empty
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

        private def bufferRow(r: InternalRow): InternalRow =
          if (fastPath) r.copy() else genericCopy(r)

        private def refill(): Unit = {
          if (pending == null && it.hasNext) pending = bufferRow(it.next())
          if (pending != null) {
            // key values held from the OWNED pending copy (iterator rows
            // are reused buffers); comparison is on internal values
            val keyArr = RangeLayout.keyOf(pending, kIdx, types)
            val buf = ArrayBuffer(pending)
            pending = null
            var break = false
            while (!break && it.hasNext) {
              val r = it.next()
              if (RangeLayout.sameKey(r, keyArr, kIdx, types)) buf += bufferRow(r)
              else { pending = bufferRow(r); break = true }
            }
            out = processSeries(buf)
          }
        }

        override def hasNext: Boolean = {
          if (!out.hasNext) refill()
          out.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) Iterator.empty.next(); out.next()
        }
      }
    }

    GraftSqlBridge.internalCreateDataFrame(df.sparkSession, filledRdd,
      outSchema)
  }

  /** Two fixed-size metadata jobs over the layout, then a driver
    * prefix/suffix scan — never row-shaped data:
    *  1. per-series anchors (min stamp): a narrow InternalRow scan emitting
    *     one stamp per (partition, series run), folded per series on the
    *     driver;
    *  2. per-(partition, series) boundary summary: the run's stamp extent
    *     (checked by [[RangeLayout.check]]), the grid floor of its last
    *     stamp, last non-null per ffill col and first/last non-null per
    *     interp col over its on-grid rows — a narrow InternalRow scan over
    *     the same physical RDD as the fill, one record per series-run.
    * The driver folds summaries in partition order into per-partition
    * carry-in/carry-out seeds. Driver memory is O(partitions × series) —
    * Runner keys by SYMBOL; a catalog of millions of series should
    * pre-split by key range.
    */
  private def buildSeeds(prepared: DataFrame, fIdx: Array[Int],
                         iIdx: Array[Int], tsIdx: Int, kIdx: Array[Int],
                         types: Array[DataType],
                         stepUs: Long): Map[(Int, List[Any]), Seed] = {
    val nF = fIdx.length; val nI = iIdx.length

    // job 1: series anchors — the least non-null stamp of each series run,
    // from the same physical RDD as the summary and fill passes (no
    // aggregate plan of its own), folded per series on the driver; keys are
    // externalized like the summary job's
    val rdd = prepared.queryExecution.toRdd
    val anchors: Map[List[Any], Long] = rdd.mapPartitions { it =>
      val acc = ArrayBuffer.empty[(List[Any], Long)]
      var keyInt: Array[Any] = null
      var least = Long.MaxValue
      def flush(): Unit = if (keyInt != null)
        acc += RangeLayout.externalize(keyInt) -> least
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(tsIdx)) { // null stamps never repair
          if (!RangeLayout.sameKey(r, keyInt, kIdx, types)) {
            flush(); keyInt = RangeLayout.keyOf(r, kIdx, types)
            least = Long.MaxValue
          }
          least = math.min(least, r.getLong(tsIdx))
        }
      }
      flush()
      acc.iterator
    }.collect().groupMapReduce(_._1)(_._2)(math.min)
    val anchorsB = prepared.sparkSession.sparkContext.broadcast(anchors)

    // job 2: per-(partition, series) boundary summaries — plain RDD of a
    // small case class, no DataFrame/encoder detour
    val summaries: Array[SeedSummary] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = ArrayBuffer.empty[SeedSummary]
        var keyInt: Array[Any] = null // internal, owned (run comparison)
        var tracker: RangeLayout.RunTracker = null
        var anchorUs = 0L
        var lastGrid = Long.MinValue
        var ff: Array[Any] = null
        var inUs: Array[java.lang.Long] = null
        var inV: Array[java.lang.Double] = null
        var outUs: Array[java.lang.Long] = null
        var outV: Array[java.lang.Double] = null
        def flush(): Unit = if (tracker != null)
          acc += SeedSummary(tracker.run, lastGrid, ff, inUs, inV, outUs, outV)
        while (it.hasNext) {
          val r = it.next()
          if (r.isNullAt(tsIdx)) { /* null stamps never repair */ }
          else {
            if (!RangeLayout.sameKey(r, keyInt, kIdx, types)) {
              flush()
              keyInt = RangeLayout.keyOf(r, kIdx, types)
              val key = RangeLayout.externalize(keyInt)
              tracker = new RangeLayout.RunTracker(pid, key)
              anchorUs = anchorsB.value(key)
              ff = new Array[Any](nF)
              inUs = new Array[java.lang.Long](nI)
              inV = new Array[java.lang.Double](nI)
              outUs = new Array[java.lang.Long](nI)
              outV = new Array[java.lang.Double](nI)
            }
            val us = r.getLong(tsIdx)
            tracker.add(us)
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
        }
        flush()
        acc.iterator
      }.collect()
    anchorsB.destroy()
    RangeLayout.check("FastFill", summaries.map(_.run))

    // driver fold: partition-ordered prefix (anchor, grid continuation,
    // ffill carry, interp carry-in) + suffix (interp carry-out) per series
    val seeds = scala.collection.mutable.Map.empty[(Int, List[Any]), Seed]
    for ((k, rows0) <- summaries.groupBy(_.run.key)) {
      val anchorUs = anchors(k)
      val rows = rows0.sortBy(_.run.pid)
      // prefix pass
      var prevGrid = Long.MinValue
      val ffC = new Array[Any](nF)
      val ciUs = new Array[Long](nI); val ciV = new Array[Double](nI)
      val ciHas = new Array[Boolean](nI)
      val pre = rows.map { s =>
        val seed = Seed(anchorUs, prevGrid, ffC.clone(),
          ciUs.clone(), ciV.clone(), ciHas.clone(),
          new Array[Long](nI), new Array[Double](nI), new Array[Boolean](nI))
        prevGrid = s.lastGrid
        var j = 0
        while (j < nF) {
          if (s.ff(j) != null) ffC(j) = s.ff(j)
          j += 1
        }
        j = 0
        while (j < nI) {
          if (s.inUs(j) != null) { // last non-null of this partition
            ciUs(j) = s.inUs(j); ciV(j) = s.inV(j); ciHas(j) = true
          }
          j += 1
        }
        (s.run.pid, seed)
      }
      // suffix pass for carry-out
      val coUs = new Array[Long](nI); val coV = new Array[Double](nI)
      val coHas = new Array[Boolean](nI)
      for (idx <- rows.indices.reverse) {
        val (pid, s) = pre(idx)
        System.arraycopy(coUs, 0, s.outUs, 0, nI)
        System.arraycopy(coV, 0, s.outV, 0, nI)
        System.arraycopy(coHas, 0, s.outHas, 0, nI)
        val r = rows(idx)
        var j = 0
        while (j < nI) {
          if (r.outUs(j) != null) { // first non-null of this partition
            coUs(j) = r.outUs(j); coV(j) = r.outV(j); coHas(j) = true
          }
          j += 1
        }
        seeds((pid, k)) = s
      }
    }
    seeds.toMap
  }
}
