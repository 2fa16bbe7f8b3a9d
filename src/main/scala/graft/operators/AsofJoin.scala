package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalable as-of join: for each left row, the latest right row with
  * `rightTs <= leftTs` within the same key (the Q12 semantic — "latest
  * order at-or-before each event, per user").
  *
  * Shape: tag both sides, union, RANGE-partition and sort within
  * partitions on (key, ts, side), then one forward [[RangeScan]] carrying
  * the last-seen right row. ONE shuffle of combined size — no range-join
  * explosion, no per-row subquery. This is the standard distributed as-of
  * algorithm (merge-scan over co-partitioned sorted runs), with the range
  * layout's boundary seeds: a hot key spans consecutive partitions, and
  * the summary job supplies each partition with the latest right row of
  * its key's earlier partitions. Per-key state is one row; driver memory
  * is O(partitions × keys), never row-shaped data. Keys follow Spark's
  * join-key semantics (NaN = NaN, -0.0 = +0.0).
  *
  * The scan runs at the `InternalRow` level: timestamps are bare
  * epoch-micros longs, the carried right row is one `UnsafeRow` struct
  * copy, and each output row is a `JoinedRow` over a byte-copied left
  * struct plus a small attach row rebuilt only when the carry changes — no
  * external-Row encoder, no per-field boxing on the 99% path.
  *
  * The decorrelated join+regroup form (RelationalQueries q12) is kept for
  * the oracle gate; this operator is the 100 TB path.
  */
object AsofJoin {

  /** @param left     probe side (keeps all rows)
    * @param right    reference side (latest at-or-before row is attached)
    * @param keyCols  equi-join keys (string/numeric/boolean/date/timestamp)
    * @param leftTs   event-time column on the left
    * @param rightTs  event-time column on the right
    * @param pickCols right-side columns to attach (null when no match)
    * @param direction "backward" (latest right at-or-before, the default)
    *                 or "forward" (earliest right at-or-after — the
    *                 next-quote-after-trade variant). Only the scan order
    *                 changes: forward sorts event time DESCENDING within
    *                 the key so the same last-seen carry yields the
    *                 earliest at-or-after row; the merge-scan, seed pass
    *                 and state size are direction-agnostic.
    * @param toleranceSec pandas-merge_asof-style match window: when set,
    *                 a carried right row older (backward) / newer
    *                 (forward) than the left row by MORE than this many
    *                 seconds attaches as null instead. Implemented by
    *                 carrying the right row's event time through the
    *                 union struct (and therefore through the
    *                 cross-partition seeds unchanged) and comparing at
    *                 microsecond precision in the emit — the scan shape,
    *                 state size and seed protocol are untouched.
    */
  def asof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
           leftTs: String, rightTs: String,
           pickCols: Seq[String],
           direction: String = "backward",
           toleranceSec: Option[Long] = None): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val leftFields = left.schema.fields.toSeq
    val outSchema = StructType(
      leftFields.map(_.copy(nullable = true)) ++
        pickCols.map(c => right.schema(c).copy(
          name = s"asof_$c", nullable = true)))

    // unified shape: key cols, ts, side flag, left payload, right payload
    val unionSchema = StructType(
      keyCols.map(c => left.schema(c).copy(nullable = true)) ++ Seq(
        StructField("_ts", TimestampType),
        StructField("_side", IntegerType, nullable = false),
        StructField("_left", StructType(leftFields), nullable = true),
        // the right payload always carries its own event time as a final
        // `_rts` field (stripped on emit) so the tolerance check — and
        // the seed carry across partitions — need no extra plumbing
        StructField("_right", StructType(
          pickCols.map(c => right.schema(c)) :+
            StructField("_rts", TimestampType)), nullable = true)))

    val l = left.select(
      keyCols.map(col) ++ Seq(
        col(leftTs).cast(TimestampType).as("_ts"),
        lit(1).as("_side"),
        struct(leftFields.map(f => col(f.name)): _*).as("_left"),
        lit(null).cast(unionSchema("_right").dataType).as("_right")): _*)
    val r = right.select(
      keyCols.map(col) ++ Seq(
        col(rightTs).cast(TimestampType).as("_ts"),
        lit(0).as("_side"), // right sorts BEFORE left at equal ts (<=)
        lit(null).cast(unionSchema("_left").dataType).as("_left"),
        struct((pickCols.map(col) :+
          col(rightTs).cast(TimestampType).as("_rts")): _*).as("_right")): _*)

    // at equal ts the right side (_side = 0) must be SEEN first in scan
    // order so the match is inclusive — ascending _side does that under
    // both time directions
    val backward = direction == "backward"
    val tsOrder = if (backward) col("_ts").asc else col("_ts").desc
    val sortCols = (keyCols.map(c => col(c).asc) :+ tsOrder :+ col("_side").asc)
    val combined = l.unionByName(r)
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)

    val n = keyCols.length
    val nLeft = leftFields.length
    val rightStruct = unionSchema("_right").dataType.asInstanceOf[StructType]
    val nRight = rightStruct.length // pickCols + _rts
    val pickTypes: Array[DataType] =
      rightStruct.fields.take(pickCols.length).map(_.dataType)
    val tolUs = toleranceSec.map(_ * 1000000L)

    val scan = new RangeScan("AsofJoin", combined, keyCols, "_ts",
      descending = !backward)
    // a run's summary is its last right row; its seed is the latest right
    // row of the key's earlier runs
    val lastRights = scan.summarize { run =>
      var last: InternalRow = null
      while (run.hasNext) {
        val row = run.next()
        if (row.getInt(n + 1) == 0) last = row.getStruct(n + 3, nRight).copy()
      }
      last
    }
    val seeds = scan.seeds(lastRights) { runs =>
      var carry: InternalRow = null
      runs.map { case (_, last) =>
        val seed = carry
        if (last != null) carry = last
        seed
      }
    }

    scan.scanFrame(seeds, outSchema) { (seed: InternalRow, run) =>
      var lastRight = seed // owned copy
      // the attach row is rebuilt only when the carry changes; it is
      // immutable thereafter, so every JoinedRow until the next right row
      // may share it (tolerance misses share the all-null instance)
      val nullAttach = new GenericInternalRow(pickCols.length)
      var attach: InternalRow = nullAttach
      def rebuildAttach(): Unit =
        if (lastRight == null) attach = nullAttach
        else {
          val a = new Array[Any](pickCols.length)
          var i = 0
          while (i < pickCols.length) {
            if (!lastRight.isNullAt(i)) a(i) = lastRight.get(i, pickTypes(i))
            i += 1
          }
          attach = new GenericInternalRow(a)
        }
      rebuildAttach()
      run.flatMap { row =>
        if (row.getInt(n + 1) == 0) { // right side: update state
          lastRight = row.getStruct(n + 3, nRight).copy()
          rebuildAttach()
          Iterator.empty
        } else {
          val withinTol = lastRight != null && (tolUs match {
            case None => true
            case Some(tol) =>
              !row.isNullAt(n) && !lastRight.isNullAt(pickCols.length) && {
                val lts = row.getLong(n)
                val rts = lastRight.getLong(pickCols.length)
                (if (backward) lts - rts else rts - lts) <= tol
              }
          })
          // the left struct is a view into the scan's reused buffer —
          // byte-copy it; the attach row is already owned and shared
          val leftCopy = row.getStruct(n + 2, nLeft).copy()
          Iterator.single(
            new JoinedRow(leftCopy, if (withinTol) attach else nullAttach)
              : InternalRow)
        }
      }
    }
  }

  /** pandas merge_asof `direction='nearest'` parity: for each left row,
    * the right row minimizing |rightTs − leftTs| within the same key,
    * ties resolved BACKWARD (the earlier right row — pandas' rule).
    * Composed from the two directional merge-scans joined back on a
    * caller-supplied unique left id (`leftIdCol`): each scan stays the
    * streaming one-shuffle single-row-state shape, and the chooser is a
    * plain projection — no partition buffering, no lookahead state.
    * `toleranceSec` bounds the winning match like the directional form.
    *
    * CONTRACT: `leftIdCol` must be unique per left row — the two
    * directional scans rejoin on it, so a duplicated id fans out into
    * duplicated (and wrongly-chosen) result rows with no error.
    * `assertUniqueIds = true` buys a loud failure instead for the price
    * of one count aggregate over the left side — turn it on anywhere the
    * id column isn't structurally unique (a real key, a generated
    * monotonic id) by construction.
    */
  def asofNearest(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                  leftIdCol: String, leftTs: String, rightTs: String,
                  pickCols: Seq[String],
                  toleranceSec: Option[Long] = None,
                  assertUniqueIds: Boolean = false): DataFrame = {
    if (assertUniqueIds) {
      val a = left.agg(count(lit(1)).as("n"),
        countDistinct(col(leftIdCol)).as("d")).head()
      require(a.getLong(0) == a.getLong(1),
        s"asofNearest: leftIdCol '$leftIdCol' is not unique " +
          s"(${a.getLong(0)} rows, ${a.getLong(1)} distinct) — the " +
          "back/forward rejoin would fan out")
    }
    val pick = (pickCols :+ rightTs).distinct
    val back = asof(left, right, keyCols, leftTs, rightTs, pick,
      direction = "backward", toleranceSec = toleranceSec)
    val fwd = asof(left, right, keyCols, leftTs, rightTs, pick,
        direction = "forward", toleranceSec = toleranceSec)
      .select((col(leftIdCol).as("_fid") +:
        pick.map(c => col(s"asof_$c").as(s"_f_$c"))): _*)
    val joined = back.join(fwd, col(leftIdCol) === col("_fid"), "left")
    val bTs = col(s"asof_$rightTs")
    val fTs = col(s"_f_$rightTs")
    // backward wins on ties (<=): lts−bts <= fts−lts, all µs-exact
    val useBack = bTs.isNotNull && (fTs.isNull ||
      unix_micros(col(leftTs)) - unix_micros(bTs) <=
        unix_micros(fTs) - unix_micros(col(leftTs)))
    val out = left.columns.map(col).toSeq ++ pickCols.map(c =>
      when(useBack, col(s"asof_$c")).otherwise(col(s"_f_$c"))
        .as(s"asof_$c"))
    joined.select(out: _*)
  }
}
