package graft

import java.sql.Timestamp
import java.time.Instant

import scala.collection.immutable.ListMap

import graft.operators.{Gaps, RangeScan}
import org.apache.spark.sql.functions._

/** Ports of tests/test_phase8_gaps.py: 10×1-min frame with minutes 3–4
  * dropped — detect the cluster, classify it, repair restores the grid and
  * eliminates price NaNs.
  */
class GapsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.from(Instant.parse(f"2024-01-01T00:$min%02d:00Z"))

  // minutes 0..9 minus {3,4}; OPEN/CLOSE = minute index, VOLUME = 100
  private def frame() =
    (0 until 10).filterNot(m => m == 3 || m == 4)
      .map(m => (ts(m), m.toDouble, m.toDouble, 100.0))
      .toDF("TIMESTAMP", "OPEN", "CLOSE", "VOLUME")

  // repair input in the range layout (keyless unless keys are given)
  private def laid(df: org.apache.spark.sql.DataFrame,
                   keys: Seq[String] = Nil) = RangeScan.layout(df, keys)

  test("detect_gaps finds the 2-stamp cluster and classifies it short") {
    val gaps = Gaps.detectGaps(frame(), "1T", shortGapMinutes = 5).collect()
    assert(gaps.length == 1)
    val g = gaps(0)
    assert(g.getAs[Timestamp]("start") == ts(3))
    assert(g.getAs[Timestamp]("end") == ts(4))
    assert(g.getAs[Long]("missing_count") == 2L)
    assert(g.getAs[Long]("length_minutes") == 2L) // end-start+step = 2 min
    assert(g.getAs[String]("classification") == "short_gap")
  }

  test("no gaps on a dense frame") {
    val dense = (0 until 5).map(m => (ts(m), m.toDouble))
      .toDF("TIMESTAMP", "CLOSE")
    assert(Gaps.detectGaps(dense, "1T").count() == 0)
  }

  test("repair restores the full grid, ffills VOLUME, interpolates prices") {
    val res = Gaps.repairGaps(laid(frame()), "1T",
      useFfillFor = Seq("VOLUME"), interpolatePrices = true)
    val out = res.df.orderBy("TIMESTAMP").collect()
    assert(out.length == 10, "reindex to the 10-stamp grid")
    // interpolated minutes 3,4 between OPEN=2 and OPEN=5: 3.0, 4.0
    val opens = res.df.orderBy("TIMESTAMP").select("OPEN").as[Double].collect()
    assert(opens.toSeq == (0 until 10).map(_.toDouble))
    val vols = res.df.orderBy("TIMESTAMP").select("VOLUME").as[Double].collect()
    assert(vols.forall(_ == 100.0), "VOLUME forward-filled")
    val rep = res.report
    assert(rep("rows_after") == 10L)
    val filled = rep("filled_counts").asInstanceOf[ListMap[String, Long]]
    assert(filled("VOLUME") == 2L)
    val remaining = rep("remaining_nans").asInstanceOf[ListMap[String, Long]]
    assert(remaining.values.forall(_ == 0L), "no NaNs left")
    assert(rep("detected_gaps").asInstanceOf[Seq[Any]].length == 1)
  }

  test("repair drops off-grid rows (reindex semantics, §2.2.4)") {
    val withOffGrid = frame().union(
      Seq((Timestamp.from(Instant.parse("2024-01-01T00:02:30Z")), 99.0, 99.0, 1.0))
        .toDF("TIMESTAMP", "OPEN", "CLOSE", "VOLUME"))
    val out = Gaps.repairGaps(laid(withOffGrid), "1T",
      computeReport = false).df
    assert(out.count() == 10)
    assert(out.filter(col("OPEN") === 99.0).count() == 0)
  }

  test("leading/trailing nulls fill both directions (limit_direction=both)") {
    val df = Seq(
      (ts(0), Option.empty[Double]),
      (ts(1), Some(5.0)),
      (ts(2), Option.empty[Double]))
      .toDF("TIMESTAMP", "OPEN")
    val out = Gaps.repairGaps(laid(df), "1T", useFfillFor = Nil,
      computeReport = false).df
      .orderBy("TIMESTAMP").select("OPEN").as[Double].collect()
    assert(out.toSeq == Seq(5.0, 5.0, 5.0))
  }

  test("multi-symbol repair: per-series grids, fills never cross series") {
    val df = Seq(
      // series A: minutes 0,1,4 (gap 2-3), values 10,11,14
      ("A", ts(0), Some(10.0), Some(100.0)),
      ("A", ts(1), Some(11.0), Some(110.0)),
      ("A", ts(4), Some(14.0), Some(140.0)),
      // series B: minutes 0,2 (gap 1), values 50,52; VOLUME null at start
      ("B", ts(0), Some(50.0), Option.empty[Double]),
      ("B", ts(2), Some(52.0), Some(520.0)))
      .toDF("SYMBOL", "TIMESTAMP", "OPEN", "VOLUME")
    val out = Gaps.repairGaps(laid(df, Seq("SYMBOL")), "1T",
        useFfillFor = Seq("VOLUME"), partitionCols = Seq("SYMBOL"),
        computeReport = false).df
      .orderBy("SYMBOL", "TIMESTAMP").collect()
    assert(out.length == 8) // A: 5 grid rows, B: 3 grid rows
    val a = out.filter(_.getString(0) == "A")
    assert(a.length == 5)
    assert(a.map(_.getAs[Double]("OPEN")).toSeq ==
      Seq(10.0, 11.0, 12.0, 13.0, 14.0), "A interpolates within A only")
    assert(a.map(_.getAs[Double]("VOLUME")).toSeq ==
      Seq(100.0, 110.0, 110.0, 110.0, 140.0), "A ffills within A only")
    val b = out.filter(_.getString(0) == "B")
    assert(b.length == 3)
    assert(b.map(_.getAs[Double]("OPEN")).toSeq == Seq(50.0, 51.0, 52.0))
    assert(b(0).isNullAt(b(0).fieldIndex("VOLUME")),
      "B's leading null VOLUME is NOT filled from series A")
    // per-series gap detection keyed the same way
    val gaps = Gaps.detectGaps(df, "1T", partitionCols = Seq("SYMBOL"))
      .orderBy("SYMBOL", "start").collect()
    assert(gaps.length == 2)
    assert(gaps(0).getString(0) == "A" &&
      gaps(0).getAs[Long]("missing_count") == 2L)
    assert(gaps(1).getString(0) == "B" &&
      gaps(1).getAs[Long]("missing_count") == 1L)
  }

  test("report-mode repair leaves no persistent RDD, keyed or keyless") {
    // Pin for the scoped report cache: the report's two jobs read a cache
    // of the pre-drop frame, and repairGaps must release it before
    // returning — for KEYED series (the production shape: Runner keys by
    // SYMBOL) and for the KEYLESS gap clusters, whose range scan holds no
    // checkpoint either.
    //
    // Concurrency note: all suites share one SparkContext and run in
    // parallel, so a global registry count can be polluted by another
    // suite caching inside this test's window. A REAL leak (an RDD this
    // call cached that nothing can ever unpersist) fails every one of the
    // three windows, while cross-suite pollution is transient.
    val keyed = laid((0 until 10).filterNot(m => m == 3 || m == 4).flatMap(m =>
      Seq(("A", ts(m), m.toDouble, 100.0), ("B", ts(m), m + 0.5, 200.0)))
      .toDF("SYMBOL", "TIMESTAMP", "CLOSE", "VOLUME"), Seq("SYMBOL"))
    val keyless = laid(frame())
    for ((name, df, keys, rows, gaps) <- Seq(
        ("keyed", keyed, Seq("SYMBOL"), 20L, 2),
        ("keyless", keyless, Nil, 10L, 1))) {
      val cleanWindow = (1 to 3).iterator.map { _ =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val res = Gaps.repairGaps(df, "1T",
          useFfillFor = Seq("VOLUME"), interpolatePrices = true,
          partitionCols = keys)
        assert(res.report("rows_after") == rows, s"$name: report computed")
        assert(res.report("detected_gaps").asInstanceOf[Seq[Any]].length == gaps,
          name)
        assert(res.df.count() == rows, name)
        (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      }.indexWhere(_ == 0)
      assert(cleanWindow >= 0, s"$name: every window left persistent RDDs " +
        "behind: the scoped report cache leaked")
    }
  }

  test("overnight classification beats long (dead long_gap parity)") {
    // 25h gap crossing midnight: must classify overnight_gap, NOT long_gap
    val df = Seq(
      (Timestamp.from(Instant.parse("2024-01-01T23:00:00Z")), 1.0),
      (Timestamp.from(Instant.parse("2024-01-03T01:00:00Z")), 2.0))
      .toDF("TIMESTAMP", "CLOSE")
    val g = Gaps.detectGaps(df, "1H").collect()(0)
    assert(g.getAs[String]("classification") == "overnight_gap")
  }

  test("var-length ffill column routes through the generic scan path") {
    // a STRING ffill column forces FastFill off the fixed-width UnsafeRow
    // fast path (in-place setters can't grow a var-length slot) onto the
    // GenericInternalRow buffer — same fill semantics, different engine
    // branch, otherwise untested. Minutes 0..9 minus {3,4}; note is null on
    // minutes 1, 2, 5 so the carry crosses real AND synthesized rows.
    val df = (0 until 10).filterNot(m => m == 3 || m == 4)
      .map(m => (ts(m),
        if (m == 1 || m == 2 || m == 5) null else s"n$m",
        m.toDouble))
      .toDF("TIMESTAMP", "NOTE", "CLOSE")
    val got = graft.operators.FastFill.fill(laid(df),
        ffillCols = Seq("NOTE"), interpCols = Seq("CLOSE"),
        tsCol = "TIMESTAMP", stepMicros = 60000000L)
      .orderBy("TIMESTAMP").collect()
    assert(got.length == 10, "reindex restores the full grid")
    val notes = got.map(_.getAs[String]("NOTE")).toSeq
    // n0 carries over the two nulls, then across the synthesized 3/4 rows
    // and the null at 5; n6..n9 are their own values
    assert(notes == Seq("n0", "n0", "n0", "n0", "n0", "n0",
      "n6", "n7", "n8", "n9"))
    val closes = got.map(_.getAs[Double]("CLOSE")).toSeq
    // synthesized minutes 3/4 interpolate linearly between 2.0 and 5.0
    assert(closes == Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0))
  }

  test("the grid runs to the last grid point before the last stamp (trailing gap)") {
    // 1-min rows 0..29 without minute 25: at 5T the grid is
    // date_range(00:00, 00:29) = 0,5,..,25, so the last grid point is
    // missing although rows follow it; it must be synthesized, filled and
    // reported — on one partition and with the series spread over several
    val rows = (0 until 30).filterNot(_ == 25)
      .map(m => ("S", ts(m), m.toDouble, 100.0))
      .toDF("SYMBOL", "TIMESTAMP", "OPEN", "VOLUME")
    for (keys <- Seq(Nil, Seq("SYMBOL")); parts <- Seq(1, 6)) {
      val what = s"keys=$keys parts=$parts"
      val df = RangeScan.layout(rows, keys, partitions = Some(parts)).cache()
      df.count()
      val res = Gaps.repairGaps(df, "5T", useFfillFor = Seq("VOLUME"),
        partitionCols = keys)
      val out = res.df.orderBy("TIMESTAMP").collect()
      assert(out.map(_.getAs[Timestamp]("TIMESTAMP")).toSeq ==
        (0 to 25 by 5).map(ts), what)
      assert(out.last.getAs[Double]("OPEN") == 20.0, s"$what: trailing ffill")
      assert(out.last.getAs[Double]("VOLUME") == 100.0, what)
      assert(res.report("rows_after") == 6L, what)
      val gaps = res.report("detected_gaps").asInstanceOf[Seq[ListMap[String, Any]]]
      assert(gaps.map(g => (g("start"), g("end"), g("missing_count"))) ==
        Seq(("2024-01-01 00:25:00+00:00", "2024-01-01 00:30:00+00:00", 1L)),
        what)
      val detected = Gaps.detectGaps(df, "5T", partitionCols = keys).collect()
      assert(detected.map(g => (g.getAs[Timestamp]("start"),
        g.getAs[Timestamp]("end"), g.getAs[Long]("missing_count"))).toSeq ==
        Seq((ts(25), ts(25), 1L)), what)
      df.unpersist()
    }
  }
}
