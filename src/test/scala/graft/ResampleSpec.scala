package graft

import java.sql.Timestamp
import java.time.Instant

import graft.operators.{RangeScan, Resample, ResampleOracle}
import org.apache.spark.sql.functions._

/** Ports of tests/test_phase9_resample.py + the §2.2.1-3 parity traps:
  * NaN-skipping first/last, empty-bucket sum = 0.0, empty-bucket emission.
  */
class ResampleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.from(Instant.parse(f"2024-01-01T00:$min%02d:00Z"))

  /** Inputs go in the range layout, as Resample requires. */
  private def laid(df: org.apache.spark.sql.DataFrame) = RangeScan.layout(df, Nil)

  // 6 one-minute candles: OPEN=10..15, HIGH=+0.5, LOW=-0.5, CLOSE=+0.25
  private def frame() =
    (0 until 6).map { m =>
      val o = 10.0 + m
      (ts(m), o, o + 0.5, o - 0.5, o + 0.25,
        Seq(100.0, 110.0, 90.0, 120.0, 60.0, 80.0)(m))
    }.toDF("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME")

  test("5T resample: first/max/min/last/sum per bucket") {
    val res = Resample.resampleOhlc(laid(frame()), "5T", dropIncomplete = false)
      .orderBy("TIMESTAMP").collect()
    assert(res.length == 2)
    val b0 = res(0)
    assert(b0.getAs[Timestamp]("TIMESTAMP") == ts(0), "left-labeled bucket")
    assert(b0.getAs[Double]("OPEN") == 10.0)
    assert(b0.getAs[Double]("HIGH") == 14.5)
    assert(b0.getAs[Double]("LOW") == 9.5)
    assert(b0.getAs[Double]("CLOSE") == 14.25)
    assert(b0.getAs[Double]("VOLUME") == 480.0)
    val b1 = res(1)
    assert(b1.getAs[Double]("OPEN") == 15.0)
    assert(b1.getAs[Double]("VOLUME") == 80.0)
  }

  test("first/last skip nulls (pandas GroupBy.first semantics)") {
    val df = Seq(
      (ts(0), Option.empty[Double], Some(1.0)),
      (ts(1), Some(2.0), Option.empty[Double]),
      (ts(2), Some(3.0), Some(3.5)))
      .toDF("TIMESTAMP", "OPEN", "CLOSE")
    val r = Resample.resampleOhlc(laid(df), "5T", dropIncomplete = false).collect()(0)
    assert(r.getAs[Double]("OPEN") == 2.0, "first non-null OPEN")
    assert(r.getAs[Double]("CLOSE") == 3.5, "last non-null CLOSE")
  }

  test("emitEmpty: in-range empty buckets appear with null OHLC and 0.0 sum") {
    // rows in minutes 0 and 10 -> 5T buckets 0,5,10; bucket 5 is empty
    val df = Seq(
      (ts(0), 1.0, 1.0, 100.0),
      (ts(10), 2.0, 2.0, 50.0))
      .toDF("TIMESTAMP", "OPEN", "CLOSE", "VOLUME")
    val out = Resample.resampleOhlc(laid(df), "5T", dropIncomplete = false,
      emitEmpty = true).orderBy("TIMESTAMP").collect()
    assert(out.length == 3)
    val empty = out(1)
    assert(empty.isNullAt(empty.fieldIndex("OPEN")))
    assert(empty.getAs[Double]("VOLUME") == 0.0, "pandas sum(empty)=0.0")
    // drop_incomplete then removes it
    val dropped = Resample.resampleOhlc(laid(df), "5T", dropIncomplete = true,
      emitEmpty = true).collect()
    assert(dropped.length == 2)
  }

  test("extra numeric columns follow the mean policy; strings drop") {
    val df = Seq(
      (ts(0), 1.0, 10.0, "x"),
      (ts(1), 2.0, 20.0, "y"))
      .toDF("TIMESTAMP", "CLOSE", "spread_pts", "note")
    val out = Resample.resampleOhlc(laid(df), "5T")
    assert(!out.columns.contains("note"), "non-numeric unmapped dropped")
    assert(out.select("spread_pts").as[Double].head() == 15.0)
    val sumOut = Resample.resampleOhlc(laid(df), "5T", extraNumericPolicy = "sum")
    assert(sumOut.select("spread_pts").as[Double].head() == 30.0)
  }

  test("off-boundary repaired grid still gets epoch-aligned bucket labels") {
    // series anchored at 00:02 repaired at 5T -> rows at 00:02, 00:07, 00:12;
    // pandas resample floors labels to 00:00, 00:05, 00:10 regardless
    val df = Seq(2, 7, 12).map(m => (ts(m), 1.0 + m, 1.0 + m))
      .toDF("TIMESTAMP", "OPEN", "CLOSE")
    val out = Resample.resampleOhlc(laid(df), "5T", inputOnBucketGrid = true)
      .orderBy("TIMESTAMP").collect()
    assert(out.map(_.getAs[Timestamp]("TIMESTAMP")).toSeq ==
      Seq(ts(0), ts(5), ts(10)))
    assert(out.map(_.getAs[Double]("OPEN")).toSeq == Seq(3.0, 8.0, 13.0))
    // and the seedless on-grid scan agrees with the groupBy oracle
    val grouped = ResampleOracle.resampleOhlc(laid(df), "5T")
      .orderBy("TIMESTAMP").collect()
    assert(out.map(_.toSeq).toSeq == grouped.map(_.toSeq).toSeq)
  }

  test("SYMBOL survives as last and faithful mode grid-samples (§2.2.4)") {
    val df = (0 until 10).map { m =>
      (ts(m), 1.0 + m, 1.0 + m, 10.0 * (m + 1), "EURUSD")
    }.toDF("TIMESTAMP", "OPEN", "CLOSE", "VOLUME", "SYMBOL")
    val correct = Resample.resampleOhlc(laid(df), "5T").orderBy("TIMESTAMP").collect()
    assert(correct(0).getAs[String]("SYMBOL") == "EURUSD")
    assert(correct(0).getAs[Double]("VOLUME") == 150.0, "true 5-min sum")
    // faithful mode reindexes onto the 5T grid first -> only boundary rows
    val faithful = Resample.faithful(laid(df), "5T", useFfillFor = Seq("VOLUME"))
      .orderBy("TIMESTAMP").collect()
    assert(faithful(0).getAs[Double]("VOLUME") == 10.0,
      "grid-sample quirk: single boundary row, not the true aggregate")
  }
}
