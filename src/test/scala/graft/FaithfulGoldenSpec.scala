package graft

import scala.collection.immutable.ListMap

import graft.core.GraftConfig
import graft.operators.{Gaps, Normalize, Resample}

/** Golden parity against values captured from RUNNING the reference
  * implementation (pandas 2.x) on a deterministic 30-minute fixture:
  * minutes 0..29 with 10-12 missing and one duplicated stamp at 00:05.
  *
  * Reference trace (normalize_df -> repair_gaps(rule) -> resample_ohlc(rule),
  * config defaults): removed_duplicates=1; the 5T path repairs ON THE 5T
  * GRID first (the §2.2.4 grid-align quirk), so each 5T candle equals its
  * boundary-minute row — these exact values are asserted below.
  */
class FaithfulGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = {
    val rows = (0 until 30).filterNot(m => m >= 10 && m <= 12).map { m =>
      val o = 1.10 + m * 0.001
      (f"2024-01-01 00:$m%02d:00", o, o + 0.0005, o - 0.0005, o + 0.0002,
        (100 + m).toDouble)
    } :+ (("2024-01-01 00:05:00", 9.9, 9.9, 9.9, 9.9, 1.0))
    rows.toDF("timestamp", "open", "high", "low", "close", "volume")
  }

  private def normalized() =
    Normalize(fixture(), GraftConfig.defaultColumnsMap,
      Seq("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE"), sourceTz = None)

  test("normalize: dedup keep-first count matches the reference (1 removed)") {
    val res = normalized()
    val dups = res.report("duplicates").asInstanceOf[ListMap[String, Any]]
    assert(dups("removed_duplicates") == 1L)
    assert(res.df.count() == 27)
  }

  test("5T faithful pipeline: candles equal the reference's grid samples") {
    val repaired = Gaps.repairGaps(normalized().unsorted, "5T",
      useFfillFor = Seq("VOLUME"), interpolatePrices = true)
    // reference: 1 gap [00:10, 00:15), missing_count=1, short_gap; ffill 1
    val gaps = repaired.report("detected_gaps").asInstanceOf[Seq[Any]]
    assert(gaps.length == 1)
    val g = gaps.head.asInstanceOf[ListMap[String, Any]]
    assert(g("start") == "2024-01-01 00:10:00+00:00")
    assert(g("end") == "2024-01-01 00:15:00+00:00")
    assert(g("missing_count") == 1L)
    assert(g("classification") == "short_gap")
    assert(repaired.report("filled_counts")
      .asInstanceOf[ListMap[String, Long]]("VOLUME") == 1L)
    assert(repaired.report("rows_after") == 6L)

    val res = Resample.resampleOhlc(repaired.df, "5T",
        inputOnBucketGrid = true)
      .orderBy("TIMESTAMP").collect()
    // golden candles from the reference run (grid-sample quirk: the 00:05
    // candle is the boundary row, NOT the true 5-minute aggregate)
    val golden = Seq(
      ("00:00", 1.1, 1.1005, 1.0995, 1.1002, 100.0),
      ("00:05", 1.105, 1.1055, 1.1045, 1.1052, 105.0),
      ("00:10", 1.11, 1.1105, 1.1095, 1.1102, 105.0), // interpolated stamp
      ("00:15", 1.115, 1.1155, 1.1145, 1.1152, 115.0),
      ("00:20", 1.12, 1.1205, 1.1195, 1.1202, 120.0),
      ("00:25", 1.125, 1.1255, 1.1245, 1.1252, 125.0))
    assert(res.length == golden.length)
    for ((r, (_, o, h, l, c, v)) <- res.zip(golden)) {
      assert(math.abs(r.getAs[Double]("OPEN") - o) < 1e-9)
      assert(math.abs(r.getAs[Double]("HIGH") - h) < 1e-9)
      assert(math.abs(r.getAs[Double]("LOW") - l) < 1e-9)
      assert(math.abs(r.getAs[Double]("CLOSE") - c) < 1e-9)
      assert(math.abs(r.getAs[Double]("VOLUME") - v) < 1e-9)
    }
  }

  test("1T pipeline: row count, volume conservation and interpolation match") {
    val repaired = Gaps.repairGaps(normalized().unsorted, "1T",
      useFfillFor = Seq("VOLUME"), interpolatePrices = true)
    assert(repaired.report("filled_counts")
      .asInstanceOf[ListMap[String, Long]]("VOLUME") == 3L)
    val res = Resample.resampleOhlc(repaired.df, "1T",
        inputOnBucketGrid = true)
      .orderBy("TIMESTAMP").collect()
    assert(res.length == 30)
    val vols = res.map(_.getAs[Double]("VOLUME")).sum
    assert(math.abs(vols - 3429.0) < 1e-9, "reference sum(VOLUME) = 3429")
    // interpolated minutes 10/11: 1.109 + k*(1.113-1.109)/4
    assert(math.abs(res(10).getAs[Double]("OPEN") - 1.11) < 1e-9)
    assert(math.abs(res(11).getAs[Double]("OPEN") - 1.111) < 1e-9)
  }
}
