package graft

import java.sql.Timestamp

import scala.util.Random

import graft.operators.{RangeScan, Resample, ResampleOracle}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The RangeScan resample against the `groupBy` oracle on seeded frames
  * laid out over 1, 3 and 17 range partitions: buckets that span several
  * partitions and partitions shorter than one bucket, nulls at bucket
  * edges and an all-null-CLOSE bucket, NaN and -0.0 in HIGH/LOW, a keyless
  * series, pre-1970 stamps, double/int/decimal extras under both policies
  * and empty buckets.
  * Values compare exactly: doubles bit for bit, with -0.0 equal to 0.0.
  */
class ResampleScanSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("TIMESTAMP", TimestampType),
    StructField("OPEN", DoubleType), StructField("HIGH", DoubleType),
    StructField("LOW", DoubleType), StructField("CLOSE", DoubleType),
    StructField("VOLUME", DoubleType), StructField("SYMBOL", StringType),
    StructField("spread", DoubleType), StructField("ticks", IntegerType),
    StructField("notional", DecimalType(12, 3))))

  /** Per series 40–400 one-minute stamps with random holes, starting
    * before 1970-01-01T00:00Z (some series) so buckets floor across it.
    */
  private def frame(seed: Long, symbols: Seq[String]): DataFrame = {
    val rnd = new Random(seed)
    def maybe(p: Double, v: => Double): java.lang.Double =
      if (rnd.nextDouble() < p) null else java.lang.Double.valueOf(v)
    def price(): Double = math.rint((1.0 + rnd.nextDouble()) * 1e4) / 1e4
    val rows = symbols.flatMap { s =>
      val t0 = (if (rnd.nextBoolean()) -3L * 3600 else 7L * 86400 - 1800) +
        rnd.nextInt(120) * 60L
      val n = 40 + rnd.nextInt(360)
      var t = t0
      // one 5T bucket of this series has no CLOSE at all
      val nullCloseBucket = Math.floorDiv(t0, 300L) + 2 + rnd.nextInt(4)
      (0 until n).map { _ =>
        t += 60L * (1 + (if (rnd.nextDouble() < 0.1) rnd.nextInt(30) else 0))
        def hl(): java.lang.Double = rnd.nextInt(25) match {
          case 0 => Double.NaN
          case 1 => -0.0
          case 2 => 0.0
          case _ => maybe(0.1, price())
        }
        val close =
          if (Math.floorDiv(t, 300L) == nullCloseBucket) null else maybe(0.15, price())
        Row(new Timestamp(t * 1000L), maybe(0.15, price()), hl(), hl(), close,
          maybe(0.15, math.rint(rnd.nextDouble() * 1e5) / 100), s,
          maybe(0.2, price() / 7), if (rnd.nextInt(5) == 0) null else rnd.nextInt(1000),
          if (rnd.nextInt(5) == 0) null
          else java.math.BigDecimal.valueOf(rnd.nextInt(100000000).toLong, 3))
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows), 3), schema)
  }

  private def norm(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case x => x
  }

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map(norm))

  test("RangeScan resample equals the groupBy oracle on laid-out frames") {
    val cases = Seq(
      (Seq("A", "B", "C"), Seq("SYMBOL")), // keyed
      (Seq("A"), Nil)) // keyless: SYMBOL is aggregated as the latest value
    val opts = Seq( // (dropIncomplete, extraNumericPolicy, emitEmpty)
      (true, "mean", false), (false, "sum", false), (false, "mean", true),
      (true, "sum", true))
    var checked = 0
    for (((symbols, keys), ci) <- cases.zipWithIndex; k <- Seq(1, 3, 17)) {
      val laid = RangeScan.layout(frame(31L * ci + k, symbols), keys,
        partitions = Some(k)).cache()
      try {
        assert(laid.rdd.getNumPartitions == k)
        for ((drop, policy, empty) <- opts) {
          val rules = Seq("5T", "15T", "1H", "1D")
          val got = Resample.resampleOhlc(laid, rules, drop, policy, empty, keys, None)
          for ((rule, df) <- rules.zip(got)) {
            val want = ResampleOracle.resampleOhlc(laid, rule, drop, policy, empty, keys)
            assert(df.schema.map(f => (f.name, f.dataType)) ==
              want.schema.map(f => (f.name, f.dataType)), s"$rule schema")
            // the scan's output is in (keys, TIMESTAMP) order as it stands
            val (g, w) = (rowsOf(df), rowsOf(want))
            assert(g.length == w.length, s"$rule k=$k keys=$keys $drop/$policy/$empty")
            g.zip(w).zipWithIndex.foreach { case ((a, b), i) =>
              assert(a == b, s"$rule k=$k keys=$keys $drop/$policy/$empty row $i")
            }
            checked += g.length
          }
        }
      } finally laid.unpersist()
    }
    assert(checked > 1000, s"only $checked buckets compared")
  }

  test("an input outside the range layout is a named LayoutError") {
    val rows = Seq(3, 1, 2).map(m => Row(new Timestamp(m * 60000L), 1.0, 1.0,
      1.0, 1.0, 1.0, "A", 1.0, 1, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val e = intercept[RangeScan.LayoutError](
      Resample.resampleOhlc(df, "1T", partitionCols = Seq("SYMBOL")).collect())
    assert(e.getMessage.contains("Resample"), e.getMessage)
  }
}
