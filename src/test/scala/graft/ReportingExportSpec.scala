package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.immutable.ListMap

import graft.core.Json
import graft.operators.{Exporter, RangeScan, Reporting}
import org.apache.spark.sql.functions.{col, input_file_name}

/** Ports of test_phase7_export.py + reporting assertions (test.py,
  * reporting.py fields).
  */
class ReportingExportSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.from(Instant.parse(f"2024-01-01T00:$min%02d:00Z"))

  private def frame() =
    (0 until 10).map { m =>
      (ts(m), 10.0 + m, 10.5 + m, 9.5 + m, 10.25 + m, 100.0)
    }.toDF("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME")

  test("quality report has the reference's fields and values") {
    val rep = Reporting.dataQualityReport(RangeScan.layout(frame(), Nil),
      smaWindows = Seq(3, 5))
    assert(rep("rows") == 10L)
    assert(rep("candles_count") == 10L)
    assert(rep("start") == "2024-01-01 00:00:00+00:00")
    assert(rep("end") == "2024-01-01 00:09:00+00:00")
    assert(rep("dups_timestamps") == 0L)
    assert(rep("mean_range") == 1.0)
    assert(rep("close_min") == 10.25 && rep("close_max") == 19.25)
    assert(rep("suspicious_price_jump") == false)
    val ind = rep("indicators").asInstanceOf[ListMap[String, Any]]
    assert(ind.keySet == Set("SMA_3", "SMA_5"))
    val sma3 = ind("SMA_3").asInstanceOf[ListMap[String, Any]]
    // last SMA_3 = mean(17.25, 18.25, 19.25) = 18.25
    assert(sma3("last") == 18.25)
    assert(sma3("nan_count") == 0L)
    assert(rep("notes").asInstanceOf[Seq[String]].isEmpty)
  }

  test("SMA summaries: identical, unrounded, over 1 and over 4 range partitions") {
    // inexact decimals and scattered nulls: a running sum's rounding would
    // depend on where each range partition starts
    val df = (0 until 2000).map { i =>
      (Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(60L * i)),
        if (i % 97 == 5) None else Some(1.1 + ((i * 7919) % 1013) * 1e-5 / 3))
    }.toDF("TIMESTAMP", "CLOSE")
    def sma(parts: Int) = Reporting.dataQualityReport(
      RangeScan.layout(df, Nil, partitions = Some(parts)), smaWindows = Seq(10, 50))
      .apply("indicators")
    val one = sma(1)
    assert(sma(4) == one)
    // and equal to the windowed avg, which sums each frame in row order
    assert(one == SmaOracle.summaries(df, Seq(10, 50), Nil))
  }

  test("nans and dups surface in report + notes") {
    val df = Seq(
      (ts(0), Some(1.0)), (ts(0), Some(2.0)), (ts(1), Option.empty[Double]))
      .toDF("TIMESTAMP", "CLOSE")
    val rep = Reporting.dataQualityReport(df, computeIndicators = false)
    assert(rep("dups_timestamps") == 1L)
    assert(rep("nans_per_column").asInstanceOf[ListMap[String, Long]]
      .apply("CLOSE") == 1L)
    val notes = rep("notes").asInstanceOf[Seq[String]]
    assert(notes.exists(_.contains("duplicated")))
    assert(notes.exists(_.contains("NaN")))
  }

  test("export writes zstd parquet + sidecar; hash only in returned report") {
    val dir = Files.createTempDirectory("graft_export").toString
    val path = s"$dir/EURUSD_20240101_20240101_1m.parquet"
    val report = Exporter.writeParquetWithMetadata(frame(), path,
      metadata = Json.obj("exporter_version" -> "v1"))
    assert(report("rows") == 10L)
    assert(report.contains("content_hash"))
    assert(report("invalid_low") == false && report("invalid_high") == false)
    // readable round-trip
    assert(spark.read.parquet(path).count() == 10)
    // sidecar exists, parses, and does NOT contain the hash (§2.2.7)
    val sidecar = Files.readString(Paths.get(path + ".meta.json"))
    assert(sidecar.contains("\"rows\""))
    assert(!sidecar.contains("content_hash"))
    // ndjson log appends one line per call
    Exporter.appendExportLog(s"$dir/exports", report)
    Exporter.appendExportLog(s"$dir/exports", report)
    val log = Files.readAllLines(Paths.get(s"$dir/exports/export_log.ndjson"))
    assert(log.size() == 2)
    assert(log.get(0).contains("content_hash"))
  }

  test("writeMode append accumulates; rowGroupSize bounds parquet row groups") {
    val dir = Files.createTempDirectory("graft_export_mode").toString
    val path = s"$dir/append_test.parquet"
    Exporter.writeParquetWithMetadata(frame(), path, writeMode = "append")
    Exporter.writeParquetWithMetadata(frame(), path, writeMode = "append")
    assert(spark.read.parquet(path).count() == 20, "append mode accumulates")

    // a tiny block size forces multiple row groups in one file (the writer
    // checks the block budget every >=100 records, so use a frame large
    // enough to cross it several times)
    val small = s"$dir/small_groups.parquet"
    val big = (0 until 5000).map { m =>
      (new Timestamp(ts(0).getTime + m * 60000L),
        10.0 + m, 10.5 + m, 9.5 + m, 10.25 + m, 100.0)
    }.toDF("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME")
    Exporter.writeParquetWithMetadata(
      big.coalesce(1), small, rowGroupSize = Some(4096L))
    // one partition, one part file of 5000 rows, far above the 4KB block
    // budget
    val part = Files.list(Paths.get(small)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains(".meta"))
    assert(part.nonEmpty)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.sorted.head),
        spark.sparkContext.hadoopConfiguration))
    try
      assert(footer.getRowGroups.size() > 1,
        s"1KB block size must split 10 rows into >1 row group, " +
          s"got ${footer.getRowGroups.size()}")
    finally footer.close()
  }

  test("partition derivation: case-insensitive resolve + auto YEAR/MONTH") {
    val withSym = frame().withColumn("SYMBOL",
      org.apache.spark.sql.functions.lit("EURUSD"))
    val (prepared, cols) = Exporter.preparePartitionCols(withSym,
      Seq("symbol", "year", "bogus"))
    assert(cols == Seq("SYMBOL", "YEAR"))
    assert(prepared.columns.contains("YEAR"))
    val dir = Files.createTempDirectory("graft_part").toString
    Exporter.writeParquetWithMetadata(withSym, s"$dir/out.parquet",
      partitionCols = Seq("symbol", "year"))
    assert(Files.list(Paths.get(s"$dir/out.parquet")).toArray
      .exists(_.toString.contains("SYMBOL=EURUSD")))
  }

  test("invalid_low flags interpolation-violated candles but does not fail") {
    val bad = Seq(
      (ts(0), 10.0, 11.0, 10.5, 10.8), // LOW > OPEN
      (ts(0), 10.0, 11.0, 9.5, 10.8))  // same stamp: one duplicate
      .toDF("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE")
    val path = Files.createTempDirectory("graft_export_bad").toString + "/bad.parquet"
    val rep = Exporter.writeParquetWithMetadata(bad, path)
    assert(rep("invalid_low") == true)
    assert(rep("invalid_high") == false)
    assert(rep("negative_prices") == false)
    assert(rep("duplicated_timestamps") == 1L)
    assert(spark.read.parquet(path).count() == 2, "validation warns, never fails")
  }

  test("export hash: pinned recipe; two appends hash like one overwrite") {
    val dir = Files.createTempDirectory("graft_export_hash").toString
    // sha256 over rows, str(min), str(max) and the first 3 OPEN/CLOSE values
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (part <- Seq("10", "2024-01-01 00:00:00+00:00",
        "2024-01-01 00:09:00+00:00", "[10.0, 11.0, 12.0]",
        "[10.25, 11.25, 12.25]")) md.update(part.getBytes)
    val expected = md.digest().map("%02x".format(_)).mkString
    val once = Exporter.writeParquetWithMetadata(frame(), s"$dir/once.parquet")
    assert(once("content_hash") == expected)
    // the second append's samples come from its own files only: read over
    // both appends, every stamp is doubled and the OPEN sample would be
    // [10.0, 10.0, 11.0]
    val appended = s"$dir/appended.parquet"
    val hashes = (1 to 2).map(_ => Exporter.writeParquetWithMetadata(frame(),
      appended, writeMode = "append")("content_hash"))
    assert(hashes == Seq(expected, expected))
    assert(spark.read.parquet(appended).count() == 20)
  }

  test("export of an empty frame: 0 rows, null extent, no wait on the observation") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("graft_export_empty").toString
    // folded to an empty relation (no partitions) and an empty
    // three-partition exchange
    val empties = Seq(frame().filter(col("OPEN") < 0),
      frame().repartition(3).filter(col("OPEN") < 0))
    for ((df, i) <- empties.zipWithIndex) {
      val run = Future(Exporter.writeParquetWithMetadata(df,
        s"$dir/empty$i.parquet"))(ExecutionContext.global)
      val rep = Await.result(run, 60.seconds)
      assert(rep("rows") == 0L && rep("start") == null && rep("end") == null,
        s"empty export $i: $rep")
      assert(rep("negative_prices") == false && rep("invalid_low") == false)
      assert(rep.contains("content_hash"))
    }
  }

  test("a 1-partition frame writes one part file; observed rows equal count()") {
    val path = Files.createTempDirectory("graft_export_one").toString + "/one.parquet"
    val one = (0 until 5000).map { m =>
      (new Timestamp(ts(0).getTime + m * 60000L),
        10.0 + m, 10.5 + m, 9.5 + m, 10.25 + m, 100.0)
    }.toDF("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME").coalesce(1)
    val rep = Exporter.writeParquetWithMetadata(one, path)
    assert(rep("rows") == one.count())
    assert(rep("start") == "2024-01-01 00:00:00+00:00")
    val parts = Files.list(Paths.get(path)).toArray.map(_.toString)
      .count(_.endsWith(".parquet"))
    assert(parts == 1, s"the write keeps the frame's partitioning: $parts part files")
  }

  test("writeZOrdered: box rows hit fewer files than a linear layout") {
    val grid = for { a <- 0 until 64; b <- 0 until 64 }
      yield (a.toLong, b.toLong)
    val df = grid.toDF("a", "b")
    val zdir = java.nio.file.Files.createTempDirectory("graft-z").toString
    Exporter.writeZOrdered(df, zdir, "a", "b", files = 16)
    val ldir = java.nio.file.Files.createTempDirectory("graft-l").toString
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a", "b")
      .write.mode("overwrite").parquet(ldir)
    // predicate narrow in b, unconstrained in a — the case a single-column
    // sort cannot skip for
    def filesWithMatches(dir: String): Long =
      spark.read.parquet(dir).filter(col("b") <= 7)
        .select(input_file_name()).distinct().count()
    val linear = filesWithMatches(ldir)
    val z = filesWithMatches(zdir)
    assert(linear == 16L, s"a-sorted layout scatters b into every file: $linear")
    assert(z < linear, s"z-order must bound b-locality: $z vs $linear")
    // layout is value-neutral: every row survives the round trip
    assert(spark.read.parquet(zdir).count() == 4096L)
  }

  test("skewProfile: hand-computed census quantiles and heavy keys") {
    // a×5, b×3, c×1, d×1: census {1:2, 3:1, 5:1}, cum (1,2)(3,3)(5,4)
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .toDF("k")
    val r = Reporting.skewProfile(df, "k").collect().head
    assert(r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("n_keys") == 4L)
    assert(r.getAs[Long]("max_key_rows") == 5L)
    assert(r.getAs[Long]("p50_key_rows") == 1L) // cum 2·2 ≥ 4 at c=1
    assert(r.getAs[Long]("p90_key_rows") == 5L) // first cum·10 ≥ 36
    assert(r.getAs[Long]("p99_key_rows") == 5L)
    assert(r.getAs[String]("top_keys") == "a:5,b:3,c:1,d:1")
    // partitioning-invariant
    val again = Reporting.skewProfile(df.repartition(7), "k").collect().head
    assert(again.toSeq == r.toSeq)
  }

  test("compact: small files collapse, content survives, no-op is idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val out = s"$dir/data.parquet"
    // 40 tiny files
    (0 until 2000).map(i => (i.toLong, s"row $i")).toDF("id", "v")
      .repartition(40).write.mode("overwrite").parquet(out)
    val before = spark.read.parquet(out)
    val beforeRows = before.orderBy("id").collect().toSeq
    val r = Exporter.compact(spark, out, targetBytes = 512L * 1024)
    assert(r.filesBefore == 40 && r.filesAfter < 40 && r.filesAfter >= 1,
      s"expected a collapse, got $r")
    assert(r.rows == 2000)
    val after = spark.read.parquet(out)
    assert(after.count() == 2000)
    assert(after.orderBy("id").collect().toSeq == beforeRows,
      "compaction must be value-neutral")
    // second run: already at/below target → no rewrite, same report shape
    val r2 = Exporter.compact(spark, out, targetBytes = 512L * 1024)
    assert(r2.filesBefore == r.filesAfter && r2.filesAfter == r.filesAfter,
      s"idempotent no-op expected, got $r2")
  }
}
