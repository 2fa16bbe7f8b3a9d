package graft.operators

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest

import scala.collection.immutable.ListMap

import graft.core.Json
import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parquet sink with validation, sidecar metadata and NDJSON audit log
  * (reference O18–O21: src/etl/load/exporter.py).
  *
  * Parity quirks preserved:
  *  - OHLC sanity violations (invalid_low/invalid_high) WARN, never fail —
  *    independent interpolation routinely produces them (exporter.py:56-62);
  *  - the content hash is added to the RETURNED report after the sidecar is
  *    written, so the sidecar never contains it while the NDJSON log does
  *    (exporter.py:192-199);
  *  - hash recipe: sha256 over row count, str(min), str(max), and the first
  *    3 non-null OPEN/CLOSE values (exporter.py:76-91).
  *
  * Everything the driver touches is a fixed-size aggregate; validation is
  * one agg pass (least/greatest row-wise predicates folded into sums).
  */
object Exporter {

  val TsCol: String = Normalize.TsCol

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      System.err.println(f"[graft-timing]   $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def validateFinalDf(df: DataFrame,
                      knownDistinctTs: Boolean = false): ListMap[String, Any] = {
    require(df.columns.contains(TsCol),
      s"$TsCol column required before export")
    val hasOhlc = Seq("OPEN", "HIGH", "LOW", "CLOSE").forall(df.columns.contains)

    var aggs = Vector(
      count(lit(1)).as("_rows"),
      min(col(TsCol)).as("_start"),
      max(col(TsCol)).as("_end"),
      sum(when(col(TsCol).isNull, 1).otherwise(0)).as("_tsnull"))
    if (!knownDistinctTs) aggs :+= countDistinct(col(TsCol)).as("_dts")
    if (hasOhlc) {
      val anyNeg = Seq("OPEN", "HIGH", "LOW", "CLOSE")
        .map(c => col(c) < 0).reduce(_ || _)
      aggs :+= max(when(anyNeg, 1).otherwise(0)).as("_neg")
      aggs :+= max(when(
        col("LOW") > least(col("OPEN"), col("HIGH"), col("CLOSE")), 1)
        .otherwise(0)).as("_invlow")
      aggs :+= max(when(
        col("HIGH") < greatest(col("OPEN"), col("LOW"), col("CLOSE")), 1)
        .otherwise(0)).as("_invhigh")
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)

    val rows = r.getAs[Long]("_rows")
    val dups =
      if (knownDistinctTs) 0L
      else rows - r.getAs[Long]("_dts") -
        (if (r.getAs[Long]("_tsnull") > 0) 1 else 0)
    var report = Json.obj(
      "index_dtype" -> "datetime64[us, UTC]",
      "index_tz" -> "UTC",
      "duplicated_timestamps" -> dups)
    if (hasOhlc)
      report ++= Json.obj(
        "negative_prices" -> (r.getAs[Int]("_neg") == 1),
        "invalid_low" -> (r.getAs[Int]("_invlow") == 1),
        "invalid_high" -> (r.getAs[Int]("_invhigh") == 1))
    report ++= Json.obj(
      "rows" -> rows,
      "start" -> (if (rows > 0)
        Reporting.fmtTs(r.getAs[java.sql.Timestamp]("_start")) else null),
      "end" -> (if (rows > 0)
        Reporting.fmtTs(r.getAs[java.sql.Timestamp]("_end")) else null))
    report
  }

  /** O19: case-insensitive partition-column resolution; auto-derive
    * YEAR/MONTH from the time column when requested but absent.
    */
  def preparePartitionCols(df: DataFrame,
                           partitionCols: Seq[String]): (DataFrame, Seq[String]) = {
    val lookup = df.columns.map(c => c.toLowerCase -> c).toMap
    var out = df
    var actual = Vector.empty[String]
    for (pc <- partitionCols) {
      lookup.get(pc.toLowerCase) match {
        case Some(c) => actual :+= c
        case None =>
          pc.toLowerCase match {
            case "year" =>
              out = out.withColumn("YEAR", year(col(TsCol)))
              actual :+= "YEAR"
            case "month" =>
              out = out.withColumn("MONTH", month(col(TsCol)))
              actual :+= "MONTH"
            case _ => // warn + skip, like the reference
          }
      }
    }
    (out, actual)
  }

  /** Lightweight content hash (exporter.py:76-91): row count, index extent
    * and a 3-row sample of key columns. `precomputed` (rows, start, end —
    * already formatted) skips re-aggregating what validation measured; the
    * key samples come from ONE head scan in time order (first 3 non-null
    * values per key among the first 1000 rows — beyond that the reference's
    * head(3) would be all-null anyway in any non-degenerate frame).
    */
  def contentHash(df: DataFrame, keys: Seq[String],
                  precomputed: Option[(Long, String, String)] = None): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val (n, t0, t1) = precomputed.getOrElse {
      val r = df.agg(count(lit(1)).as("_n"), min(col(TsCol)).as("_t0"),
        max(col(TsCol)).as("_t1")).collect()(0)
      val c = r.getAs[Long]("_n")
      (c,
        if (c > 0) Reporting.fmtTs(r.getAs[java.sql.Timestamp]("_t0")) else "",
        if (c > 0) Reporting.fmtTs(r.getAs[java.sql.Timestamp]("_t1")) else "")
    }
    md.update(n.toString.getBytes)
    if (n > 0) { md.update(t0.getBytes); md.update(t1.getBytes) }
    val present = keys.filter(df.columns.contains)
    if (present.nonEmpty) {
      val head = df.orderBy(col(TsCol))
        .select(present.map(col): _*).limit(1000).collect()
      for ((k, i) <- present.zipWithIndex) {
        val sample = head.iterator.filterNot(_.isNullAt(i))
          .map(_.get(i)).take(3).toSeq
        md.update(sample.mkString("[", ", ", "]").getBytes)
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** O20: validate → zstd parquet (+partitioning) → sidecar JSON → hash.
    *
    * The validation aggregate and the parquet write are independent reads
    * of the (cached) input, so they run CONCURRENTLY — Spark's cache locks
    * per partition, so racing the first action never duplicates compute.
    * Validation is warn-only in the reference (exporter.py:56-62), so
    * write-before-validate-completes cannot change any outcome; the sidecar
    * still waits for both.
    *
    * `rowGroupSize` maps to parquet.block.size in BYTES (the reference's
    * pyarrow knob counts rows — config_model.py:21 — sizes don't translate,
    * so only an explicit byte value is honored).
    */
  def writeParquetWithMetadata(df: DataFrame, outPath: String,
                               compression: String = "zstd",
                               partitionCols: Seq[String] = Nil,
                               metadata: ListMap[String, Any] = ListMap.empty,
                               knownDistinctTs: Boolean = false,
                               writeMode: String = "overwrite",
                               rowGroupSize: Option[Long] = None)
      : ListMap[String, Any] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val valReportF = Future(
      timed("ex_validate")(validateFinalDf(df, knownDistinctTs)))(
      Runner.driverPool)
    val (prepared0, parts) = preparePartitionCols(df, partitionCols)
    val prepared = prepared0.drop(Readers.FileOrderCol)

    // A single-partition frame (the shape every single-series pipeline
    // export has) would write its whole parquet output on ONE task — a
    // scale-killer at 100 TB and a straggler even at bench scale. Range-
    // repartition on time so the write parallelizes while part-file order
    // still follows global time order (part-00000 < part-00001 ranges).
    val toWrite =
      if (parts.isEmpty && prepared.columns.contains(TsCol) &&
          prepared.rdd.getNumPartitions == 1)
        prepared.repartitionByRange(8, col(TsCol))
      else prepared
    val writer0 = toWrite.write.mode(writeMode)
      .option("compression", compression)
    val writer = rowGroupSize.fold(writer0)(n =>
      writer0.option("parquet.block.size", n))
    timed("ex_write")(
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
        .parquet(outPath))
    val valReport = Await.result(valReportF, Duration.Inf)

    var exportReport = Json.obj(
      "path" -> outPath,
      "compression" -> compression,
      "engine" -> "spark",
      "partition_cols" -> (if (parts.isEmpty) null else parts),
      "rows" -> valReport("rows"))
    exportReport ++= valReport
    exportReport ++= metadata

    val metaPath = Paths.get(outPath + ".meta.json")
    if (metaPath.getParent != null) Files.createDirectories(metaPath.getParent)
    Files.writeString(metaPath, Json.write(exportReport))

    // hash added AFTER the sidecar write — parity quirk (§2.2.7)
    val pre = (valReport("rows"), valReport("start"), valReport("end")) match {
      case (r: Long, s: String, e: String) => Some((r, s, e))
      case (r: Long, _, _) if r == 0L => Some((0L, "", ""))
      case _ => None
    }
    exportReport + ("content_hash" -> timed("ex_hash")(contentHash(df,
      if (df.columns.contains("OPEN")) Seq("OPEN", "CLOSE") else Nil, pre)))
  }

  /** Bucketed parquet sink for co-located joins: tables bucketed (and
    * sorted) the same way on the same key join WITHOUT a shuffle — the
    * scan's bucketing satisfies the join's required distribution, so a
    * repeated big-big join (fact-to-fact enrichment, incremental dedup
    * against yesterday's corpus) pays its exchange ONCE at write time
    * instead of on every query. Pick `numBuckets` so one bucket's rows fit
    * an executor core's working memory at target scale; co-join partners
    * MUST use the same count and keys (Spark only elides the exchange when
    * both sides' bucketing matches). Bucketed tables are catalog tables
    * (`saveAsTable`) — plain `.parquet(path)` files carry no bucket
    * metadata.
    */
  /** Scale-adaptive bucket count for a persisted-index write: one bucket
    * per `graft.index.bucket.bytes` (default 256 MB — the fanout gate's
    * granularity) of the BUILD INPUT's leaf scan volume, clamped to
    * [8, 4096] and rounded UP to a power of two (even splits under
    * bucket-pruned probes). The caller passes the RAW input frame (events
    * for the edge index, documents for the LSH index): the index rows
    * themselves have no trustworthy pre-shuffle estimate, but the input's
    * parquet footprint is a real number at every scale and the index size
    * tracks it. A fixed 32 was tuned for neither tier: at gate scale it
    * paid 32 tiny zstd files and 32-task probe stages (measured, order-
    * controlled back-to-back at sf0.1: write 1.8–3.1 s → 1.1–1.7 s,
    * triangle probe 1.4–4.0 s → 0.9–1.3 s at 8 buckets), while at a
    * multi-TB input 32 buckets would make GB-sized probe-side partitions
    * (production sizing: 10 TB of input → 4096 buckets ≈ 2.5 GB of raw
    * input per bucket ≈ tens of MB of edge rows each).
    */
  def adaptiveBuckets(input: DataFrame,
                      minBuckets: Int = 8, maxBuckets: Int = 4096): Int = {
    val target = sys.props.get("graft.index.bucket.bytes")
      .orElse(sys.env.get("GRAFT_INDEX_BUCKET_BYTES")).map(_.toLong)
      .getOrElse(1L << 28)
    val scan = graft.core.Sizing.leafScanBytes(input)
    val raw = math.max(1L, (scan + target - 1) / target)
    val clamped = math.min(maxBuckets.toLong,
      math.max(minBuckets.toLong, raw)).toInt
    // round up to a power of two
    var p = 1
    while (p < clamped) p <<= 1
    p
  }

  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil,
                    compression: String = "zstd",
                    writeMode: String = "overwrite"): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs bucket columns")
    val spark = df.sparkSession
    if (writeMode == "overwrite") {
      // `overwrite` only drops a table the CATALOG knows about. With the
      // default in-memory catalog a fresh JVM forgets every table, so
      // saveAsTable takes the create path and dies with
      // LOCATION_ALREADY_EXISTS when `spark-warehouse/<table>/` survives
      // from a previous session. Overwrite must therefore mean "replace
      // whatever is on disk": drop the catalog entry if present, then
      // clear the orphaned managed location.
      //
      // NOT atomic: the old table is gone before the new write starts, so
      // a failed write leaves neither. Fine for harness/test scratch
      // tables (every caller here); a durable deployment would write to a
      // temp table and swap names after the write commits.
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      dropManagedLocation(spark, table)
    }
    val w0 = df.drop(Readers.FileOrderCol).write.mode(writeMode)
      .option("compression", compression)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*)
            else w0
    w.format("parquet").saveAsTable(table)
  }

  /** Catalog-table twin of the path-based partitioned export: write `df`
    * PARTITIONED BY `partitionCols` as a managed parquet table. Scans that
    * filter on the partition columns with literals prune to the matching
    * directories only (`PartitionFilters` in the scan) — the layout the
    * persisted IVF index probes rely on. Same overwrite semantics (and the
    * same non-atomicity caveat) as `writeBucketed`.
    */
  def writePartitioned(df: DataFrame, table: String,
                       partitionCols: Seq[String],
                       compression: String = "zstd",
                       writeMode: String = "overwrite"): Unit = {
    require(partitionCols.nonEmpty, "partitioned write needs partition columns")
    val spark = df.sparkSession
    if (writeMode == "overwrite") {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      dropManagedLocation(spark, table)
    }
    df.drop(Readers.FileOrderCol).write.mode(writeMode)
      .option("compression", compression)
      .partitionBy(partitionCols: _*)
      .format("parquet").saveAsTable(table)
  }

  /** A managed table's default warehouse location (identifier lowercased,
    * default database — the layout Spark uses for `saveAsTable` without an
    * explicit path). Exposed for sidecar files that ride with the table.
    */
  def managedLocation(spark: org.apache.spark.sql.SparkSession,
                      table: String): org.apache.hadoop.fs.Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
  }

  /** Drop a bucketed table AND its on-disk location — the cleanup twin of
    * `writeBucketed` for harnesses/tests that must leave the warehouse
    * empty (DROP TABLE on the in-memory catalog does not touch files the
    * catalog never knew about).
    */
  def dropBucketed(spark: org.apache.spark.sql.SparkSession,
                   table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    dropManagedLocation(spark, table)
  }

  /** Delete a managed table's default warehouse directory if it exists
    * (identifier lowercased, default database — the layout Spark uses for
    * `saveAsTable` without an explicit path).
    */
  private def dropManagedLocation(spark: org.apache.spark.sql.SparkSession,
                                  table: String): Unit = {
    val loc = managedLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Serializes every export-log append in the process: concurrent files
    * in a batch share one log. */
  private val exportLogLock = new Object

  /** O21: append one JSON line per export; the entries land as one
    * contiguous block, in the order given. */
  def appendExportLog(logDir: String, entries: ListMap[String, Any]*): Unit =
    exportLogLock.synchronized {
      Files.createDirectories(Paths.get(logDir))
      Files.writeString(Paths.get(logDir, "export_log.ndjson"),
        entries.map(Json.write(_, indent = 0).replace("\n", " ") + "\n").mkString,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** The Morton (Z-order) key for two long columns already quantized to
    * 16 bits: bit i of `a` lands at bit 2i, bit i of `b` at 2i+1. Pure
    * bitwise column arithmetic — codegen'd, no UDF. */
  private def morton16(a: org.apache.spark.sql.Column,
                       b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Z-order clustering write: lay `df` out as `files` parquet files
    * sorted by the Morton interleave of two numeric columns, so a scan
    * with a BOX predicate (ranges on both columns) skips most files /
    * row groups on footer min-max stats. Linear sort clusters one
    * dimension perfectly and scatters the other across every file —
    * interleaving bounds locality in BOTH, which is the multi-dimensional
    * data-skipping lever at 100 TB (Delta/Iceberg OPTIMIZE ZORDER BY).
    *
    * Columns are min-max quantized to 16 bits first (two fixed-size
    * aggregate jobs); the write is `repartitionByRange` on the z-key +
    * in-partition sort, so file boundaries follow z-ranges. Value-neutral:
    * read-back rows are the input rows, only layout changes — the spec
    * asserts box-matching rows concentrate in strictly fewer files than a
    * linear layout of the same data.
    */
  def writeZOrdered(df: DataFrame, outPath: String, colA: String,
                    colB: String, files: Int): Unit = {
    val stats = df.agg(
      min(col(colA).cast("double")).as("na"), max(col(colA).cast("double")).as("xa"),
      min(col(colB).cast("double")).as("nb"), max(col(colB).cast("double")).as("xb"))
      .head()
    val (na, xa, nb, xb) = (stats.getDouble(0), stats.getDouble(1),
      stats.getDouble(2), stats.getDouble(3))
    def quant(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(65535L), floor((c.cast("double") - lo) / (hi - lo)
        * 65536.0).cast("long"))
    df.withColumn("_z", morton16(quant(col(colA), na, xa),
        quant(col(colB), nb, xb)))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(outPath)
  }

  /** Small-files compaction report. */
  final case class CompactReport(filesBefore: Int, filesAfter: Int,
                                 bytesBefore: Long, rows: Long)

  /** Compact a parquet dataset directory to ~`targetBytes` files — the
    * operational answer to the small-files problem every long-running
    * 100 TB pipeline accumulates (per-microbatch appends, per-key
    * partition writes): thousands of KB-sized files turn scan planning
    * and NameNode/listing into the bottleneck long before data volume
    * does.
    *
    * Mechanics: list the leaf data files (one driver-side FS listing —
    * the same metadata the scan planner reads), size the target file
    * count as ⌈Σbytes / targetBytes⌉, rewrite via `repartition(n)` into
    * a staging dir, then swap directories atomically-enough for a local
    * or object store (rename staged → final after moving the old aside,
    * delete old on success). Value-neutral: read-back rows equal input
    * rows (the spec pins count and content); only layout changes. When
    * the directory already has ≤ the target file count, this is a no-op
    * (returns the report without rewriting) — idempotence the caller's
    * scheduler relies on.
    *
    * Partition-pruned layouts: run per leaf directory (a `key=value`
    * tree compacts leaf-by-leaf, preserving pruning); this entry point
    * compacts ONE leaf.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetBytes: Long): CompactReport = {
    require(targetBytes > 0, "compact targetBytes must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    val files = fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val targetFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    if (files.length <= targetFiles) {
      val n = spark.read.parquet(dir).count()
      return CompactReport(files.length, files.length, bytes, n)
    }
    val staged = new org.apache.hadoop.fs.Path(dir + "._compact_staged")
    val old = new org.apache.hadoop.fs.Path(dir + "._compact_old")
    fs.delete(staged, true); fs.delete(old, true)
    val df = spark.read.parquet(dir)
    df.repartition(targetFiles.toInt)
      .write.mode("overwrite").parquet(staged.toString)
    val rows = spark.read.parquet(staged.toString).count()
    require(fs.rename(path, old), s"compact: could not move $dir aside")
    require(fs.rename(staged, path), s"compact: could not promote staging")
    fs.delete(old, true)
    val after = fs.listStatus(path).count(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    CompactReport(files.length, after, bytes, rows)
  }
}
