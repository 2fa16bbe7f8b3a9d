package graft.operators

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest

import scala.collection.immutable.ListMap
import scala.concurrent.Await
import scala.concurrent.duration.{Duration, MINUTES}

import graft.core.{Json, Timing}
import graft.sources.Readers
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * Everything the driver touches is fixed-size: the validation
  * (least/greatest row-wise predicates folded into aggregates) is observed
  * on the write itself, and the hash collects ≤ 1000 rows of the output.
  */
object Exporter {

  val TsCol: String = Normalize.TsCol

  /** O18's validation aggregates: rows, stamp extent, null stamps and, for
    * an OHLC frame, the negative / OHLC-sanity flags. Plain aggregates only,
    * so they ride the export's write as a `Dataset.observe` observation.
    */
  private def validationAggs(ohlc: Boolean): Seq[Column] = {
    val ts = col(TsCol)
    val flags = if (!ohlc) Nil else {
      val Seq(o, h, l, c) = Seq("OPEN", "HIGH", "LOW", "CLOSE").map(col)
      Seq((o < 0 || h < 0 || l < 0 || c < 0) -> "_neg",
        (l > least(o, h, c)) -> "_invlow", (h < greatest(o, l, c)) -> "_invhigh")
        .map { case (p, n) => max(when(p, 1).otherwise(0)).as(n) }
    }
    Seq(count(lit(1)).as("_rows"), min(ts).as("_start"), max(ts).as("_end"),
      sum(when(ts.isNull, 1).otherwise(0)).as("_tsnull")) ++ flags
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

  /** Lightweight content hash (exporter.py:76-91): sha256 over row count,
    * index extent (already formatted) and the first 3 non-null values per
    * key among the first 1000 rows in (time, SYMBOL) order (beyond that the
    * reference's head(3) would be all-null anyway in any non-degenerate
    * frame; the series key SYMBOL, when present, breaks the ties of series
    * sharing a stamp, which part-file order would otherwise break
    * differently on every write). The samples come from ONE small read of
    * the parquet `files` an export just wrote under `outPath`, pruned to
    * the stamp, SYMBOL and the keys — never a re-run of the frame's
    * lineage. A SYMBOL partition column is read from the partition
    * directories.
    */
  private def contentHash(spark: SparkSession, rows: Long, start: String,
                          end: String, outPath: String, files: Seq[String],
                          schema: StructType, keys: Seq[String]): String = {
    val seriesKeys = Seq("SYMBOL").filter(schema.fieldNames.contains)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(rows.toString.getBytes)
    if (rows > 0) { md.update(start.getBytes); md.update(end.getBytes) }
    val head =
      if (rows == 0 || keys.isEmpty) Array.empty[Row]
      else spark.read.option("basePath", outPath)
        .schema(StructType((TsCol +: (seriesKeys ++ keys).distinct).map(schema(_))))
        .parquet(files: _*).orderBy((TsCol +: seriesKeys).map(col): _*)
        .select(keys.map(col): _*).limit(1000).collect()
    for (i <- keys.indices)
      md.update(head.iterator.filterNot(_.isNullAt(i)).map(_.get(i)).take(3)
        .mkString("[", ", ", "]").getBytes)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Parquet data files under `dir` (recursively, for partitioned
    * layouts); Spark's hidden `_`/`.` files are not data. */
  private def dataFiles(spark: SparkSession, dir: String): Set[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else {
      val it = fs.listFiles(path, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .map(_.toString).toSet
    }
  }

  /** O20: zstd parquet (+partitioning) with validation → sidecar JSON →
    * hash, as ONE write: the validation aggregates ride the write as a
    * `Dataset.observe` observation, so the frame's lineage runs once and
    * no caller needs to cache it. Validation is warn-only in the reference
    * (exporter.py:56-62), so measuring it during the write cannot change
    * any outcome. Beside the write runs only the hash's small read, plus a
    * distinct-count job when `knownDistinctTs = false` (a distinct count
    * cannot be observed).
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
    require(df.columns.contains(TsCol),
      s"$TsCol column required before export")
    val spark = df.sparkSession
    val (prepared0, parts) = preparePartitionCols(df, partitionCols)
    val prepared = prepared0.drop(Readers.FileOrderCol)

    val observation = Observation()
    val ohlc = Seq("OPEN", "HIGH", "LOW", "CLOSE").forall(df.columns.contains)
    val aggs = validationAggs(ohlc)
    val toWrite = prepared.observe(observation, aggs.head, aggs.tail: _*)
    val writer0 = toWrite.write.mode(writeMode)
      .option("compression", compression)
    val writer = rowGroupSize.fold(writer0)(n =>
      writer0.option("parquet.block.size", n))
    val before = dataFiles(spark, outPath)
    Timing.timed("ex_write")(
      (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
        .parquet(outPath))
    val added = (dataFiles(spark, outPath) -- before).toSeq
    // delivered on the listener bus after the write returns, normally within
    // milliseconds; the bound turns a lost event into an error, not a hang
    val observed = Await.result(observation.future, Duration(10, MINUTES))
    val rows = observed.getAs[Long]("_rows")
    val dups =
      if (knownDistinctTs || rows == 0) 0L
      else rows -
        prepared.agg(countDistinct(col(TsCol))).collect()(0).getLong(0) -
        (if (observed.getAs[Long]("_tsnull") > 0) 1 else 0)
    def stamp(c: String) =
      if (rows > 0) Reporting.fmtTs(observed.getAs[java.sql.Timestamp](c)) else null
    def flag(c: String) = observed.getAs[Int](c) == 1
    val (start, end) = (stamp("_start"), stamp("_end"))

    var exportReport = Json.obj(
      "path" -> outPath,
      "compression" -> compression,
      "engine" -> "spark",
      "partition_cols" -> (if (parts.isEmpty) null else parts),
      "rows" -> rows,
      "index_dtype" -> "datetime64[us, UTC]",
      "index_tz" -> "UTC",
      "duplicated_timestamps" -> dups)
    if (ohlc)
      exportReport ++= Json.obj(
        "negative_prices" -> flag("_neg"),
        "invalid_low" -> flag("_invlow"),
        "invalid_high" -> flag("_invhigh"))
    exportReport ++= Json.obj("start" -> start, "end" -> end)
    exportReport ++= metadata

    val metaPath = Paths.get(outPath + ".meta.json")
    if (metaPath.getParent != null) Files.createDirectories(metaPath.getParent)
    Files.writeString(metaPath, Json.write(exportReport))

    // hash added AFTER the sidecar write — parity quirk (§2.2.7)
    val keys = if (df.columns.contains("OPEN")) Seq("OPEN", "CLOSE")
                 .filter(df.columns.contains) else Nil
    exportReport + ("content_hash" -> Timing.timed("ex_hash")(
      contentHash(spark, rows, start, end, outPath, added, toWrite.schema,
        keys)))
  }

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
    bucketedWriter(df, bucketCols, numBuckets, sortCols, compression, writeMode)
      .saveAsTable(table)
  }

  private def bucketedWriter(df: DataFrame, bucketCols: Seq[String],
                             numBuckets: Int, sortCols: Seq[String],
                             compression: String, writeMode: String) = {
    val w0 = df.drop(Readers.FileOrderCol).write.mode(writeMode)
      .option("compression", compression)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*)
            else w0
    w.format("parquet")
  }

  /** Catalog name of the sidecar table `name` of the table `owner`. */
  def sidecarTable(owner: String, name: String): String = s"${owner}__$name"

  /** A bucketed SIDECAR of the managed table `owner`: written like
    * [[writeBucketed]] (same bucketing, sorting and overwrite semantics),
    * but as the external table [[sidecarTable]]`(owner, name)` whose files
    * live in `_sidecars/<name>/` inside `owner`'s managed location. The
    * underscore hides them from `owner`'s own scans (the
    * `_ivf_codebook.json` convention) while the sidecar's own root stays
    * visible to its scan; [[dropBucketed]] on `owner`, or an overwrite of it,
    * deletes the files and drops the sidecar's catalog entry with them; a
    * size count of `owner`'s directory counts them. Write `owner` first:
    * Spark refuses to create a managed table in a non-empty location.
    */
  def writeBucketedSidecar(df: DataFrame, owner: String, name: String,
                           bucketCols: Seq[String], numBuckets: Int,
                           sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs bucket columns")
    val spark = df.sparkSession
    val table = sidecarTable(owner, name)
    val path = new Path(new Path(managedLocation(spark, owner), "_sidecars"), name)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    bucketedWriter(df, bucketCols, numBuckets, sortCols, "zstd", "overwrite")
      .option("path", path.toString).saveAsTable(table)
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

  /** Drop a bucketed table AND its on-disk location, sidecars included
    * ([[writeBucketedSidecar]]) — the cleanup twin of `writeBucketed` for
    * harnesses/tests that must leave the warehouse empty (DROP TABLE on
    * the in-memory catalog does not touch files the catalog never knew
    * about).
    */
  def dropBucketed(spark: org.apache.spark.sql.SparkSession,
                   table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    dropManagedLocation(spark, table)
  }

  /** Delete a managed table's default warehouse directory if it exists
    * (identifier lowercased, default database — the layout Spark uses for
    * `saveAsTable` without an explicit path), first dropping its sidecars
    * ([[sidecarTable]]-named tables of that database stored inside it):
    * their files go with the directory, so their entries would otherwise
    * dangle. Only the sidecar-named tables are looked up.
    */
  private def dropManagedLocation(spark: org.apache.spark.sql.SparkSession,
                                  table: String): Unit = {
    val loc = managedLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inside = fs.makeQualified(loc).toString.stripSuffix("/") + "/"
    val prefix = sidecarTable(table, "").toLowerCase
    val catalog = spark.sessionState.catalog
    // a table listed here may be dropped concurrently before its lookup
    def locationOf(t: org.apache.spark.sql.catalyst.TableIdentifier) =
      scala.util.Try(catalog.getTableMetadata(t).storage.locationUri).toOption.flatten
    catalog.listTables("default")
      .filter(t => t.database.isDefined && t.table.startsWith(prefix))
      .filter(t => locationOf(t).exists(u =>
        fs.makeQualified(new Path(u)).toString.startsWith(inside)))
      .foreach(catalog.dropTable(_, ignoreIfNotExists = true, purge = false))
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
