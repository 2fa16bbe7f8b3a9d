package graft.sources

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File ingestion (reference operators O1–O4: src/etl/extract/).
  *
  * Per-file isolation happens on the driver: a failing file is logged as
  * quarantined and skipped (reference: extractor.py:56-59), never failing
  * the batch. At 100 TB the per-file loop collapses into one
  * `spark.read` over a glob with `input_file_name()` provenance and
  * PERMISSIVE corrupt-record columns for row-level quarantine — the
  * per-file API below is the reference-parity surface.
  */
object Readers {

  /** Ingestion-order column used for dedup keep-first parity
    * (SURVEY.md §2.2.6). `monotonically_increasing_id` is deterministic for
    * a fresh file scan (partition-ordinal << 33 | row-in-partition), which
    * is exactly the in-file order for single-file reads; it is captured at
    * read time, before any shuffle can reorder rows.
    */
  val FileOrderCol = "_in_file_order"

  /** Extension → format dispatch (reference: file_detector.py:5-11).
    * `.json` counts as NDJSON: document corpora ship JSON-lines under
    * both suffixes, and Spark's json source is line-delimited by default.
    */
  def detectFileType(path: String): String = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) "csv"
    else if (lower.endsWith(".parquet")) "parquet"
    else if (lower.endsWith(".ndjson") || lower.endsWith(".jsonl") ||
      lower.endsWith(".json")) "ndjson"
    else if (lower.endsWith(".orc")) "orc"
    else throw new IllegalArgumentException(s"Unsupported file type: $path")
  }

  /** `release()` drops the read-time cache (CSV corrupt scan) once the
    * consumer has materialized its derived frame; later actions recompute
    * from the file with identical semantics (the quarantine filter is in
    * the plan), just without the cache.
    */
  final case class ReadResult(df: DataFrame, meta: ListMap[String, Any],
                              filename: String,
                              release: () => Unit = () => ())

  /** CSV source with ROW-level quarantine (the O1 scale note): rows that
    * fail the schema are counted into the read metadata (`corrupt_rows`)
    * and dropped, instead of poisoning the frame or failing the batch —
    * the first thing a dirty 100 TB CSV drop hits.
    *
    * What counts as corrupt follows the schema's provenance:
    *  - `schema` DECLARED (the production ingestion contract at scale):
    *    rows whose values fail typed conversion quarantine;
    *  - schema INFERRED (the reference-parity default): inference widens a
    *    dirty column to string, so value badness flows to Normalize's
    *    `try_cast` null-coercion with a report counter — exactly pandas
    *    `to_numeric(errors="coerce")` — and only parser-level breakage
    *    quarantines. (Spark's CSV parser never treats token-count mismatch
    *    as corrupt: short rows null-fill, long rows drop extra tokens.)
    * File-level quarantine (unreadable/unsupported files,
    * extractor.py:56-59) stays in `loadAll`.
    *
    * The metadata counts are eager (the reference reads eagerly too) and
    * ONE cached PERMISSIVE+corrupt-column scan serves everything: the
    * cache build parses every field once (caching materializes whole rows,
    * so the parser converts every column and populates the corrupt column
    * regardless of downstream pruning — which also satisfies Spark's
    * corrupt-column-only query restriction), one RDD pass that fills it
    * takes both the total and the corrupt count, and the RETURNED frame's
    * first materialization reads it too
    * — the caller drops it via `ReadResult.release()` afterwards. The
    * returned frame filters on the corrupt column behind an RDD barrier:
    * the barrier references every field, so the row set is identical under
    * any downstream projection (with plain DROPMALFORMED, pruning would
    * silently re-admit a bad row whenever the dirty column wasn't
    * selected) and bare `count()`-style queries stay legal. Pruning/
    * pushdown into a CSV parse is worthless anyway — the line must be read
    * and split regardless.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None)
      : ReadResult = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val applied = schema.getOrElse(spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
      .schema)
    val corruptScan = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(StructType(applied.fields :+
        org.apache.spark.sql.types.StructField(CorruptCol, StringType)))
      .csv(path)
      .cache()
    withoutCorruptRows(spark, corruptScan, path, "csv")
  }

  /** The clean rows of a cached PERMISSIVE scan, behind the
    * projection-proof barrier, with the total and corrupt counts from ONE
    * pass over the scan's RDD — the job that fills the cache, and the only
    * parse.
    */
  private def withoutCorruptRows(spark: SparkSession, corruptScan: DataFrame,
                                 path: String, format: String): ReadResult = {
    // (total, corrupt) per partition from one pass over the scan's own RDD:
    // the job fills the cache without an aggregate plan to compile
    val corruptIdx = corruptScan.schema.fieldIndex(CorruptCol)
    val (totalRows, corruptRows) = corruptScan.queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L; var bad = 0L
        while (it.hasNext) { if (!it.next().isNullAt(corruptIdx)) bad += 1; n += 1 }
        Iterator((n, bad))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (n, c)) => (a + n, b + c) }
    val clean = corruptScan.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val df = spark
      .createDataFrame(clean.rdd, clean.schema) // projection-proof barrier
      .withColumn(FileOrderCol, monotonically_increasing_id())
    ReadResult(df,
      meta(df, path, format, totalRows - corruptRows) +
        ("corrupt_rows" -> corruptRows),
      baseName(path),
      release = () => corruptScan.unpersist())
  }

  /** Name of the transient PERMISSIVE corrupt-record column. */
  val CorruptCol = "_graft_corrupt_record"

  /** NDJSON (JSON-lines) source with the same PERMISSIVE row-quarantine
    * contract as [[readCsv]]: malformed lines land in the corrupt-record
    * column and are counted, clean rows flow on with file order captured.
    * The standard interchange format for document corpora (one JSON doc
    * per line splits on newlines, so a 100 TB dump scan-parallelizes
    * exactly like CSV — no whole-file JSON parse).
    *
    * Schema follows the CSV contract: DECLARED (production ingestion —
    * pass it) or INFERRED when absent (first-contact reads; same
    * two-scan pattern as [[readCsv]] — an inference pre-pass, then the
    * quarantining PERMISSIVE scan). Inference on a dirty file surfaces
    * Spark's default corrupt-record column; it is stripped from the
    * inferred schema so quarantine stays on [[CorruptCol]].
    */
  def readNdjson(spark: SparkSession, path: String,
                 schema: Option[org.apache.spark.sql.types.StructType] = None)
      : ReadResult = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val inferredCorrupt =
      spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")
    val applied = schema.getOrElse(StructType(spark.read.json(path).schema
      .fields.filterNot(_.name == inferredCorrupt)))
    val corruptScan = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(StructType(applied.fields :+
        org.apache.spark.sql.types.StructField(CorruptCol, StringType)))
      .json(path)
      .cache()
    withoutCorruptRows(spark, corruptScan, path, "ndjson")
  }

  def readParquet(spark: SparkSession, path: String): ReadResult = {
    val base = spark.read.parquet(path)
    // zero-column count: answered from footer row counts, no data pages
    val rows = base.count()
    val df = base.withColumn(FileOrderCol, monotonically_increasing_id())
    ReadResult(df, meta(df, path, "parquet", rows), baseName(path))
  }

  /** ORC source — the other columnar interchange format warehouses hand
    * over. Same contract as [[readParquet]]: schema from the file footer,
    * stripe-level row counts answer the count, vectorized scan with
    * pushdown/pruning from the stock datasource.
    */
  def readOrc(spark: SparkSession, path: String): ReadResult = {
    val base = spark.read.orc(path)
    val rows = base.count()
    val df = base.withColumn(FileOrderCol, monotonically_increasing_id())
    ReadResult(df, meta(df, path, "orc", rows), baseName(path))
  }

  def read(spark: SparkSession, path: String): ReadResult =
    detectFileType(path) match {
      case "csv"     => readCsv(spark, path)
      case "parquet" => readParquet(spark, path)
      case "ndjson"  => readNdjson(spark, path)
      case "orc"     => readOrc(spark, path)
    }

  /** Reader metadata; field set mirrors the reference's sidecar
    * (csv_reader.py:29-35: rows/columns/path/status/type — `rows` is the
    * CLEAN row count, the reference's `len(df)` after a successful read).
    */
  private def meta(df: DataFrame, path: String, format: String,
                   rows: Long): ListMap[String, Any] =
    ListMap(
      "path" -> path,
      "format" -> format,
      "rows" -> rows,
      "columns" -> df.columns.filterNot(_ == FileOrderCol).toSeq,
      "status" -> "ok")

  private def baseName(path: String): String = {
    val n = new java.io.File(path).getName
    n.lastIndexOf('.') match {
      case -1 => n
      case i  => n.substring(0, i)
    }
  }

  /** File-provenance column added by [[loadGlob]]. */
  val SourceFileCol = "_source_file"

  /** O1 at 100 TB: ONE `spark.read` over the whole drop directory instead
    * of a driver-side per-file loop — a million-file listing never
    * serializes through driver `listFiles`, splits parallelize across the
    * cluster, and small files coalesce per `maxPartitionBytes`. Provenance
    * rides as a `_source_file` column (`input_file_name`), so per-file
    * lineage/reporting becomes a groupBy instead of a loop. In-file order
    * capture is unchanged (`monotonically_increasing_id` at scan time,
    * ascending within every file — dedup keep-first semantics hold per
    * file).
    *
    * For CSV, pass the declared ingestion `schema` (one scan cannot
    * reconcile heterogeneous headers — heterogeneous drops stay on
    * `loadAll`, the reference-parity per-file surface) and malformed rows
    * drop at the source (DROPMALFORMED, same row-quarantine contract as
    * `readCsv` — count them by comparing against a PERMISSIVE count when
    * the audit needs the number).
    */
  def loadGlob(spark: SparkSession, path: String, format: String = "csv",
               schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val base = format match {
      case "csv" =>
        val r = spark.read.option("header", "true").option("mode", "DROPMALFORMED")
        schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
      case "parquet" => spark.read.parquet(path)
      case "ndjson" | "json" | "jsonl" =>
        // JSON-lines glob — the most common large-corpus drop layout.
        // Same malformed-row contract as CSV; schema inference is one
        // extra scan, so production globs should declare the schema.
        val r = spark.read.option("mode", "DROPMALFORMED")
        schema.fold(r)(r.schema).json(path)
      case "orc" => spark.read.orc(path)
      case other =>
        throw new IllegalArgumentException(s"Unsupported glob format: $other")
    }
    base
      .withColumn(SourceFileCol, input_file_name())
      .withColumn(FileOrderCol, monotonically_increasing_id())
  }

  /** Directory scan + dispatch with per-file quarantine (O1). */
  final case class ScanResult(loaded: Seq[ReadResult], quarantined: Seq[(String, String)])

  def loadAll(spark: SparkSession, rawDir: String): ScanResult = {
    val results = listFiles(rawDir).map(readOrQuarantine(spark, _))
    ScanResult(
      loaded = results.collect { case Right(r) => r },
      quarantined = results.collect { case Left(q) => q })
  }

  /** The regular files directly under `rawDir`, in sorted path order. */
  def listFiles(rawDir: String): Seq[String] =
    Option(new java.io.File(rawDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath).sorted.toSeq

  /** Reads one file; a file that fails to read is quarantined as
    * (path, message) instead of failing the batch (extractor.py:56-59).
    */
  def readOrQuarantine(spark: SparkSession,
                       path: String): Either[(String, String), ReadResult] =
    try Right(read(spark, path))
    catch { case e: Exception => Left(path -> e.getMessage) }
}
