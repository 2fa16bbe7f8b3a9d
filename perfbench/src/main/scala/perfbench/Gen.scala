package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, host-invariant inputs. Every value is a pure function of
  * (seed, row id, stream) — a SplitMix64 hash, never a per-partition random
  * stream — so one seed gives byte-identical inputs at any core count or
  * partitioning.
  */
object Gen {

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, id: Long, stream: Int): Long =
    mix(mix(mix(seed) ^ id) + stream)

  /** Uniform in [0, 1). */
  def u01(seed: Long, id: Long, stream: Int): Double =
    (hash(seed, id, stream) >>> 11) * (1.0 / (1L << 53))

  /** Standard normal (Box–Muller over two hashed uniforms). */
  def gauss(seed: Long, id: Long, stream: Int): Double = {
    val u1 = math.max(u01(seed, id, stream), 1e-300)
    val u2 = u01(seed, id, stream + 7919)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  // ---- OHLCV (FIXTURES.md §3 shape) ---------------------------------------

  val T0: Long = 1672531200L // 2023-01-01T00:00:00Z

  /** One 1-minute bar: (open, high, low, close, volume). The price level is
    * a seeded sum of slow sinusoids plus N(0, 1e-4) noise — a hash-local
    * stand-in for the fixture's cumulative random walk.
    */
  def bar(seed: Long, id: Long): (Double, Double, Double, Double, Double) = {
    val ph1 = u01(seed, -1, 1) * 2 * math.Pi
    val ph2 = u01(seed, -1, 2) * 2 * math.Pi
    val open = 1.10 + 0.004 * math.sin(id / 9973.0 + ph1) +
      0.002 * math.sin(id / 613.0 + ph2) + 1e-4 * gauss(seed, id, 10)
    val high = open + math.abs(5e-5 * gauss(seed, id, 11))
    val low = open - math.abs(5e-5 * gauss(seed, id, 12))
    val close = open + 3e-5 * gauss(seed, id, 13)
    val volume = 1.0 + math.floor(u01(seed, id, 14) * 499)
    (open, high, low, close, volume)
  }

  /** ~1 % of rows removed independently; the first and last grid rows are
    * always kept so every export spans the whole grid.
    */
  def keepSparse(seed: Long, id: Long, gridRows: Long): Boolean =
    id == 0 || id == gridRows - 1 || u01(seed, id, 20) >= 0.01

  /** ~5 % of rows removed in runs of 1–120 minutes: every grid row starts a
    * gap with probability `GapStart` and a hashed length; a row is removed
    * when a gap starting within the previous 120 rows still covers it.
    */
  private val GapStart = 0.00085
  def keepGapped(seed: Long, id: Long, gridRows: Long): Boolean = {
    if (id == 0 || id == gridRows - 1) return true
    var s = math.max(0L, id - 119)
    while (s <= id) {
      if (u01(seed, s, 30) < GapStart &&
          1 + (u01(seed, s, 31) * 120).toLong > id - s) return false
      s += 1
    }
    true
  }

  /** The single-symbol frame of the `ohlcv_pipeline` workload, built in
    * Spark from `range` so the plan keeps Catalyst size estimates (the
    * pipeline's Sizing policy reads them).
    */
  def ohlcvFrame(spark: SparkSession, seed: Long, gridRows: Long): DataFrame = {
    val barUdf = udf((id: Long) => bar(seed, id))
    val keepUdf = udf((id: Long) => keepSparse(seed, id, gridRows))
    spark.range(gridRows)
      .filter(keepUdf(col("id")))
      .select(col("id"), barUdf(col("id")).as("b"))
      .select(
        timestamp_seconds(lit(T0) + col("id") * 60).as("timestamp"),
        col("b._1").as("open"), col("b._2").as("high"),
        col("b._3").as("low"), col("b._4").as("close"),
        col("b._5").as("volume"), lit("EURUSD").as("symbol"))
  }

  /** Writes `files` per-symbol CSVs (naive `yyyy-MM-dd HH:mm:ss` stamps,
    * the assume-UTC path) into `dir`. Returns (rows written, CRC32 of the
    * bytes in file-name order).
    */
  def writeCsvs(dir: Path, seed: Long, files: Int, gridRows: Long): (Long, Long) = {
    Files.createDirectories(dir)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val crc = new java.util.zip.CRC32()
    var rows = 0L
    for (f <- 0 until files) {
      val fileSeed = hash(seed, f, 40)
      val sym = f"S$f%02dUSD"
      val sb = new java.lang.StringBuilder(64 * gridRows.toInt + 64)
      sb.append("timestamp,open,high,low,close,volume,symbol\n")
      var id = 0L
      while (id < gridRows) {
        if (keepGapped(fileSeed, id, gridRows)) {
          val (o, h, l, c, v) = bar(fileSeed, id)
          sb.append(fmt.format(java.time.Instant.ofEpochSecond(T0 + id * 60)))
            .append(String.format(Locale.ROOT, ",%.6f,%.6f,%.6f,%.6f,%.0f,",
              Double.box(o), Double.box(h), Double.box(l), Double.box(c),
              Double.box(v)))
            .append(sym).append('\n')
          rows += 1
        }
        id += 1
      }
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      crc.update(bytes)
      Files.write(dir.resolve(s"${sym}_1m.csv"), bytes)
    }
    (rows, crc.getValue)
  }

  // ---- documents and embeddings --------------------------------------------

  /** Document kinds: ~10 % exact copies, ~10 % near copies, the rest
    * originals. A copy's source is an original document.
    */
  val Original = 0; val ExactCopy = 1; val NearCopy = 2
  def docKind(seed: Long, id: Long): Int = {
    val u = u01(seed, id, 50)
    if (u < 0.10) ExactCopy else if (u < 0.20) NearCopy else Original
  }
  def docSource(seed: Long, id: Long, n: Long): Long = {
    var s = (u01(seed, id, 51) * n).toLong
    while (docKind(seed, s) != Original) s = (s + 1) % n
    s
  }

  private val Stopwords = Array("the", "and", "of", "to", "in", "is", "that",
    "for", "with", "as", "on", "by")
  private val Syll = Array("ka", "lo", "mi", "ren", "tas", "vo", "quel", "dan",
    "pri", "sol", "ter", "nu", "bex", "cor", "fin", "gal")
  /** A 4096-word synthetic vocabulary: 2–4 syllables per word. */
  private val Vocab: Array[String] = Array.tabulate(4096) { i =>
    val n = 2 + i % 3
    (0 until n).map(k => Syll((i >>> (4 * k)) & 15)).mkString + (i % 7).toString
      .replace("0", "")
  }

  private def word(seed: Long, doc: Long, pos: Int): String = {
    val u = u01(seed, doc * 1024 + pos, 52)
    if (u < 0.3) Stopwords((u * 40).toInt % Stopwords.length)
    else Vocab((hash(seed, doc * 1024 + pos, 53) >>> 1).toInt & 4095)
  }

  /** Original text of `doc`: 60–200 tokens. */
  private def originalTokens(seed: Long, doc: Long): Array[String] = {
    val len = 60 + (u01(seed, doc, 54) * 141).toInt
    Array.tabulate(len)(p => word(seed, doc, p))
  }

  /** Near copy: 2–4 % of the source's tokens replaced (at least one). */
  def docText(seed: Long, id: Long, n: Long): String = docKind(seed, id) match {
    case Original => originalTokens(seed, id).mkString(" ")
    case ExactCopy => originalTokens(seed, docSource(seed, id, n)).mkString(" ")
    case _ =>
      val toks = originalTokens(seed, docSource(seed, id, n))
      val rate = 0.02 + 0.02 * u01(seed, id, 55)
      val edits = math.max(1, math.round(toks.length * rate).toInt)
      for (e <- 0 until edits) {
        val p = (u01(seed, id * 64 + e, 56) * toks.length).toInt
        toks(p) = "edit" + (hash(seed, id * 64 + e, 57) >>> 40).toString
      }
      toks.mkString(" ")
  }

  private val Langs = Array("en", "de", "es", "fr", "zh")

  /** `documents`-shaped frame: doc_id, text, lang, source, n_chars. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val textUdf = udf((id: Long) => docText(seed, id, n))
    val langUdf = udf((id: Long) => Langs(((hash(seed, id, 58) >>> 1) % 5).toInt))
    spark.range(n)
      .select(col("id").as("doc_id"), textUdf(col("id")).as("text"),
        langUdf(col("id")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Embedding kinds: ~10 % planted near-duplicates of an earlier-drawn
    * original (cosine ≈ 0.99); the rest scatter around 32 cluster centres.
    */
  val Dim = 64
  def vecIsCopy(seed: Long, id: Long): Boolean = u01(seed, id, 60) < 0.10
  def vecSource(seed: Long, id: Long, n: Long): Long = {
    var s = (u01(seed, id, 61) * n).toLong
    while (vecIsCopy(seed, s)) s = (s + 1) % n
    s
  }
  private def baseVector(seed: Long, id: Long): Array[Double] = {
    val c = (hash(seed, id, 62) >>> 1) % 32
    Array.tabulate(Dim)(d =>
      gauss(seed, -100 - c * Dim - d, 63) / 8.0 + 0.15 * gauss(seed, id * Dim + d, 64))
  }
  def vector(seed: Long, id: Long, n: Long): Array[Double] =
    if (!vecIsCopy(seed, id)) baseVector(seed, id)
    else {
      val v = baseVector(seed, vecSource(seed, id, n))
      Array.tabulate(Dim)(d => v(d) + 0.01 * gauss(seed, id * Dim + d, 65))
    }

  /** `embeddings`-shaped frame: vec_id, embedding (array<double>), label. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vecUdf = udf((id: Long) => vector(seed, id, n).toSeq)
    spark.range(n)
      .select(col("id").as("vec_id"), vecUdf(col("id")).as("embedding"),
        ((col("id") * 7) % 10).cast("int").as("label"))
  }

  /** Order-independent content checksum of a frame: (rows, sum of per-row
    * xxhash64 mod 2^31 − 1), rendered as hex.
    */
  def checksum(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(2147483647L))),
        lit(0L))).collect()(0)
    (r.getLong(0), java.lang.Long.toHexString(r.getLong(1)))
  }
}
