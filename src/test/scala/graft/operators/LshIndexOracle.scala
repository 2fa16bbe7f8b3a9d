package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted LSH index as it was before postings and signatures were
  * split: one row per (document, band) carrying the document's whole
  * signature — (`id`, `minhash`, `band`, `bh`), bucketed by (`band`, `bh`)
  * — and the probe that computes `est_jaccard` straight after the band
  * join from the two signatures on each row. Kept as the oracle the split
  * layout's probe must reproduce row for row, and as an index of the old
  * layout, which the split probe must refuse by name.
  */
object LshIndexOracle {

  def build(docs: DataFrame, table: String, idCol: String, textCol: String,
            numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 5,
            numBuckets: Int = 4, maxBucketSize: Int = 100000): Unit = {
    val sigs = Dedup.withMinHash(docs.select(col(idCol), col(textCol)), idCol,
        textCol, numHashes, bands, shingleSize)
      .select(col("id"), col("minhash"),
        posexplode(col("bands")).as(Seq("band", "bh")))
    val bw = Window.partitionBy("band", "bh").orderBy("id")
    val capped = sigs
      .withColumn("_bn", row_number().over(bw))
      .filter(col("_bn") <= maxBucketSize)
      .drop("_bn")
    Exporter.writeBucketed(capped, table, Seq("band", "bh"), numBuckets,
      sortCols = Seq("band", "bh", "id"))
  }

  def probe(spark: SparkSession, table: String, batch: DataFrame,
            idCol: String, textCol: String, numHashes: Int = 64,
            bands: Int = 16, shingleSize: Int = 5,
            threshold: Double = 0.5): DataFrame = {
    val idx = spark.table(table)
    val probe = Dedup.withMinHash(batch.select(col(idCol), col(textCol)), idCol,
        textCol, numHashes, bands, shingleSize)
      .select(col("id").as("probe_id"), col("minhash").as("_pm"),
        posexplode(col("bands")).as(Seq("band", "bh")))
    idx.join(probe, Seq("band", "bh"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"), col("id").as("index_id"),
        round(call_function("agree_count", col("_pm"), col("minhash"))
          .cast("double") / numHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("probe_id", "index_id")
  }
}
