package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Higher-order-function oracles for the native LSH, IVF, k-means and
  * MinHash kernels (graft.plans): each is the composable form the engine
  * ran before the kernel replaced it, kept here as an independent
  * statement of the semantics the kernels must reproduce bit for bit —
  * accumulation order, null and length-mismatch behaviour included.
  */
object VectorOracles {

  /** v · plane as `aggregate(zip_with(...))`: `acc + x·y` from 0.0. */
  private def dotLit(v: Column, plane: Seq[Double]): Column =
    aggregate(zip_with(v, array(plane.map(lit): _*), (x, y) => x * y),
      lit(0.0), (acc, p) => acc + p)

  /** Per-band packed hyperplane sign words, as `array<bigint>`. */
  def lshSignatures(vec: Column, planes: Seq[Seq[Double]],
                    bitsPerBand: Int): Column =
    array((0 until planes.length / bitsPerBand).map { b =>
      (0 until bitsPerBand).map { i =>
        when(dotLit(vec, planes(b * bitsPerBand + i)) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
    }: _*)

  /** The `nProbe` nearest centroid ids: `array_sort` over
    * `struct(squared L2, idx)`.
    */
  def probeLists(qe: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (cen, i) =>
      struct(
        aggregate(zip_with(qe, array(cen.map(lit): _*),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, p) => acc + p).as("d"),
        lit(i).as("i"))
    }: _*)
    transform(slice(array_sort(scored), 1, nProbe), s => s.getField("i"))
  }

  /** Elementwise mean of an array column: one `avg(v[i])` per position. */
  def transformAvg(vec: Column, dim: Int): Column =
    array((0 until dim).map(i => avg(vec.getItem(i))): _*)

  /** The k-means update step as `transformAvg` per assigned cluster:
    * (`c`, `m`) rows over the vector column `_v`.
    */
  def lloydUpdate(vecs: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    vecs.withColumn("c",
        Similarity.nearestCentroid(vecs.sparkSession, col("_v"), centroids))
      .groupBy("c")
      .agg(transformAvg(col("_v"), centroids.head.length).as("m"))

  /** LSH band hashes: `xxhash64(concat_ws(",", slice(...)), b)` per band. */
  def bandHashes(minhash: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",", slice(minhash, b * rows + 1, rows)), lit(b))
    }: _*)

  /** Positions where two signatures agree, via `zip_with` + `filter`. */
  def agreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      v => v === 1))

  /** Per-token `xxhash64`, optionally reduced `pmod p`. */
  def tokenHashes(tokens: Column, p: Option[Long]): Column =
    transform(tokens, t => p.fold(xxhash64(t))(m => pmod(xxhash64(t), lit(m))))
}
