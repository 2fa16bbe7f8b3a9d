package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** Narrow bridge into Spark's `private[sql]` surface, the standard shim
  * pattern of open-source Spark connectors (Delta, Iceberg, Sedona all
  * ship an `org.apache.spark.sql.*` package for exactly this): a file in
  * a `sql` subpackage may call `private[sql]` members, so the engine can
  * hand an `RDD[InternalRow]` back to Catalyst without detouring through
  * the external `Row` encoder.
  *
  * This is what makes the carry scans ([[graft.operators.RangeScan]])
  * allocation-free at the boundaries: `Dataset.queryExecution.toRdd` is
  * public, but the only public return path (`createDataFrame(RDD[Row])`)
  * would re-box every field of every row through the encoder — measured
  * as tens of seconds of pure GC per pipeline at the 60M-row probe scale.
  *
  * Keep this object MINIMAL: one constructor, one block release and one
  * listener-bus drain, no logic. Anything clever belongs on the graft side of the boundary.
  */
object GraftSqlBridge {

  /** Wrap an `RDD[InternalRow]` whose rows already match `schema` into a
    * DataFrame (Catalyst `LogicalRDD`), without encoder round-trips. The
    * caller owns row safety: rows must be immutable-once-emitted (fresh or
    * copied, never the scan's reused buffer row).
    */
  def internalCreateDataFrame(spark: SparkSession,
                              rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rdd, schema)

  /** Drops the cached or locally checkpointed blocks of `rdd`.
    * `RDD.unpersist` does the same but warns, for a locally checkpointed
    * RDD, that its lineage cannot be recomputed — true and expected for a
    * snapshot released on purpose.
    */
  def release(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)

  /** Waits (at most `timeoutMs`) until every event posted so far has been
    * delivered to the session's listeners — after an action returns, its
    * `Dataset.observe` results are then either delivered or were never
    * produced.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
