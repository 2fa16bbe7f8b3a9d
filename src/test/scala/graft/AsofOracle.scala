package graft

import org.apache.spark.sql.SparkSession

/** Independent oracle for `AsofJoin.asof`, by brute force on the driver:
  * for one left row, the right row of its key with the latest stamp at or
  * before it (backward) or the earliest at or after it (forward), dropped
  * when it lies more than `toleranceUs` away. Layout-agnostic by
  * construction. Right stamps must be distinct per key: two right rows on
  * one stamp have no defined winner.
  */
object AsofOracle {

  def attach[K, V](key: K, tsUs: Long, right: Seq[(K, Long, V)],
                   backward: Boolean = true,
                   toleranceUs: Option[Long] = None): Option[V] = {
    val eligible = right.filter(q => q._1 == key &&
      (if (backward) q._2 <= tsUs else q._2 >= tsUs))
    val best =
      if (eligible.isEmpty) None
      else Some(if (backward) eligible.maxBy(_._2) else eligible.minBy(_._2))
    best.filter(q => toleranceUs.forall(math.abs(q._2 - tsUs) <= _)).map(_._3)
  }

  def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L

  /** A session of the shared context whose exchanges keep `partitions`
    * partitions: AQE off, since it would coalesce a KB-sized fixture's
    * range shuffle into one partition (the right call in production,
    * useless for a boundary test).
    */
  def session(spark: SparkSession, partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }
}
