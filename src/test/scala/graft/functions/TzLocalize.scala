package graft.functions

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** DST-strict timezone localization (SURVEY.md §7.4).
  *
  * pandas `tz_localize(tz, ambiguous="NaT", nonexistent="shift_forward")`
  * (reference: src/etl/transform/normalize.py:183-196):
  *  - ambiguous fall-back wall times → NaT (null), row retained;
  *  - nonexistent spring-forward wall times → shifted to the end of the gap;
  *  - normal wall times → the unique instant.
  *
  * Spark's built-in `to_utc_timestamp` silently resolves both cases. The
  * engine evaluates this with the codegen expression
  * `graft.plans.TzLocalizeExpr`; this `java.time` UDF is the independent
  * oracle TzLocalizeSpec checks it against.
  *
  * Input convention: the naive wall time arrives as a TimestampType whose
  * UTC rendering equals the wall-clock reading (how Spark parses tz-less
  * strings under a UTC session timezone).
  */
object TzLocalize {

  def localizeInstant(wallUtc: Instant, zone: ZoneId): Option[Instant] = {
    val ldt = LocalDateTime.ofInstant(wallUtc, ZoneOffset.UTC)
    val rules = zone.getRules
    val offsets = rules.getValidOffsets(ldt)
    offsets.size match {
      case 1 => Some(ldt.toInstant(offsets.get(0)))
      case 0 => // spring-forward gap: shift to the first valid instant after it
        val t = rules.getTransition(ldt)
        Some(t.getDateTimeAfter.toInstant(t.getOffsetAfter))
      case _ => None // ambiguous fall-back: NaT
    }
  }

  val localizeUdf: UserDefinedFunction =
    udf((ts: Timestamp, zone: String) =>
      if (ts == null || zone == null) null
      else
        localizeInstant(ts.toInstant, ZoneId.of(zone))
          .map(Timestamp.from)
          .orNull)

  /** Column form: naive wall-time column + zone id → UTC instant (null when
    * ambiguous).
    */
  def localize(wall: Column, zone: String): Column =
    localizeUdf(wall, org.apache.spark.sql.functions.lit(zone))
}
