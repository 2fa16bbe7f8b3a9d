package graft

import scala.collection.immutable.ListMap

import graft.core.GraftConfig
import graft.operators.Normalize
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Ports of the reference's normalization assertions
  * (tests/test_transform_normalize.py, test_phase5_normalization.py,
  * FIXTURES.md §1).
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private val cmap = GraftConfig.defaultColumnsMap
  private val required = Seq("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE")

  private def csvDf(rows: Seq[(String, String, String, String, String)]) =
    rows.toDF("timestamp", "open", "high", "low", "close")

  test("sample_ok: rename to canonical, numeric, UTC, sorted") {
    val df = csvDf(Seq(
      ("2024-01-01 00:01:00", "1.1002", "1.1008", "1.1001", "1.1006"),
      ("2024-01-01 00:00:00", "1.1000", "1.1005", "1.0995", "1.1002")))
    val res = Normalize(df, cmap, required, sourceTz = None)
    val out = res.df
    assert(out.columns.toSet ==
      Set("TIMESTAMP", "OPEN", "HIGH", "LOW", "CLOSE"))
    assert(out.schema("OPEN").dataType == DoubleType)
    assert(out.schema("TIMESTAMP").dataType == TimestampType)
    val ts = out.select("TIMESTAMP").as[java.sql.Timestamp].collect()
    assert(ts.toSeq == ts.sorted.toSeq, "sorted by time")
    assert(out.count() == 2)
    val dt = res.report("datetime").asInstanceOf[ListMap[String, Any]]
    assert(dt("tz_action") == "localized_to_UTC_assumed")
    assert(dt("needs_review") == true)
  }

  test("sample_duplicates: dedup keep-first in file order") {
    val df = csvDf(Seq(
      ("2024-01-01 00:00:00", "1.0", "1.2", "0.9", "1.1"),
      ("2024-01-01 00:00:00", "9.0", "9.2", "8.9", "9.1"),
      ("2024-01-01 00:01:00", "1.1", "1.3", "1.0", "1.2")))
    val res = Normalize(df, cmap, required, sourceTz = None)
    val out = res.df.collect()
    assert(out.length == 2)
    val first = res.df.orderBy("TIMESTAMP").select("OPEN").as[Double].head()
    assert(first == 1.0, "keep-first means OPEN=1.0 survives, not 9.0")
    val dups = res.report("duplicates").asInstanceOf[ListMap[String, Any]]
    assert(dups("removed_duplicates") == 1L)
  }

  test("sample_tzaware: offset content only converts, no localize") {
    val df = csvDf(Seq(
      ("2024-01-01 00:00:00+02:00", "1.0", "1.2", "0.9", "1.1"),
      ("2024-01-01 00:01:00+02:00", "1.1", "1.3", "1.0", "1.2")))
    val res = Normalize(df, cmap, required, sourceTz = None)
    val dt = res.report("datetime").asInstanceOf[ListMap[String, Any]]
    assert(dt("tz_action") == "already_tzaware")
    assert(dt("needs_review") == false)
    val ts = res.df.orderBy("TIMESTAMP").select("TIMESTAMP")
      .as[java.sql.Timestamp].head()
    assert(ts.toInstant == java.time.Instant.parse("2023-12-31T22:00:00Z"))
  }

  test("policy_if_na=require_source refuses naive stamps; passes aware/sourced") {
    val naive = csvDf(Seq(
      ("2024-01-01 00:00:00", "1.0", "1.2", "0.9", "1.1")))
    val e = intercept[IllegalArgumentException](
      Normalize(naive, cmap, required, sourceTz = None,
        policyIfNa = "require_source"))
    assert(e.getMessage.contains("require_source"))
    // tz-aware content: the policy never fires
    val aware = csvDf(Seq(
      ("2024-01-01 00:00:00+02:00", "1.0", "1.2", "0.9", "1.1")))
    val okAware = Normalize(aware, cmap, required, sourceTz = None,
      policyIfNa = "require_source")
    assert(okAware.df.count() == 1)
    // a configured source tz: the policy never fires
    val okSourced = Normalize(naive, cmap, required,
      sourceTz = Some("Europe/Madrid"), policyIfNa = "require_source")
    assert(okSourced.df.count() == 1)
  }

  test("policy_if_na=mark_needs_review localizes as UTC and flags the report") {
    val naive = csvDf(Seq(
      ("2024-01-01 00:00:00", "1.0", "1.2", "0.9", "1.1")))
    val res = Normalize(naive, cmap, required, sourceTz = None,
      policyIfNa = "mark_needs_review")
    val dt = res.report("datetime").asInstanceOf[ListMap[String, Any]]
    assert(dt("tz_action") == "localized_to_UTC_assumed")
    assert(dt("needs_review") == true)
  }

  test("sample_strings: non-numeric CLOSE coerces to null and is counted") {
    val df = csvDf(Seq(
      ("2024-01-01 00:00:00", "1.0", "1.2", "0.9", "abc"),
      ("2024-01-01 00:01:00", "1.1", "1.3", "1.0", "1.2")))
    val res = Normalize(df, cmap, required, sourceTz = None)
    val firstClose = res.df.orderBy("TIMESTAMP").select("CLOSE").collect()(0)
    assert(firstClose.isNullAt(0))
    val coercions = res.report("dtypes").asInstanceOf[ListMap[String, Any]]
      .apply("numeric_coercions").asInstanceOf[ListMap[String, Long]]
    assert(coercions("CLOSE") == 1L)
  }

  test("protected columns are never renamed") {
    val m = Normalize.buildRenameMap(
      Seq("timestamp", "symbol", "close", "low_value"),
      ListMap("TIMESTAMP" -> Seq("timestamp"), "CLOSE" -> Seq("close"),
        "LOW" -> Seq("low"), "SYMBOL" -> Seq("symbol")))
    assert(!m.contains("symbol"))
    assert(m("low_value") == "LOW", "prefix match low_ -> LOW")
    assert(m("close") == "CLOSE")
  }

  test("a column matching variants of two targets takes the LAST target") {
    // "vol_bid" prefix-matches VOLUME ("vol_") and suffix-matches BID
    // ("_bid"); the reference's dict assignment overwrites, so BID wins
    val m = Normalize.buildRenameMap(
      Seq("vol_bid"), graft.core.GraftConfig.defaultColumnsMap)
    assert(m("vol_bid") == "BID")
  }

  test("missing required columns raise with column names") {
    val df = Seq(("2024-01-01 00:00:00", "1.0"))
      .toDF("timestamp", "close")
    val e = intercept[IllegalArgumentException] {
      Normalize(df, cmap, required, sourceTz = None)
    }
    assert(e.getMessage.contains("OPEN") && e.getMessage.contains("HIGH"))
  }

  test("extra columns flow through untouched and report as unmatched") {
    val df = Seq(("2024-01-01 00:00:00", 1.0, 1.2, 0.9, 1.1, "xyz"))
      .toDF("timestamp", "open", "high", "low", "close", "custom_col")
    val res = Normalize(df, cmap, required, sourceTz = None)
    assert(res.df.columns.contains("custom_col"))
    val unmatched = res.report("columns").asInstanceOf[ListMap[String, Any]]
      .apply("unmatched").asInstanceOf[Seq[String]]
    assert(unmatched.contains("custom_col"))
  }

  test("observed report: equal whether df, unsorted or nothing ran first") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graft.GraftSqlBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    // a duplicate stamp, an unparseable stamp and a non-numeric CLOSE
    val rows = Seq(
      ("2024-01-01 00:00:00", "1.0", "1.2", "0.9", "1.1"),
      ("2024-01-01 00:00:00", "9.0", "9.2", "8.9", "9.1"),
      ("not a time", "1.1", "1.3", "1.0", "1.2"),
      ("2024-01-01 00:01:00", "1.1", "1.3", "1.0", "abc"),
      ("2024-01-01 00:02:00", "1.2", "1.4", "1.1", "1.3"))
    val queries = new java.util.concurrent.atomic.AtomicInteger()
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { queries.incrementAndGet(); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { queries.incrementAndGet(); () }
    }
    /** The report after `before` ran on a fresh result, and the queries
      * the report itself ran. */
    def report(before: Normalize.Result => Unit): (ListMap[String, Any], Int) = {
      val res = Normalize(csvDf(rows), cmap, required, sourceTz = None)
      before(res)
      GraftSqlBridge.drainListenerBus(spark)
      spark.listenerManager.register(ql)
      queries.set(0)
      try {
        val r = res.report
        GraftSqlBridge.drainListenerBus(spark)
        (r, queries.get)
      } finally spark.listenerManager.unregister(ql)
    }
    val (fresh, freshRuns) = report(_ => ())
    // df's global sort samples its input in a job of its own: an
    // observation on df would count that job's rows too
    val (afterDf, afterDfRuns) = report(_.df.collect())
    val (afterUnsorted, afterUnsortedRuns) = report(_.unsorted.collect())
    assert(afterDf == fresh && afterUnsorted == fresh)
    assert((freshRuns, afterDfRuns, afterUnsortedRuns) == (1, 1, 0),
      "the report runs unsorted once unless an action on it already did")
    def sub(k: String) = fresh(k).asInstanceOf[ListMap[String, Any]]
    assert(sub("duplicates")("removed_duplicates") == 1L)
    assert(sub("datetime")("coerced_rows") == 1L)
    assert(sub("dtypes")("numeric_coercions") ==
      ListMap("OPEN" -> 0L, "HIGH" -> 0L, "LOW" -> 0L, "CLOSE" -> 1L))
  }
}
