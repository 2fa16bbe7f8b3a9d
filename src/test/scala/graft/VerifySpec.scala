package graft

import java.nio.file.{Files, Paths}

/** The loud-failure contract of the Verify main: a query that throws must
  * leave a per-query `_ERROR.txt` artifact in the output directory (round
  * 8 regression: failures left NO trace, so five broken queries read as
  * "99/99 green" in the driver's correctness report). The tool mains share
  * Verify's session contract: an embedding JVM's session stays running
  * and keeps its confs.
  */
class VerifySpec extends SparkSpec {

  test("a failing query writes an _ERROR.txt artifact; oracle dump survives") {
    // materialize the shared session first: Verify.main only stops a
    // session it created itself, and this pins that contract too
    assert(!spark.sparkContext.isStopped)
    val out = Files.createTempDirectory("graft-verify-err").toString
    // nonexistent sfDir: every selected query throws at read time. Filter
    // to one cheap query so the probe stays fast.
    Verify.main(Array("/nonexistent-sf-dir", out, "q01_scan_filter"))
    val err = Paths.get(s"$out/q01_scan_filter_ERROR.txt")
    assert(Files.exists(err), "failure must leave a per-query error artifact")
    val body = Files.readString(err)
    assert(body.startsWith("q01_scan_filter\n"),
      s"artifact names the query:\n$body")
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")),
      "oracle SQL dump must still be written after failures")
    assert(!spark.sparkContext.isStopped,
      "Verify must not stop a session it did not create")
  }

  test("TimeQuery and ExplainQuery leave the shared session running and unchanged") {
    val key = "spark.sql.shuffle.partitions"
    val parts = spark.conf.get(key)
    val sf = "/root/testdata/sf0.001"
    graft.tools.TimeQuery.main(Array("q01_scan_filter", sf, "1"))
    graft.tools.ExplainQuery.main(Array("q01_scan_filter", sf))
    assert(!spark.sparkContext.isStopped,
      "a tool main must not stop a session it did not create")
    assert(spark.conf.get(key) == parts,
      s"a tool main must not re-configure a session it did not create: " +
        s"${spark.conf.get(key)} instead of $parts")
  }
}
