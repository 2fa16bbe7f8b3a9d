package graft
import graft.core.Json
import graft.tools.Harness
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: run only queries whose name contains one of the
    // comma-separated substrings (local iteration aid; the driver always
    // passes exactly two)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c))
      case _ => throw new IllegalArgumentException(
        "usage: Verify <sfDir> <outDir> [queryFilter]")
    }
    // an embedding JVM (tests) may already own a session: the harness
    // then leaves it running for every subsequent user of the context
    Harness.run() { h =>
      val spark = h.spark
      new java.io.File(outDir).mkdirs()
      SparkEntry.queries
        .filter { case (name, _) =>
          only.forall(_.split(',').exists(name.contains)) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // Loud failure: a broken query must surface as an `err` row in the
          // driver's correctness report, not a silently missing key (round-8
          // regression read as "99/99 green" because failures left no trace).
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Files.writeString(Paths.get(s"$outDir/${name}_ERROR.txt"),
            s"$name\n${e.getClass.getName}: ${e.getMessage}\n")
        }
      }
      val errs = new java.io.File(outDir).listFiles()
        .filter(_.getName.endsWith("_ERROR.txt")).map(_.getName).sorted
      if (errs.nonEmpty)
        System.err.println(s"[verify] ${errs.length} FAILED: ${errs.mkString(", ")}")
      // leave the warehouse empty for the next harness JVM (q48's bucketed
      // tables are session-scoped scratch, not a deliverable)
      for (t <- spark.catalog.listTables().collect().map(_.name)
           if t.startsWith("graft_bkt_"))
        graft.operators.Exporter.dropBucketed(spark, t)
      // every string is escaped (a tab or CR in authored SQL would
      // otherwise make the driver's json.load fail)
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${Json.write(k)}: ${Json.write(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    }
  }
}
