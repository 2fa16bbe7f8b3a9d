package graft.tools

import graft.SparkEntry
import graft.core.{Json, Tables}
import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query scale evidence beyond the 30× rehearsal (VERDICT r14 item
  * 4): time a NAMED list of gate queries, per-query isolated (cache wipe
  * + GC before every run, exactly ScaleBench's discipline), at a base
  * and a scaled dir, and publish base/scaled/ratio per query plus the
  * measured co-activity edge growth — the graph queries' true input, so
  * their ratios can be read against input growth instead of raw row
  * growth.
  *
  * This exists separately from ScaleBench because the 100× sweep must
  * not pay the rehearsal's pipeline phases (RepairProbe owns the 100×
  * pipeline record); it times just the handful of known-worst scalers.
  *
  * Usage: ScaleQueryProbe <baseSfDir> <scaledSfDir> <rowGrowth> <outJson>
  *          <q1,q2,...> [reps]
  */
object ScaleQueryProbe {

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val scaled = args(1)
    val rowGrowth = args(2).toDouble
    val outFile = args(3)
    val names = args(4).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = if (args.length > 5) args(5).toInt else 3
    val unknown = names.filterNot(n =>
      SparkEntry.queries.contains(n) || ProbeQueries.contains(n) ||
        LshProbeQueries.contains(n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // Shuffle partitions follow the data (Harness.partsFor): the first
    // 100× probe ran at a pinned 32 and the scaled aggregations went
    // SparkOutOfMemoryError — per-task hash maps sized to the 100× input
    // slice exhausted the execution pool before spilling could help.
    val rows = (rowGrowth * 600000L).toLong
    Harness.run(scratchRows = Some(rows)) { h =>
      System.err.println(s"[sqp] shuffle partitions: ${h.partsFor(rows)}, " +
        s"heap ${Runtime.getRuntime.maxMemory / 1048576} MB")
      h.withPartsFor(rows)(probe(h, base, scaled, rowGrowth, outFile, names, reps))
    }
  }

  /** `q`'s count with the session isolated first (outside the timed
    * window; see [[Harness.isolate]] — this is the "session debt" behind
    * the r13 rehearsal's chain-order artifacts, removed at the source).
    * Returns the wall seconds, or -1 when `q` fails.
    */
  def isolatedRun(h: Harness, label: String)(q: => DataFrame): Double = {
    h.isolate()
    try Harness.seconds(q.count())
    catch { case e: Throwable =>
      System.err.println(s"[probe] $label FAILED: ${e.getMessage}")
      -1.0
    }
  }

  /** Co-activity edges of `dir`'s events — the graph queries' true
    * input — or -1 when the census fails.
    */
  def coEdges(spark: SparkSession, dir: String): Long =
    try Graph.coActivityEdges(Tables.events(spark, dir)).count()
    catch { case e: Throwable =>
      System.err.println(s"[probe] coEdges @ $dir FAILED: ${e.getMessage}")
      -1L
    }

  private def probe(h: Harness, base: String, scaled: String,
                    rowGrowth: Double, outFile: String, names: Seq[String],
                    reps: Int): Unit = {
    val spark = h.spark
    def tag(dir: String) = if (dir == base) "base" else "scaled"
    // ---- persisted-edge probe mode (VERDICT r16 item 2) ----------------
    // p*-named entries time the PROBE side of the graph build/probe split:
    // the co-activity edge table is built ONCE per dir (timed separately,
    // published as edge_build_*) and each probe reads spark.table(...) —
    // the amortized layout a 100 TB deployment runs, vs the gate queries'
    // rebuild-per-query closures. Build happens BEFORE the timing loop so
    // no probe rep carries build cost.
    // Same build/probe split for the persisted near-dup LSH index: the
    // corpus signature pass is the build (timed once per dir, published
    // as lsh_build_*); p347 probes the batch against the stored bands.
    def builds(kind: String, needed: Boolean)(
        build: (String, String) => Long): Map[String, (String, Double)] =
      if (!needed) Map.empty
      else Seq(base, scaled).distinct.map { dir =>
        val tbl = s"graft_bkt_${kind}_probe_${tag(dir)}"
        val (n, sec) = Harness.timed(build(dir, tbl))
        System.err.println(f"[sqp] $kind table $tbl: $n rows, built in $sec%.1f s")
        dir -> (tbl, sec)
      }.toMap
    val edgeTables = builds("edges", names.exists(ProbeQueries.contains)) {
      (dir, tbl) => Graph.buildEdgeTable(Tables.events(spark, dir), tbl)
    }
    val lshTables = builds("lsh", names.exists(LshProbeQueries.contains)) {
      (dir, tbl) => Dedup.buildLshIndex(
        Dedup.exact(Tables.documents(spark, dir).filter(
          org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
          "doc_id", "text"),
        tbl, "doc_id", "text", numHashes = 64, bands = 16, shingleSize = 3)
    }
    def query(name: String, dir: String): DataFrame =
      if (ProbeQueries.contains(name)) ProbeQueries(name)(spark, dir, edgeTables(dir)._1)
      else if (LshProbeQueries.contains(name))
        LshProbeQueries(name)(spark, dir, lshTables(dir)._1)
      else SparkEntry.queries(name)(spark, dir)

    // min across reps, same estimator rationale as RepairProbe: isolated
    // single-query reps differ only by additive host noise, so the min is
    // the plan's own cost; the full rep list is published beside it
    def minOf(name: String, dir: String): (Double, Seq[Double]) = {
      val runs = (1 to reps).map(_ => isolatedRun(h, s"$name @ $dir")(query(name, dir)))
      val ok = runs.filter(_ > 0)
      (if (ok.isEmpty) -1.0 else ok.min, runs)
    }

    // GRAFT_SQP_EDGES=0 skips the edge census — the fresh-JVM-per-query
    // driver loop (the publication mode: residual broadcast/AQE state
    // from a 100× run is unreachable to any in-JVM sweep, so true
    // isolation is one query per JVM) measures it once, not per query.
    val edgesOn = sys.env.getOrElse("GRAFT_SQP_EDGES", "1") != "0"
    val edgesBase = if (edgesOn) coEdges(spark, base) else -1L
    val edgesScaled = if (edgesOn) coEdges(spark, scaled) else -1L
    val edgeGrowth =
      if (edgesBase > 0 && edgesScaled > 0) edgesScaled.toDouble / edgesBase
      else -1.0
    System.err.println(
      f"[sqp] co-activity edges: $edgesBase -> $edgesScaled (x$edgeGrowth%.1f)")

    val rows = names.map { n =>
      val (b, bRuns) = minOf(n, base)
      val (s, sRuns) = minOf(n, scaled)
      val ratio = if (b > 0 && s > 0) s / b else -1.0
      System.err.println(
        f"[sqp] $n base $b%.2f s  scaled $s%.2f s  ratio $ratio%.1f " +
          f"(rows x$rowGrowth%.0f)")
      f"${Json.write(n)}:{" +
        f""""base":$b%.3f,"scaled":$s%.3f,"ratio":$ratio%.2f,""" +
        f""""base_runs":${Harness.jsonSecs(bRuns)},""" +
        f""""scaled_runs":${Harness.jsonSecs(sRuns)}}"""
    }
    val buildFields = (for {
      (kind, built) <- Seq("edge" -> edgeTables, "lsh" -> lshTables)
      dir <- Seq(base, scaled).distinct
      (_, sec) <- built.get(dir)
    } yield f""""${kind}_build_${tag(dir)}":$sec%.3f,""").mkString
    val json =
      f"""{"metric":"scale_query_probe","base_sf_dir":${Json.write(base)},"scaled_sf_dir":${Json.write(scaled)},"row_growth":$rowGrowth%.0f,"reps":$reps,"estimator":"min-of-reps (isolated reps differ by additive host noise); full rep lists published","coactivity_edges_base":$edgesBase,"coactivity_edges_scaled":$edgesScaled,"coactivity_edge_growth":$edgeGrowth%.2f,$buildFields"queries":{${rows.mkString(",")}}}"""
    Harness.publish(outFile, json)
    // leave the warehouse empty (the Bench convention): the probe tables
    // are scratch; writeBucketed's overwrite also clears orphans, so this
    // is hygiene, not a correctness requirement
    for ((tbl, _) <- edgeTables.values ++ lshTables.values)
      graft.operators.Exporter.dropBucketed(spark, tbl)
  }

  /** Probe-side closures of the graph build/probe split: the same three
    * consumers as the q118/q290/q309 gate queries, reading a pre-built
    * edge table instead of re-running the co-activity build inline. The
    * gate equivalences are pinned by q345/q346 (CORRECTNESS entries);
    * these exist so BENCH_SF10 can publish build and probe cost as
    * separate numbers.
    */
  private val ProbeQueries: Map[String,
      (SparkSession, String, String) => DataFrame] = {
    import org.apache.spark.sql.functions._
    Map(
      "p118_triangles_persisted" -> ((s, _, tbl) =>
        Graph.triangleCount(s.table(tbl))
          .orderBy(col("n_triangles").desc, col("node")).limit(20)),
      "p290_components_persisted" -> ((s, dir, tbl) => {
        val nodes = Tables.events(s, dir).select(col("user_id")).distinct()
        val sizes = graft.operators.Dedup
          .connectedComponents(nodes, "user_id", s.table(tbl), "src", "dst")
          .groupBy(col("component")).agg(count(lit(1)).as("_sz"))
        sizes.agg(sum(col("_sz")).as("n_nodes"),
          count(lit(1)).as("n_components"),
          max(col("_sz")).as("giant_size"),
          sum(when(col("_sz") === 1, 1L).otherwise(0L)).as("n_isolated"))
      }),
      "p309_kcore_persisted" -> ((s, _, tbl) =>
        Graph.kCore(s.table(tbl), 2, oracleRounds = 8)
          .select(col("node").as("user_id"), col("core_degree"))
          .orderBy("user_id")),
      "p119_links_persisted" -> ((s, _, tbl) =>
        Graph.commonNeighborLinks(s.table(tbl), k = 20)),
      "p314_labelprop_persisted" -> ((s, dir, tbl) => {
        val nodes = Tables.events(s, dir).select(col("user_id")).distinct()
        Graph.labelPropagation(nodes, "user_id", s.table(tbl), rounds = 3)
          .select(col("node").as("user_id"), col("community"))
      }),
      "p320_ktruss_persisted" -> ((s, _, tbl) =>
        Graph.kTruss(s.table(tbl), 3, oracleRounds = 4)
          .select(col("a").as("user_a"), col("b").as("user_b"),
            col("support")))
    )
  }

  /** Probe side of the q347 near-dup build/probe split: screen the odd
    * half of `documents` against a pre-built even-half LSH index (the
    * gate equivalence is q347's CORRECTNESS entry; this publishes probe
    * cost with the corpus signature pass amortized into lsh_build_*).
    */
  private val LshProbeQueries: Map[String,
      (SparkSession, String, String) => DataFrame] = {
    import org.apache.spark.sql.functions._
    Map(
      "p347_neardup_persisted" -> ((s, dir, tbl) => {
        val docs = Tables.documents(s, dir)
        Dedup.nearDupScreen(s, tbl, docs.filter(col("doc_id") % 2 === 1),
          docs, "doc_id", "text", numHashes = 64, bands = 16,
          shingleSize = 3)
      })
    )
  }
}
