package graft

import java.nio.file.Files

import graft.core.{GraftConfig, Sizing}
import graft.operators.Runner
import org.apache.spark.storage.StorageLevel

/** Size-aware persist policy (core.Sizing): gate-scale frames stay on the
  * in-memory columnar default; frames past the spill threshold persist
  * DISK_ONLY so the pipeline's two big caches stop competing with the
  * executor heap (the 60M-row probe's GC bottleneck). The integration
  * test proves the DISK_ONLY path is a pure storage decision: same rows,
  * same values, both resample modes.
  */
class SizingSpec extends SparkSpec {

  test("storageFor: unknown or small stays in memory, large spills") {
    assert(Sizing.storageFor(None) == StorageLevel.MEMORY_AND_DISK)
    assert(Sizing.storageFor(Some(1L)) == StorageLevel.MEMORY_AND_DISK)
    assert(Sizing.storageFor(Some(Sizing.spillBytes)) ==
      StorageLevel.MEMORY_AND_DISK) // threshold itself is not past it
    assert(Sizing.storageFor(Some(Sizing.spillBytes + 1)) ==
      StorageLevel.DISK_ONLY)
  }

  test("spill threshold is overridable (system property beats default)") {
    val dflt = Sizing.spillBytes
    sys.props("graft.mat.spill.bytes") = "12345"
    try assert(Sizing.spillBytes == 12345L)
    finally sys.props -= "graft.mat.spill.bytes"
    assert(Sizing.spillBytes == dflt)
  }

  test("planEstimate: real for a scan lineage, None past the sentinel") {
    val est = Sizing.planEstimate(Bench.genOhlcv(spark, 1000L))
    assert(est.exists(_ > 0), s"range lineage should carry a size: $est")
  }

  test("planEstimate leaves the frame free to read its own cache") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).repartition(4)
      .select(col("id"), (col("id") * 2).as("v"))
    Sizing.planEstimate(df)
    df.persist()
    try {
      df.count()
      // what `queryExecution.toRdd` callers (the SMA scan) execute
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      assert(plan.collectFirst { case s: InMemoryTableScanExec => s }.nonEmpty &&
        plan.collectFirst { case e: Exchange => e }.isEmpty,
        s"the frame must read its cache, not re-run its exchange:\n$plan")
    } finally df.unpersist()
  }

  test("leafScanBytes: real for file scans, zero for materialized inputs") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_sz_leaf").toString
    spark.range(10000).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val scanBytes = Sizing.leafScanBytes(scan)
    assert(scanBytes > 0, s"parquet leaf must carry a real size: $scanBytes")
    // a SELF-JOIN's own estimate is a child product (garbage), but its
    // leaf volume is just 2× the scan — the signal the fan-out gate needs
    val selfJoin = scan.as("a").join(scan.as("b"), "id")
    val joinLeaves = Sizing.leafScanBytes(selfJoin)
    assert(joinLeaves >= scanBytes && joinLeaves <= 3 * scanBytes,
      s"join leaf volume tracks scans, not the product: $joinLeaves")
    // a checkpointed input is already materialized: zero replay cost in
    // the leaf census, but its presence marks an at-scale caller (the
    // graph builders checkpoint exactly when their probes measured a big
    // graph), so the fan-out gate says materialize the derived set too
    val ckpt = scan.localCheckpoint(true)
    assert(Sizing.leafScanBytes(ckpt) == 0L,
      "LogicalRDD leaves count zero (block re-read, not build replay)")
    assert(Sizing.materializeForFanout(ckpt),
      "a checkpointed input is the caller's own at-scale marker")
  }

  test("materializeForFanout gate flips on the threshold; triangleCount " +
      "output is identical on both sides of it") {
    import org.apache.spark.sql.functions._
    val edges = spark.range(200).select((col("id") % 50).as("src"),
      ((col("id") * 7 + 3) % 50).as("dst"))
    assert(!Sizing.materializeForFanout(edges),
      "a KB-scale lineage must stay lazy under the default threshold")
    val lazyRes = graft.operators.Graph.triangleCount(edges)
      .orderBy("node").collect().toSeq
    sys.props("graft.fanout.ckpt.bytes") = "-1" // everything materializes
    try {
      assert(Sizing.materializeForFanout(edges))
      val ckptRes = graft.operators.Graph.triangleCount(edges)
        .orderBy("node").collect().toSeq
      assert(ckptRes == lazyRes,
        "the checkpoint is a pure materialization decision, never values")
    } finally sys.props -= "graft.fanout.ckpt.bytes"
  }

  test("materializeForFanout: a large cache and a non-deterministic build " +
      "are scale/correctness signals; a small deterministic cache is not") {
    import org.apache.spark.sql.functions._
    // small cached input: re-scan is a block read AND the shuffles above
    // it are cheap to replay — stays lazy (the r15 gate-scale contract)
    val small = spark.range(1000)
      .select((col("id") % 50).as("src"), ((col("id") * 7) % 50).as("dst"))
      .cache()
    small.count()
    try {
      assert(Sizing.leafScanBytes(small) == 0L,
        "InMemoryRelation leaves count zero replay bytes")
      assert(!Sizing.materializeForFanout(small),
        "a small materialized cache must not force the checkpoint")
      // the SAME cache above the threshold is a scale signal (ADVICE r16):
      // its post-materialization stats are real, so shrinking the
      // threshold under them must flip the gate even though leafScanBytes
      // still reads zero
      sys.props("graft.fanout.ckpt.bytes") = "0"
      assert(Sizing.materializeForFanout(small),
        "a cached input bigger than the threshold is an at-scale marker")
    } finally {
      sys.props -= "graft.fanout.ckpt.bytes"
      small.unpersist()
      ()
    }
    // a non-deterministic build must materialize REGARDLESS of size:
    // without one snapshot each fan-out branch re-executes rand() and the
    // degree census / orientation / closing joins see different edge sets
    val nondet = spark.range(100)
      .select((rand(7) * 50).cast("long").as("src"),
        (rand(11) * 50).cast("long").as("dst"))
    assert(Sizing.materializeForFanout(nondet),
      "non-deterministic inputs force a snapshot (correctness, not size)")
    // ...and once snapshotted, two evaluations of the SAME returned frame
    // agree (the snapshot is the single source of truth; without it each
    // action could re-roll the rand() edges)
    val tc = graft.operators.Graph.triangleCount(nondet)
    val a = tc.orderBy("node").collect().toSeq
    val b = tc.orderBy("node").collect().toSeq
    assert(a == b, "re-evaluating the census must read one snapshot")
  }

  test("pipeline output is identical under a forced DISK_ONLY spill") {
    val raw = Bench.genOhlcv(spark, 3000L).cache()
    raw.count()
    // each export dir is its own partitioned parquet table — read them
    // separately (a multi-path read trips partition-structure inference)
    def run(outDir: String, mode: String): Map[String, Set[org.apache.spark.sql.Row]] = {
      val r = Runner.processDataFrame(spark, raw,
        GraftConfig(timeframes = Seq("1T", "5T"), resampleMode = mode),
        sourceTz = None, basename = "EURUSD_sizing", outDir = outDir)
      assert(r.errors.isEmpty, r.errors.mkString("; "))
      r.exports.map(e =>
        e.name -> spark.read.parquet(e.path).collect().toSet).toMap
    }
    for (mode <- Seq("faithful", "correct")) {
      val defOut = Files.createTempDirectory("graft_sz_def").toString
      val spillOut = Files.createTempDirectory("graft_sz_spill").toString
      val expected = run(defOut, mode)
      sys.props("graft.mat.spill.bytes") = "1" // every frame spills
      try {
        val got = run(spillOut, mode)
        assert(got.keySet == expected.keySet, s"$mode: same export set")
        for ((name, rows) <- expected)
          assert(got(name) == rows,
            s"$mode/$name: DISK_ONLY run must match default")
      } finally sys.props -= "graft.mat.spill.bytes"
    }
    raw.unpersist()
  }
}
