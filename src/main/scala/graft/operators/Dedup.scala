package graft.operators

import graft.core.Snapshot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (content-hash groupBy), MinHash+LSH
  * (shingle → minhash signature → banded bucket-join → verify), SimHash
  * (64-bit bit-vote fingerprint), and n-gram Jaccard verification.
  *
  * Scale design: every stage is a projection or an equi-key shuffle —
  * candidate generation never compares all pairs. At 100 TB the band
  * bucket-join is the only shuffle (keyed on (band, band_hash)); skewed
  * buckets (boilerplate text) are handled by capping bucket size before the
  * pair explosion (`maxBucketSize`).
  *
  * All hashing is seed-fixed and driver-deterministic, so signatures are
  * reproducible across runs and engines.
  */
object Dedup {

  private val P: Long = 2147483647L // 2^31 - 1, Mersenne prime

  /** Exact dedup: keep the smallest `idCol` row per distinct content hash.
    *
    * Shape: ONE hash-keyed aggregation with `min_by` carrying the kept
    * row. Partial aggregation collapses duplicates map-side, so the
    * shuffle moves at most one row per (task, distinct hash) — a viral
    * document duplicated millions of times reduces inside each scan task
    * instead of serializing its copies through one reducer (the window/
    * row_number form shuffles EVERY row and sorts the hot hash's copies
    * in a single task's partition).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(col(textCol).cast("string")).as("_h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("_row"))
      .select(col("_row.*"))
  }

  /** Word n-gram shingles (lowercased) of the text column. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** MinHash signatures via explode + partial aggregation: one row per
    * (doc, shingle), then a single groupBy computing all `numHashes` mins at
    * once. For each universal hash h_i(x) = (a_i x + b_i) mod P the
    * arithmetic stays below 2^62 — safe under ANSI overflow checking.
    *
    * Shape notes (each measured to matter):
    *  - shingles are hashed NUMERICALLY — hash each word once, combine each
    *    n-window with a rolling polynomial mod P; building n-gram STRINGS
    *    first materializes gigabytes of transient text at corpus scale;
    *  - the word-hash array is materialized ONCE per document in a
    *    projection below the explode. Referencing the `transform(...)`
    *    expression n times (one per element_at of the unrolled polynomial)
    *    re-evaluates the whole word-hash pipeline per reference after
    *    Catalyst collapses projections — keeping it as a bound attribute of
    *    the Generate's child makes element_at O(1);
    *  - shingle INDICES are exploded and the polynomial unrolls to flat
    *    element_at arithmetic (n is a plan-time constant) — a
    *    slice+aggregate per shingle allocates a sub-array and runs a lambda
    *    fold per shingle, which dominated the signature stage;
    *  - no distinct pass: duplicate shingles cannot change a min-aggregate.
    *
    * Returns (`id`, `minhash` array).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleSize: Int,
                        carry: Seq[String] = Nil): DataFrame = {
    // One fused codegen loop per document (plans.MinHashSignature): word
    // hashes → rolling-polynomial shingle hashes → all `numHashes` mins,
    // NARROW (no shingle explosion, no groupBy shuffle). Signatures are
    // bit-identical to the explode + min-aggregate formulation this
    // replaced — same seed-fixed family (MinHashSignature.params), same
    // per-step mod — whose
    // shape notes live in git history; at corpus scale the explode form
    // shuffled ~tokens×docs rows where this streams one row per doc.
    graft.plans.GraftExtensions.register(df.sparkSession)
    val toks = split(trim(lower(col(textCol))), "\\s+")
    df.select((col(idCol).as("id") +:
      call_function("minhash_sig",
        call_function("token_hashes", toks, lit(P)),
        lit(numHashes), lit(shingleSize)).as("minhash") +:
      carry.map(col)): _*)
  }

  /** Signatures plus banded bucket hashes: (`id`, `minhash`, `bands`)
    * plus any `carry` columns passed through untouched (e.g. an event-time
    * column for the streaming form).
    */
  def withMinHash(df: DataFrame, idCol: String, textCol: String, numHashes: Int,
                  bands: Int, shingleSize: Int,
                  carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    // band b hashes signature positions [b·rows, (b+1)·rows) exactly as
    // xxhash64(concat_ws(",", slice(minhash, b·rows + 1, rows)), b) did —
    // persisted LSH indexes store these hashes (plans.MinHashBandHashes)
    minHashSignatures(df, idCol, textCol, numHashes, shingleSize, carry)
      .withColumn("bands", call_function("minhash_band_hashes",
        col("minhash"), lit(bands), lit(numHashes / bands)))
  }

  /** LSH candidate pairs with estimated Jaccard (fraction of agreeing
    * signature positions), filtered at `threshold`. Shuffles only on band
    * hashes; `maxBucketSize` caps degenerate buckets before the pairwise
    * explosion (boilerplate-skew guard for 100 TB corpora).
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      shingleSize: Int = 5, threshold: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame = {
    val sigs = withMinHash(df.select(col(idCol), col(textCol)), idCol, textCol,
        numHashes, bands, shingleSize)
      .select(col("id"), col("minhash"),
        // posexplode_outer: posexplode infers a `size(bands) > 0` filter
        // below the projection and computes every signature twice; the
        // outer form's null rows never match the inner band join
        posexplode_outer(col("bands")).as(Seq("band", "bh")))
    val bw = Window.partitionBy("band", "bh").orderBy("id")
    val capped = sigs
      .withColumn("_bn", row_number().over(bw))
      .filter(col("_bn") <= maxBucketSize)
      .drop("_bn")
    val a = capped.select(col("band"), col("bh"),
      col("id").as("id_a"), col("minhash").as("ma"))
    val b = capped.select(col("band"), col("bh"),
      col("id").as("id_b"), col("minhash").as("mb"))
    // est_jaccard is computed IMMEDIATELY after the band join and the
    // signature arrays dropped, so the dedup exchange — the stage with the
    // most rows (every band collision, duplicated per matching band) —
    // shuffles bare (id_a, id_b, est) rows, and sub-threshold pairs are
    // filtered before that shuffle rather than after it. The band join's
    // two inputs are identical subplans, so Catalyst's exchange reuse
    // computes the signature aggregation once.
    a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(call_function("agree_count", col("ma"), col("mb"))
          .cast("double") / numHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "est_jaccard")
  }

  /** A persisted LSH index without the signature store [[lshIndexProbe]]
    * needs: written before the index split into postings and signatures
    * (or with its sidecar removed). Rebuild it with [[buildLshIndex]].
    */
  final class LshIndexLayoutError(msg: String) extends IllegalStateException(msg)

  /** Persist the banded MinHash index of a corpus — the persisted-index
    * form of near-dup dedup, the q54 / edge-table build/probe shape applied
    * to the dedup family. At 100 TB the MinHash signature pass is the
    * expensive corpus scan (tokenize + shingle + `numHashes` mins per
    * document); every incremental dedup run re-pays it unless the banded
    * signatures are stored ONCE at corpus-build time and probed by each
    * incoming batch.
    *
    * Layout: the classic posting-list / forward-index pair, each value
    * stored once.
    *  - Postings, the table `table`: one row per (document, band) —
    *    (`band`, `bh`, `id`) — bucketed and sorted by the FULL band-join
    *    key pair (`band`, `bh`), so a probe batch's band join shuffles ONLY
    *    the batch side: the corpus side's scan partitioning equals the
    *    join's required clustering exactly and reads its buckets in place.
    *    (Bucketing by `bh` alone is semantically sufficient but Spark's
    *    conservative co-partition default —
    *    requireAllClusterKeysForCoPartition — would re-shuffle it.)
    *  - Signatures, the sidecar `Exporter.sidecarTable(table,
    *    "signatures")` in `_sidecars/signatures/` under the table's
    *    location: one row per indexed document — (`id`, `minhash`) —
    *    bucketed by `id` into the same bucket count, so a probe fetches its
    *    candidates' signatures by shuffling only the candidate list.
    * Per document at the default 64 hashes × 16 bands that is 16 × 20 B of
    * postings plus one 520 B signature, where one row per (document, band)
    * carrying the signature was 16 × 532 B; as zstd parquet on disk the
    * 500-document perfbench `llm_dedup` index measured 1,361,389 →
    * 223,394 B (6.1× smaller).
    *
    * Both tables are written one file per bucket (each is hash-
    * partitioned into exactly its buckets before the write), not one per
    * (task, bucket). The signatures are computed once, held
    * (MEMORY_AND_DISK) for the two writes, then released. Degenerate
    * buckets (boilerplate text shared by millions of documents) are capped
    * at `maxBucketSize` postings at build time, the same skew guard as
    * [[minHashLshPairs]] — a deployment dedups the corpus FIRST (q41/q75)
    * and indexes the kept documents, so verbatim groups don't exist on the
    * index side by construction. Document ids must be unique.
    *
    * Returns the number of indexed documents (those with a signature; a
    * null text has none). Freshness is the caller's contract (probe
    * answers are about the indexed snapshot); rebuild = call again
    * (drop-and-replace, `Exporter.writeBucketed` semantics, non-atomic);
    * `Exporter.dropBucketed(table)` removes both parts.
    */
  def buildLshIndex(docs: DataFrame, table: String, idCol: String,
                    textCol: String, numHashes: Int = 64, bands: Int = 16,
                    shingleSize: Int = 5, numBuckets: Int = 0,
                    maxBucketSize: Int = 100000): Long = {
    val sigs = withMinHash(docs.select(col(idCol), col(textCol)), idCol,
        textCol, numHashes, bands, shingleSize)
      .filter(col("minhash").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // numBuckets <= 0 (the default): scale with the corpus input rather
      // than a constant tuned for one tier (Exporter.adaptiveBuckets)
      val nb = if (numBuckets > 0) numBuckets
               else Exporter.adaptiveBuckets(docs)
      val indexed = sigs.count() // fills the held signatures
      // the cap window runs on the bucket partitioning itself, so each
      // write task holds exactly one bucket
      val postings = sigs
        .select(col("id"), posexplode(col("bands")).as(Seq("band", "bh")))
        .repartition(nb, col("band"), col("bh"))
      val bw = Window.partitionBy("band", "bh").orderBy("id")
      val capped = postings
        .withColumn("_bn", row_number().over(bw))
        .filter(col("_bn") <= maxBucketSize)
        .select(col("band"), col("bh"), col("id"))
      Exporter.writeBucketed(capped, table, Seq("band", "bh"), nb,
        sortCols = Seq("band", "bh", "id"))
      Exporter.writeBucketedSidecar(
        sigs.select(col("id"), col("minhash")).repartition(nb, col("id")),
        table, "signatures", Seq("id"), nb, sortCols = Seq("id"))
      indexed
    } finally {
      sigs.unpersist(false)
      ()
    }
  }

  /** The signature store of the LSH index `table` and its bucket count;
    * throws [[LshIndexLayoutError]] when the index has none.
    */
  private def signatureStore(spark: org.apache.spark.sql.SparkSession,
                             table: String): (String, Int) = {
    val store = Exporter.sidecarTable(table, "signatures")
    def fail(why: String): Nothing = throw new LshIndexLayoutError(
      s"LSH index '$table' $why: it predates the postings/signatures " +
        "layout or lost its signature store — rebuild it with " +
        "Dedup.buildLshIndex")
    if (!spark.catalog.tableExists(store))
      fail(s"has no signature store ('$store')")
    val buckets = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(store))
      .bucketSpec.map(_.numBuckets)
    (store, buckets.getOrElse(fail(s"has an unbucketed signature store ('$store')")))
  }

  /** Probe a new batch of documents against a persisted LSH index (built
    * by [[buildLshIndex]] with the SAME (numHashes, bands, shingleSize) —
    * signatures are parameter-specific): returns candidate near-dup pairs
    * (`probe_id`, `index_id`, `est_jaccard`) at or above `threshold`,
    * deduplicated across bands. The batch side is signature-hashed here
    * (one narrow codegen pass, linear in the batch); the corpus side is
    * ONLY the two index scans — no corpus text is touched, no corpus
    * shuffle happens (see the layout on [[buildLshIndex]]):
    *  1. the batch's band rows, each carrying its document's signature,
    *     join the postings, which are read in place;
    *  2. the candidates take ONE exchange keyed on `index_id` into the
    *     index's bucket count — the partitioning of the signature store —
    *     and drop their cross-band duplicate (`probe_id`, `index_id`)
    *     pairs there;
    *  3. so the distinct pairs fetch their index signatures with no further
    *     exchange, the signature store is read in place, and `est_jaccard`
    *     is computed and filtered.
    * Two exchanges, both batch-linear (band rows and candidate pairs, each
    * with the batch signature), and one signature pass over the batch. An
    * index without a signature store throws [[LshIndexLayoutError]].
    * Callers wanting exact Jaccard verify the candidates against the
    * stored documents afterwards (q347's shape, mirroring q41's
    * estimate-prefilter-then-exact-verify contract).
    */
  def lshIndexProbe(spark: org.apache.spark.sql.SparkSession, table: String,
                    batch: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 64, bands: Int = 16,
                    shingleSize: Int = 5,
                    threshold: Double = 0.5): DataFrame = {
    val (store, nb) = signatureStore(spark, table)
    val probe = withMinHash(batch.select(col(idCol), col(textCol)), idCol,
        textCol, numHashes, bands, shingleSize)
      // posexplode_outer: its null rows (a document without bands) never
      // match the inner band join, and unlike posexplode it infers no
      // `size(bands) > 0` filter under the projection, which would compute
      // every batch signature a second time
      .select(col("id").as("probe_id"), col("minhash").as("_pm"),
        posexplode_outer(col("bands")).as(Seq("band", "bh")))
    spark.table(table).join(probe, Seq("band", "bh"))
      .filter(col("probe_id") =!= col("id"))
      .select(col("probe_id"), col("id").as("index_id"), col("_pm"))
      .repartition(nb, col("index_id"))
      .dropDuplicates("probe_id", "index_id")
      .join(spark.table(store).select(col("id").as("index_id"),
        col("minhash").as("_im")), "index_id")
      .select(col("probe_id"), col("index_id"),
        round(call_function("agree_count", col("_pm"), col("_im"))
          .cast("double") / numHashes, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** The full incoming-batch near-dup SCREEN against a persisted LSH
    * index (q347's gate shape, shared with the scale probe): LSH
    * candidates from [[lshIndexProbe]] at `estThreshold`, exact-verified
    * at `jacThreshold` over fused 64-bit shingle hashes (intersection /
    * union sizes match string shingles — q41's verify contract), reduced
    * to each batch document's BEST corpus match (max exact jaccard, ties
    * to the smallest corpus id). Output is linear in the batch — the
    * keep/drop decision a crawl-ingest pipeline wants — never a
    * quadratic pair list. `docs` must carry text for BOTH sides'
    * candidate ids.
    *
    * Two q41 devices keep every stage sized by DISTINCT texts, not rows:
    *  - the batch decomposes over exact-duplicate text groups —
    *    signatures, band collisions, and exact jaccard are functions of
    *    the text alone, so ONE representative per distinct batch text is
    *    screened and its answer copied to its group (a verbatim-heavy
    *    re-crawl feed collapses before it touches the index);
    *  - the candidate list is materialized as LOCAL rows and broadcast:
    *    it feeds the id restriction AND both verify joins, so it must
    *    compute exactly once, and shingles are computed ONLY for
    *    candidate documents — shingling the full corpus for a candidate
    *    list orders of magnitude smaller was q41's dominant stage.
    * Index the corpus DEDUPED (see q347: `Dedup.exact` before
    * [[buildLshIndex]] — value-neutral, since the (max jac, min id) best
    * match is always an exact-dedup representative) and the local
    * candidate rows are (distinct batch texts × matching distinct corpus
    * texts) — linear in distinct batch texts at any corpus scale.
    */
  def nearDupScreen(spark: org.apache.spark.sql.SparkSession, table: String,
                    batch: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, numHashes: Int = 64, bands: Int = 16,
                    shingleSize: Int = 5, estThreshold: Double = 0.35,
                    jacThreshold: Double = 0.5): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    // group key is (length, xxhash64), q41's collision guard: a bare
    // 64-bit collision between distinct texts would silently merge groups
    val withH = batch.select(col(idCol), col(textCol),
      xxhash64(col(textCol)).as("_h"), length(col(textCol)).as("_hl"))
    val groups = withH.groupBy(col("_h"), col("_hl"))
      .agg(min(col(idCol)).as("_rep"))
    val members = withH.join(broadcast(groups), Seq("_h", "_hl"))
      .select(col(idCol).as("_member"), col("_rep"))
    val repBatch = withH
      .join(broadcast(groups.select(col("_rep").as(idCol))), idCol)
      .select(col(idCol), col(textCol))
    val candRaw = lshIndexProbe(spark, table, repBatch, idCol, textCol,
        numHashes, bands, shingleSize, estThreshold)
      .select(col("probe_id"), col("index_id"))
    // broadcast-hinted only where it is joined: a hint under the union
    // below is no join side and only logs a HintErrorLogger warning
    val cand = spark.createDataFrame(
      spark.sparkContext.parallelize(candRaw.collect().toIndexedSeq, 1),
      candRaw.schema)
    val candIds = cand.select(col("probe_id").as("_vid"))
      .union(cand.select(col("index_id").as("_vid"))).distinct()
    val vtoks = split(trim(lower(col(textCol))), "\\s+")
    val sh = docs.join(broadcast(candIds), col(idCol) === col("_vid"))
      .select(col("_vid"),
        call_function("shingle_hashes",
          call_function("token_hashes", vtoks), lit(shingleSize)).as("sh"))
    val jacRaw = size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
      size(array_union(col("_sa"), col("_sb")))
    // portable floor rounding (QueryUtils.fr's formula): identical op
    // sequence on both engines at representation boundaries
    val jac = floor(jacRaw * lit(1e4) + lit(0.5)) / lit(1e4)
    val verified = broadcast(cand)
      .join(sh.select(col("_vid").as("probe_id"), col("sh").as("_sa")),
        "probe_id")
      .join(sh.select(col("_vid").as("index_id"), col("sh").as("_sb")),
        "index_id")
      .select(col("probe_id"), col("index_id"), jac.as("jac"))
      .filter(col("jac") >= jacThreshold)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("jac").desc, col("index_id"))
    val repBest = verified.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("probe_id").as("_rep"),
        col("index_id").as("dup_of"), col("jac"))
    // expansion: every member of a screened group inherits its rep's
    // best match — identical text, identical jaccard against everything
    members.join(repBest, "_rep")
      .select(col("_member").as("doc_id"), col("dup_of"), col("jac"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, tokens vote +1/-1 by
    * their hash bit; the sign of the vote total becomes the fingerprint bit.
    * Near-duplicates land within small Hamming distance.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hs = transform(split(trim(lower(col(textCol))), "\\s+"), t => xxhash64(t))
    val fp = (0 until 64).map { i =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + (shiftrightunsigned(h, i).bitwiseAND(lit(1L)) * 2L - 1L))
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    df.select(col(idCol), fp.as("simhash"))
  }

  /** Oracle-parity SimHash variant: identical bit-vote semantics, but the
    * per-token 64-bit hash derives from md5's hex digits (bit i = bit
    * (i mod 4) of hex digit i/4), so an ANSI SQL engine can reproduce the
    * fingerprint exactly (no xxhash64 outside Spark). `simHash` stays the
    * scale default — one fused token hash versus 16 substring/conv
    * evaluations here — this form exists to make the fingerprint operator
    * hash-checkable against an external engine.
    */
  def simHashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hs = transform(split(trim(lower(col(textCol))), "\\s+"), t => md5(t))
    val fp = (0 until 64).map { i =>
      val vote = aggregate(hs, lit(0L), (acc, h) => {
        val d = conv(substring(h, 1 + i / 4, 1), 16, 10).cast("long")
        acc + (shiftright(d, i % 4).bitwiseAND(lit(1L)) * 2L - 1L)
      })
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    df.select(col(idCol), fp.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-pairs within `maxHamming`, bucketed by 16-bit chunks
    * (pigeonhole: ≤3 differing bits ⇒ at least one of 4 chunks identical),
    * so candidate generation is an equi-join, not a cross join.
    */
  def simHashNearPairs(df: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 3): DataFrame = {
    val sigs = simHash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash"))
    val chunked = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
      ): _*)).as(Seq("chunk", "ch")))
    val a = chunked.select(col("chunk"), col("ch"),
      col("id").as("id_a"), col("simhash").as("sa"))
    val b = chunked.select(col("chunk"), col("ch"),
      col("id").as("id_b"), col("simhash").as("sb"))
    a.join(b, Seq("chunk", "ch")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDist(col("sa"), col("sb")).as("hamming"))
      .filter(col("hamming") <= maxHamming) // before the dedup shuffle
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact n-gram Jaccard similarity for a pair of text columns (the verify
    * stage behind minhash candidates).
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(shingles(a, n))
    val sb = array_distinct(shingles(b, n))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb))
  }

  /** Edit-distance verify stage for near-dup candidate pairs: annotates a
    * pair frame with the exact Levenshtein distance and a normalized
    * similarity `1 - dist / max(len)`. The DP is O(|a|·|b|) per pair, so
    * this belongs strictly AFTER a blocking stage ([[minHashLshPairs]],
    * [[simHashNearPairs]], or a cheap prefix block) has bounded the pair
    * set — never on a raw cross join. Pure codegen'd expressions
    * (`levenshtein` is a built-in), no shuffle of its own.
    */
  def editDistanceVerify(pairs: DataFrame, leftText: Column,
                         rightText: Column): DataFrame = {
    val dist = levenshtein(leftText, rightText).cast("long")
    pairs
      .withColumn("edit_dist", dist)
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") /
          greatest(length(leftText), length(rightText)).cast("double"))
  }

  /** C4-style PARAGRAPH-level dedup: every duplicate paragraph across the
    * corpus is removed, keeping its first occurrence in (document id,
    * position) order; documents are reassembled from their surviving
    * paragraphs (a document whose every paragraph was seen before drops
    * entirely — the C4 convention).
    *
    * Scale shape: the keeper choice is the same map-side `min_by` collapse
    * as [[exact]] — one hash-keyed partial aggregate, so a boilerplate
    * paragraph repeated a million times collapses inside scan tasks
    * instead of sorting a million copies through a window; reassembly is
    * one groupBy over the surviving (doc, pos) rows with an in-row
    * array_sort (never a cross-row ordered agg).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol).cast("long").as("id"),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
    val keep = paras.groupBy(col("para"))
      .agg(min_by(struct(col("id"), col("pos")),
        struct(col("id"), col("pos"))).as("k"))
      .select(col("k.id").as("id"), col("k.pos").as("pos"))
    paras.join(keep, Seq("id", "pos"))
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("_text"))
      .select(col("id").as(idCol), col("_text").as(textCol))
  }

  /** Corpus-frequency boilerplate line removal (the C4/CCNet "remove
    * lines repeated across many pages" pass): a LINE is boilerplate iff
    * it occurs in more than `maxDocFreq` distinct documents — cookie
    * banners, nav menus, copyright footers — and every occurrence of a
    * boilerplate line is stripped from every document. Differs from
    * [[paragraphDedup]] on both axes: the unit is the line, and the
    * verdict is frequency-based removal everywhere, not keep-first.
    *
    * Scale shape: lines hash to 64-bit keys in the same projection that
    * splits them (8-byte shuffle keys, never a line-string exchange —
    * the q41/q61 lesson). Document frequency needs per-doc distinct
    * first (a line repeated inside ONE page is not corpus boilerplate),
    * which is a (doc, hash) aggregate whose partial phase collapses
    * in-doc repeats map-side. The boilerplate set itself is tiny by
    * construction (lines with DF > threshold are precisely the ones a
    * few templates stamp everywhere), so the strip is an anti-join
    * against a small frame; reassembly is the [[paragraphDedup]]
    * groupBy + in-row array_sort, never a cross-row ordered agg.
    * Exact modulo 64-bit line-hash collisions (the q31 caveat).
    *
    * @return one row per input document: (`idCol`, `clean_text`,
    *         `n_lines`, `n_removed`); a fully-boilerplate document
    *         keeps an empty `clean_text`.
    */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
                       maxDocFreq: Long, sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .withColumn("_h", xxhash64(col("line")))
    val docFreq = lines.select(col("id"), col("_h")).distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
    val hot = docFreq.filter(col("_df") > maxDocFreq).select(col("_h"))
    val kept = lines.join(hot, Seq("_h"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), sep).as("clean_text"),
        count(lit(1)).as("_n_kept"))
    df.select(col(idCol).cast("long").as("id"),
        size(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).cast("long").as("n_lines"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }

  /** Incremental cross-corpus dedup: rows of `batch` whose `textCol` does
    * NOT already occur in the `seen` corpus — the every-crawl-refresh
    * operation of a training-data pipeline (dedup the new crawl against
    * everything already ingested, without re-shuffling the old corpus
    * alongside the new one).
    *
    * Shape: the seen corpus is summarized once into a fixed-size Bloom
    * sketch over `xxhash64(text)` (a distributed aggregate — rows never
    * leave the executors, the driver receives only the merged bitmap).
    * The batch is then split map-side by `bloom_might_contain`
    * (`plans.BloomMightContainExpr`, codegen'd):
    *
    *  - sketch says NO  → definitively unseen (Bloom has no false
    *    negatives): emitted with NO shuffle at all;
    *  - sketch says YES → possible duplicate (true dup or fpp collision):
    *    only this sliver pays the exact `left_anti` join on the text
    *    itself (which also makes the result exact under 64-bit hash
    *    collisions).
    *
    * At 100 TB the anti-join therefore shuffles ≈ (dup-rate + fpp) of the
    * batch instead of all of it, and the seen side of the join can prune
    * to the matched hash partitions. Size `expectedSeen` to the seen
    * corpus's distinct-count: the sketch is ~1.2 GB per 1e9 items at 1%
    * fpp — tune fpp up to trade join volume for sketch memory.
    *
    * @return `batch` rows not present in `seen`, original schema.
    */
  def notSeen(batch: DataFrame, seen: DataFrame, textCol: String,
              expectedSeen: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val spark = batch.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val seenKeys = seen.select(col(textCol).as("_seen_text"))
    val bloom = seenKeys
      .select(xxhash64(col("_seen_text")).as("_h"))
      .stat.bloomFilter("_h", expectedSeen, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val maybeSeen =
      call_function("bloom_might_contain", lit(bytes), xxhash64(col(textCol)))
    val definitelyNew = batch.filter(!maybeSeen)
    val survivors = batch.filter(maybeSeen)
      .join(seenKeys.distinct(), col(textCol) === col("_seen_text"), "left_anti")
    definitelyNew.unionByName(survivors)
  }

  /** Corpus snapshot diff: classify every key across two corpus versions
    * as `added` / `removed` / `changed` / `unchanged` by comparing a
    * caller-supplied content fingerprint (md5 of the text, an etag, …) —
    * the delta feed of an incremental ingestion pipeline (only `added` +
    * `changed` need re-processing downstream; `removed` drives retention).
    *
    * Shape: ONE full-outer equi-join on the key, comparing fixed-width
    * fingerprints instead of document bodies — the shuffle moves two
    * narrow columns per side regardless of document size. At recurring
    * 100 TB scale, write both snapshots bucketed by the key
    * (`Exporter.writeBucketed`) and the join is co-located —
    * shuffle-free.
    *
    * @return one row per key in either version: (`keyCol`, `status`).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCol: String, fpCol: String): DataFrame = {
    val o = oldDf.select(col(keyCol).as("_k"), col(fpCol).as("_fp_old"))
    val n = newDf.select(col(keyCol).as("_k"), col(fpCol).as("_fp_new"))
    o.join(n, Seq("_k"), "full_outer")
      .select(col("_k").as(keyCol),
        when(col("_fp_old").isNull, lit("added"))
          .when(col("_fp_new").isNull, lit("removed"))
          .when(col("_fp_old") === col("_fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Connected components over a near-duplicate pair set — the FINAL stage
    * of a dedup pipeline (pairs alone don't dedup anything): transitively
    * linked documents form one cluster, labeled by the minimum document id
    * it contains, which doubles as the canonical representative
    * (`component == id` selects the keeper).
    *
    * Pointer jumping, O(log diameter) rounds with a fixed-size convergence
    * probe (nothing row-shaped reaches the driver): each round propagates
    * the minimum label over every edge (edges⋈labels + partial-aggregated
    * min), then jumps `comp := comp(comp)`, which doubles the effective hop
    * distance per round.
    *
    * Throws if `maxIter` rounds don't converge (a silent partial clustering
    * would under-dedup downstream). Round snapshots and what the result
    * retains: [[graft.core.Snapshot]].
    *
    * @return one row per node: (`idCol`, `component`), both long.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame =
    Snapshot.loop("cc-pj") { loop =>
      val ids = nodes.select(col(idCol).cast("long").as("id")).distinct()
      // eager: every round reads the edge set (r18: a persisted edge set
      // kept q290's whole build in each round's plan, ~0.3–1.0 s of driver
      // planning per ~0.07 s round). Both orientations come from one
      // generator, so the snapshot's job evaluates the caller's pair build
      // (q75's cosine pairs) once. The rounds are lazy: their label-sum
      // probe materializes them.
      val (a, b) = (col(aCol).cast("long"), col(bCol).cast("long"))
      val edges = loop.take(pairs
        .select(inline(array(struct(a.as("s"), b.as("d")),
          struct(b.as("s"), a.as("d")))))
        .distinct(), eager = true)
      // coalesce covers the empty node set: sum() over zero rows is null,
      // and the loop then converges on 0 == 0
      def labelSum(l: DataFrame): Long =
        l.agg(coalesce(sum("comp"), lit(0L))).collect()(0).getLong(0)
      val init = loop.take(ids.withColumn("comp", col("id")), eager = false)
      val r = loop.untilStable(init, Some(labelSum(init)), maxIter,
          eager = false) { labels =>
        val prop = edges.join(labels, col("s") === col("id"))
          .groupBy(col("d"))
          .agg(min(col("comp")).as("pcomp"))
        val merged = labels.join(prop, col("id") === col("d"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"))
        // pointer jumping: comp := comp(comp). Labels are node ids (mins
        // over ids), so the mapping is total and the inner join loses no rows.
        val jump = merged.select(col("id").as("jid"), col("comp").as("jcomp"))
        merged.join(jump, col("comp") === col("jid"))
          .select(col("id"), col("jcomp").as("comp"))
      }(labelSum)
      loop.release(edges)
      if (!r.converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds — " +
            "raise maxIter (cluster diameter exceeds the bound)")
      r.frame.select(col("id").as(idCol), col("comp").as("component"))
    }

  /** Span-level exact substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): remove every token
    * covered by a length-`n` token window whose text occurs ≥ 2 times in
    * the corpus — boilerplate headers, license blocks, and quoted reposts
    * vanish from otherwise-unique documents, which document-level dedup
    * (exact/MinHash) cannot do.
    *
    * The paper builds a corpus suffix array; the Spark-native equivalent
    * is relational, all equi-keyed shuffles, nothing driver-side:
    *
    *  1. positional gram hashes per doc — [[graft.plans.ShingleHashesPos]],
    *     one fused codegen loop, 8-byte keys (hash collisions merge grams
    *     with p ≈ 2⁻⁶⁴ — the q31/q61 content-hash caveat);
    *  2. corpus gram counts with map-side partial agg; only grams with
    *     count ≥ 2 survive (the duplicated-span set, ~0.1-5% of grams);
    *  3. join back on the gram hash to recover (doc, start) of every
    *     duplicated occurrence, explode each to its n covered positions
    *     (O(n · duplicated occurrences) rows, not O(corpus));
    *  4. anti-join the positioned token stream against covered positions
    *     and reassemble the survivors in position order (the q56
    *     paragraph-dedup reassembly shape).
    *
    * Documents shorter than `n` tokens carry no spans and pass through
    * unchanged (their duplication is exact dedup's job).
    *
    * @return one row per doc: (`idCol`, `clean_text`, `n_tokens`,
    *         `n_removed`), where `clean_text` is the kept tokens joined by
    *         single spaces (lowercased — span identity is case-folded).
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                n: Int = 15): DataFrame = {
    require(n >= 2, s"span length n=$n must be at least 2")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val base = df.select(col(idCol),
      split(trim(lower(col(textCol))), "\\s+").as("_toks"))
    val grams = base.select(col(idCol),
      posexplode(call_function("shingle_hashes_pos",
        call_function("token_hashes", col("_toks")), lit(n)))
        .as(Seq("_j", "_g")))
    val dup = grams.groupBy(col("_g")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2).select(col("_g"))
    val covered = grams.join(dup, Seq("_g"))
      .select(col(idCol),
        explode(sequence(col("_j"), col("_j") + lit(n - 1))).as("_pos"))
      .distinct()
    val kept = base
      .select(col(idCol), posexplode(col("_toks")).as(Seq("_pos", "_tok")))
      .join(covered, Seq(idCol, "_pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("_pos"), col("_tok")))),
          s => s.getField("_tok")), " ").as("clean_text"),
        count(lit(1)).as("_n_kept"))
    base.select(col(idCol), size(col("_toks")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }

  /** SemDedup-style semantic pruning (Abbas et al. 2023, "SemDedup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the corpus with deterministic k-means, then mark a vector a
    * duplicate iff a SMALLER-id vector in the SAME cluster sits at cosine
    * ≥ `threshold`. Greedy id-ordered pruning, deliberately not transitive
    * closure — the chain a~b~c with a≁c keeps a and c here, which is the
    * SemDedup semantics (CC-based clustering is [[embeddingDedup]]'s job).
    *
    * This is the production-scale path for embedding dedup: candidate
    * pairs are generated per k-means cell via an equi-join on the cluster
    * id — never all-pairs — so pair volume is Σ|cell|², bounded by the
    * clustering instead of the corpus square. Cosines are rounded to the
    * 1e-4 grid BEFORE the threshold compare (the q75 convention), so an
    * engine's last-ulp cosine can't flip a keep/drop verdict.
    *
    * Scale notes: the dup check is one aggregate over within-cell pairs
    * (`min(id) over cell-mates at sim ≥ τ`), re-joined to the assignment —
    * both shuffles keyed on (cluster) then (id). A pathological cell (k
    * too small for the corpus) shows up as a hot cluster key; the fix is
    * more clusters, which is also what recall wants.
    *
    * @return one row per vector: (`idCol`, `cluster`, `is_dup`).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, threshold: Double, iterations: Int = 2): DataFrame = {
    val s = df.sparkSession
    graft.plans.GraftExtensions.register(s)
    val sim4 = (a: Column, b: Column) =>
      floor(call_function("cosine_sim", a, b) * 10000.0 + 0.5) / 10000.0
    val assigned = Similarity.kmeansCluster(df, idCol, vecCol, k, iterations)
    val withVec = df
      .select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("_v"))
      .join(assigned, Seq(idCol))
    val a = withVec.select(col("cluster"), col(idCol).as("_ida"),
      col("_v").as("_va"))
    val b = withVec.select(col("cluster"), col(idCol).as("_idb"),
      col("_v").as("_vb"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("_ida") < col("_idb") &&
        sim4(col("_va"), col("_vb")) >= lit(threshold))
      .select(col("_idb").as(idCol)).distinct()
    withVec.join(dups.withColumn("_dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
  }

  /** End-to-end embedding-cosine near-duplicate dedup: semantic duplicates
    * (translations re-crawled, templated rewrites, boilerplate with token
    * edits) that survive MinHash because their TOKEN overlap is low while
    * their embedding cosine is high.
    *
    * Chain (each stage an existing scale-shaped operator):
    *  1. candidate pairs at `cosine ≥ threshold` — hyperplane-LSH bucketed
    *     (`Similarity.nearDuplicates`: equi-join on (band, bits), never
    *     all-pairs) unless the caller passes a pre-built pair frame with
    *     (`id_a`, `id_b`) columns (exact bounded pairs in the gate query;
    *     an IVF-bucketed pair set at production scale);
    *  2. transitive closure via [[connectedComponents]];
    *  3. keeper = the component minimum id (the CC label), every other
    *     member flagged `is_dup` — the same canonical-keeper rule as
    *     [[exact]], so downstream anti-joins compose across dedup stages.
    *
    * @return one row per input id: (`idCol`, `component`, `is_dup`).
    */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double,
                     pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs.getOrElse(
      Similarity.nearDuplicates(df, idCol, vecCol, threshold))
    connectedComponents(df.select(col(idCol)), idCol,
        p.select(col("id_a"), col("id_b")), "id_a", "id_b")
      .withColumn("is_dup", col(idCol) =!= col("component"))
  }
}
