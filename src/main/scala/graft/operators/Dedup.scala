package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.SimHash.simhash64
import graft.sources.Fixtures.{table, tableParallel}

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash group-by), n-gram Jaccard (shingle inverted index), MinHash
  * + LSH (banded signatures), and SimHash (custom codegen expression).
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison. Exact
  * dedup is one shuffle on the content hash. Jaccard/MinHash build an
  * inverted index (shingle → docs / band-bucket → docs) so only colliding
  * candidates are verified — the standard 100 TB-scale shape where the
  * shuffle key is the shingle/band hash and skew is bounded by dropping
  * ultra-frequent shingles.
  */
object Dedup {

  // shared with the d1/d2 oracle SQL in SparkEntry — interpolated there so
  // tuning either constant can't silently desync the two derivations
  private[graft] val DupCloneCount = 10
  private[graft] val DupCloneOffset = 1000000L

  /** documents, optionally ∪ deterministic exact-duplicate clones (the
    * first [[DupCloneCount]] docs re-emitted under offset ids). Planting
    * is for the graded benchmark/oracle path ONLY — the raw corpus has no
    * byte-identical texts at any sf, so without it the exact-dedup queries
    * would pass vacuously; a production caller gets the unmodified corpus.
    * The clone derivation is replayed identically by the DuckDB oracle.
    */
  private def maybeSeededDocs(
      spark: SparkSession, dir: String, plantClones: Boolean): DataFrame = {
    val d = table(spark, dir, "documents")
    if (!plantClones) d
    else d.unionAll(d.filter(col("doc_id") < DupCloneCount)
      .withColumn("doc_id", col("doc_id") + lit(DupCloneOffset)))
  }

  /** Exact duplicate groups by content hash: one row per distinct text that
    * occurs more than once, with the canonical survivor (min doc_id).
    */
  def exactDuplicateGroups(
      spark: SparkSession, dir: String, plantClones: Boolean = false): DataFrame =
    maybeSeededDocs(spark, dir, plantClones)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Exact dedup keep-set: the doc_ids that survive (first per distinct
    * text). Window formulation — one shuffle on the hash, no join back.
    */
  def exactDedupKeep(
      spark: SparkSession, dir: String, plantClones: Boolean = false): DataFrame = {
    val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    maybeSeededDocs(spark, dir, plantClones)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Distinct word 3-shingles per document: (doc_id, s). The inverted-index
    * building block shared by Jaccard and MinHash.
    * Spark arrays are 0-based; the DuckDB twin uses 1-based `t[i]` with
    * `range(1, len-1)` — same shingle set by construction.
    */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    // tableParallel: the 9-gram explode + per-shingle md5 chain below is
    // the suite's heaviest scan-stage work, and the fixture is a
    // single-row-group file — unsplittable, so it otherwise runs in ONE
    // task (r18 A/B: d4 2.98 → 2.11 s, d3 2.11 → 1.65 s with the scan
    // parallelized; guide §2.5)
    shinglesOf(tableParallel(spark, dir, "documents"))

  /** Same shingling over an arbitrary (doc_id, text) frame — d9 runs it
    * over the planted cross-corpus union.
    */
  private[operators] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")))
          .as("s"))

  /** Default doc-frequency cap for the shingle index — ON in the graded
    * query path, mirrored by `HAVING count(*) <= N` in the DuckDB oracle.
    */
  val DefaultMaxDocFreq = 128

  /** Default Jaccard near-duplicate threshold, shared by every dedup
    * pipeline AND interpolated into their oracle SQL — changing one
    * without the other is impossible by construction.
    */
  val DefaultThreshold = 0.5

  /** All ordered (a, b) pairs from a sorted posting-list column: element i
    * paired with every later element, so a < b by construction. Runs
    * map-side after the group-by — no self-join.
    */
  private[operators] val OrderedPairsExpr =
    """flatten(transform(docs, (x, i) ->
      |  transform(slice(docs, i + 2, size(docs) - i - 1),
      |            y -> struct(x AS a, y AS b))))""".stripMargin

  /** N-gram Jaccard near-duplicate pairs via shingle inverted index:
    * emit candidate pairs per posting list, count common, compute
    * |A∩B|/|A∪B|. Only pairs sharing ≥1 surviving shingle are ever
    * materialized.
    */
  def ngramJaccardPairs(
      spark: SparkSession, dir: String,
      threshold: Double = DefaultThreshold,
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame =
    jaccardPairsFromShingles(shingles(spark, dir), threshold, maxDocFreq)

  /** Jaccard scoring over any (doc_id, s) shingle frame — the engine under
    * [[ngramJaccardPairs]] (inline shingling) and
    * [[ShingleIndex.ngramJaccardPairs]] (materialized index).
    */
  private[graft] def jaccardPairsFromShingles(
      sh: DataFrame, threshold: Double, maxDocFreq: Int): DataFrame = {
    val stats = pairStats(sh, maxDocFreq)
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common")).cast("double")
    stats
      .filter(jac >= threshold)
      .select(col("a"), col("b"), Exact.e(jac, 4).as("jaccard_e4"))
  }

  /** Candidate pairs with overlap statistics from any (doc_id, s) shingle
    * frame: (a, b, common, na, nb) where `common` = shared surviving
    * shingles and na/nb = each side's surviving-shingle count. The shared
    * engine under Jaccard ([[ngramJaccardPairs]]) and containment
    * ([[containmentPairs]]) scoring — posting-list pair emission, one
    * shuffle on the shingle, doc-frequency cap as the skew guard.
    *
    * Deliberately NOT cached: the sizes and pair branches share the same
    * shingle exchange, which Spark's ReusedExchange dedupes (measured
    * equal to the cached form at sf0.1), and an uncached plan can't leak
    * a corpus-scale inverted index in a long-lived driver.
    */
  private[operators] def pairStats(sh: DataFrame, maxDocFreq: Int): DataFrame = {
    val postings = sh
      .groupBy(col("s"))
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) <= maxDocFreq)
    val sizes = postings.select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = postings.select(explode(expr(OrderedPairsExpr)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("common"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
  }

  // ---- density-stress seams -------------------------------------------
  // The dedup families' only super-linear term is quadratic in DUPLICATE
  // DENSITY (posting-list / band-bucket length), bounded by the caps.
  // These seams run the d3/d4/d11 machinery over an arbitrary corpus and
  // meter the candidate-pair volume the caps admit, so the bound is
  // MEASURED (ScaleOpsSpec density stress + docs/SCALING.md), not argued.

  /** d3 over any (doc_id, text) corpus. */
  private[graft] def jaccardPairsOf(
      docs: DataFrame, threshold: Double = DefaultThreshold,
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame =
    jaccardPairsFromShingles(shinglesOf(docs), threshold, maxDocFreq)

  /** d11 over any (doc_id, text) corpus. */
  private[graft] def containmentPairsOf(
      docs: DataFrame, minContainment: Double = DefaultMinContainment,
      maxDocFreq: Int = DefaultMaxDocFreq): DataFrame =
    containmentFromShingles(shinglesOf(docs), minContainment, maxDocFreq)

  /** d4 over any (doc_id, text) corpus. */
  private[graft] def minhashLshPairsOf(
      docs: DataFrame, threshold: Double = DefaultThreshold,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    val sh = shinglesOf(docs).cache()
    minhashLshVerified(minhashSignatures(sh), sh, threshold, maxBucket)
  }

  /** Candidate-pair EXCHANGE volume of the d3/d11 posting-list generator
    * under a doc-frequency cap: Σ over surviving shingles of C(df, 2) —
    * exactly the rows `pairStats` emits before pair-level grouping.
    * `maxDocFreq = Int.MaxValue` meters the uncapped volume.
    */
  private[graft] def postingPairVolume(docs: DataFrame, maxDocFreq: Int): Long =
    shinglesOf(docs)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)))
      .collect()(0).getLong(0)

  /** Candidate-pair volume of the d4 band-bucket generator under a bucket
    * cap: Σ over surviving (band, bucket) groups of C(n, 2).
    */
  private[graft] def bandPairVolume(docs: DataFrame, maxBucket: Int): Long = {
    val sh = shinglesOf(docs)
    bandBuckets(minhashSignatures(sh))
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") <= maxBucket)
      .agg(coalesce(sum(expr("nb * (nb - 1) div 2")), lit(0L)))
      .collect()(0).getLong(0)
  }

  private[graft] val NumPerms = 32
  private val BandSize = 4 // → 8 bands; P(candidate) = 1-(1-s^4)^8

  /** MinHash signatures: per document, the min over its shingle set of the
    * [[graft.functions.PortableHash]] affine permutations — one md5 per
    * shingle (Catalyst's subexpression elimination computes the shared
    * base hash once per row) feeding all 32 permutations, one aggregation
    * over the shingle index, no per-doc loops. The portable hash keeps the
    * whole signature pipeline replayable by the DuckDB oracle, at the same
    * cost shape as seeded-xxhash chains (the digest dominates, the affine
    * step is two multiply-adds).
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    import graft.functions.PortableHash
    // two-step projection: materialize the base hash once per row, then
    // fan out the affine permutations from the named column — one md5 per
    // shingle by construction, independent of codegen subexpression
    // elimination
    val based = sh.select(col("doc_id"), PortableHash.xCol("s").as("x"))
    val hashed = based.select(
      col("doc_id") +:
        (0 until NumPerms).map(p => PortableHash.permCol(p, col("x")).as(s"h$p")): _*)
    val mins = (0 until NumPerms).map(p => min(col(s"h$p")).as(s"h$p"))
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: 8 bands of 4 signature rows each; band bucket key =
    * the band's values joined as a string (portable — the bucket key never
    * leaves the engine, but a string key replays in the oracle, and an
    * equality join on it is exactly as selective as a hashed one). Docs
    * colliding in any band become candidate pairs; candidates are verified
    * with true Jaccard, so false bucket collisions cost work, never
    * wrong answers.
    *
    * Perf note (r4): the portable-hash conversion costs ~1.5 s at sf0.1
    * vs the xxhash64 version (md5 base hash ~0.4 s; the rest is the
    * band-string keys and run variance across this 8-shuffle pipeline —
    * profiled stage-by-stage, no stage is data-bound at this sf). The
    * trade buys end-to-end DuckDB auditability of the whole pipeline
    * (signatures through verified pairs), which we weight above the
    * seconds; at scale the verify joins dominate either way.
    */
  def minhashLshPairs(spark: SparkSession, dir: String, threshold: Double = DefaultThreshold): DataFrame =
    minhashLshFromShingles(shingles(spark, dir), threshold)

  /** The full MinHash+LSH pipeline over any (doc_id, s) shingle frame —
    * shared by the inline path above and the spec twins.
    */
  private[operators] def minhashLshFromShingles(
      shIn: DataFrame, threshold: Double): DataFrame = {
    val sh = shIn.cache()
    minhashLshVerified(minhashSignatures(sh), sh, threshold)
  }

  /** Banding + candidate pairing + true-Jaccard verification over an
    * ALREADY-COMPUTED signature frame (h0..h31 per doc) and the shingle
    * frame that verifies its candidates. The seam that lets
    * [[ShingleIndex.minhashLshPairs]] read signatures materialized at
    * index build instead of re-running the per-pass signature shuffle —
    * at corpus scale that shuffle (one md5 per shingle + a 32-column
    * min-agg) is the dominant cost of the d4 pipeline's front half.
    */
  /** Band-bucket size cap — the d4 counterpart of the shingle
    * doc-frequency cap: a bucket of k near-identical docs emits C(k, 2)
    * candidate pairs, so an ultra-dense duplicate group (a re-posted
    * boilerplate page crawled thousands of times) would make ONE bucket
    * quadratic in its clone count. Buckets above the cap are dropped from
    * candidate generation; the docs in them are byte-near-identical by
    * construction (all 8 bands colliding at this size is only reachable
    * by clones) and are the exact-dedup family's linear-cost job (d1/d2),
    * not the fuzzy pipeline's. Mirrored by `HAVING count(*) <= cap` in
    * the d4 oracle; the density-stress spec measures the bound binding.
    */
  val MaxBandBucket: Int = DefaultMaxDocFreq

  private[operators] def minhashLshVerified(
      sig: DataFrame, sh: DataFrame, threshold: Double,
      maxBucket: Int = MaxBandBucket): DataFrame =
    // verify candidates only: join back to the shingle index
    verifyJaccard(bandedCandidates(sig, maxBucket), sh, sh, threshold)

  /** The capped LSH candidate generation (the d4 front half): banded
    * buckets → bucket cap → posting-list pairing. Factored so the packed
    * b-bit screen (d4b) consumes the SAME candidate set d4 verifies.
    */
  private[graft] def bandedCandidates(
      sig: DataFrame, maxBucket: Int = MaxBandBucket): DataFrame = {
    // the cap must be enforced BEFORE collect_list: filtering on
    // size(docs) after the aggregation still materializes an ultra-dense
    // bucket's entire clone list in one non-spillable aggregation buffer
    // before discarding it — the exact pathology the cap exists to
    // decapitate. So count first (partial-aggregated map-side, the count
    // shuffle carries ~one row per distinct bucket per task) and
    // left-semi the postings down to in-cap buckets, as the d9
    // okBuckets leg does. `bands` is cached because both passes read it
    // — uncached, the second pass would re-run the signature min-agg
    // shuffle, the dominant cost of the pipeline's front half.
    val bands = bandBuckets(sig).cache()
    val okBuckets = bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("nb")).filter(col("nb") <= maxBucket)
      .select(col("band"), col("bucket"))
    // posting-list pairing (see pairStats): one shuffle on the band
    // bucket, pairs emitted map-side from the sorted list
    bands.join(okBuckets, Seq("band", "bucket"), "left_semi")
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
      .select(explode(expr(OrderedPairsExpr)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** The (doc_id, band, bucket) LSH banding of a signature frame —
    * factored so the online judge ([[ShingleIndex.dedupIngestBatch]]) can
    * band a micro-batch and the stored signatures separately and probe
    * one against the other instead of co-shuffling both.
    */
  private[operators] def bandBuckets(sig: DataFrame): DataFrame = {
    val bands = (0 until NumPerms / BandSize).map { b =>
      val cols = (0 until BandSize).map(i => col(s"h${b * BandSize + i}"))
      struct(lit(b).as("band"), concat_ws(",", cols: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** True-Jaccard verification of an (a, b) candidate frame, with each
    * side's shingles supplied separately — `shA`/`shB` may be the same
    * frame (the cold path) or different ones (the online judge: stored
    * postings on the a side, the micro-batch's shingles on the b side).
    */
  private[operators] def verifyJaccard(
      cands: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame = {
    val sizesA = shA.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sizesB = shB.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cands
      .join(shA.as("sa"), col("a") === col("sa.doc_id"))
      .join(shB.as("sb"), col("b") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
    val jac = col("common").cast("double") /
      (col("na.n") + col("nb.n") - col("common")).cast("double")
    common
      .join(sizesA.as("na"), col("a") === col("na.doc_id"))
      .join(sizesB.as("nb"), col("b") === col("nb.doc_id"))
      .filter(jac >= threshold)
      .select(col("a"), col("b"), Exact.e(jac, 4).as("jaccard_e4"))
  }

  /** Duplicate clusters: connected components over the near-duplicate pair
    * graph (transitively: if a~b and b~c, all three are one duplicate
    * group, even when a~c alone is below threshold — the standard corpus-
    * dedup semantics). Each document is labelled with its cluster's
    * minimum doc id; see [[clustersFromPairs]].
    */
  def duplicateClusters(
      spark: SparkSession, dir: String, threshold: Double = DefaultThreshold): DataFrame =
    clustersFromPairs(ngramJaccardPairs(spark, dir, threshold))

  /** d17: the near-duplicate cluster SIZE DISTRIBUTION — the measurement
    * that sizes the dedup decision itself (how much of the corpus sits in
    * 2-doc mirror pairs vs 1000-doc boilerplate families decides whether
    * keep-one dedup or soft down-weighting loses fewer tokens). Two
    * map-side-combined aggregates over the (doc_id, cluster_id) label
    * frame — output is ≤ max-cluster-size rows, trivially collectable at
    * any corpus scale.
    */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** `(doc_id, cluster_id)` labels for an arbitrary near-duplicate pair
    * frame (`a`, `b` doc-id columns): [[GraphOps.connectedComponents]]
    * with the dedup family's column names. The seam that lets the graded
    * query feed from [[ShingleIndex]]'s amortized pairs instead of
    * re-shingling the corpus, and lets production callers plug in any
    * pair generator (SimHash, embedding near-dups) with the same
    * transitive-closure semantics.
    */
  private[graft] def clustersFromPairs(pairs: DataFrame): DataFrame =
    GraphOps.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))

  /** SimHash signatures via the custom codegen expression — one pass per
    * document, no shingle explosion.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), simhash64(split(col("text"), " ")).as("simhash"))

  /** SimHash near-duplicate pairs: band the 60-bit signature into 4×15-bit
    * chunks (pigeonhole: Hamming distance ≤3 ⇒ at least one identical
    * chunk), join per chunk, verify with bit_count(xor) ≤ maxHamming.
    * The pigeonhole bound makes recall exact, so the result is a pure
    * function of the signatures — the oracle can verify it with a
    * brute-force Hamming join without replaying the banding.
    */
  // chunk count for SimHash banding; pigeonhole needs chunks > maxHamming
  private val SimHashChunks = 4
  private val SimHashChunkBits = graft.functions.SimHashUtil.Bits / SimHashChunks
  private val SimHashChunkMask = (1L << SimHashChunkBits) - 1

  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimHashChunks, "pigeonhole needs maxHamming < chunk count")
    val sig = simhashSignatures(spark, dir)
    val chunks = sig.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until SimHashChunks).map(i =>
        struct(lit(i).as("chunk"),
          shiftrightunsigned(col("simhash"), i * SimHashChunkBits)
            .bitwiseAND(lit(SimHashChunkMask)).as("ck"))): _*))
        .as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk"), col("c.ck"))
    // posting-list pairing per (chunk, ck) bucket; the signature rides in
    // the struct (sort is by doc_id first — lexicographic on structs)
    chunks
      .groupBy(col("chunk"), col("ck"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("docs"))
      .select(explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs) - i - 1),
          |            y -> struct(x.doc_id AS a, y.doc_id AS b,
          |                        x.simhash AS ha, y.simhash AS hb))))""".stripMargin)).as("p"))
      .select(
        col("p.a").as("a"), col("p.b").as("b"),
        bit_count(col("p.ha").bitwiseXOR(col("p.hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- d9: cross-corpus fuzzy join (md5-affine MinHash, fully oracled) --

  /** Affine-permutation MinHash over the [[graft.functions.PortableHash]]
    * base (shared with d4/d5/d6/d7 since the portable-hash conversion):
    * the WHOLE pipeline (signatures, band keys, candidate set, verified
    * pairs) replays in DuckDB and hash-checks green. The cross-corpus
    * (eval×train) shape is the fuzzy complement of t13's exact n-gram
    * decontamination.
    */
  private val CrossP = graft.functions.PortableHash.P
  private[operators] val CrossPerms = 16
  private val CrossBandRows = 4 // 4 bands of 4: P(candidate) = 1-(1-s^4)^4
  private[operators] def crossA(i: Int): Long = graft.functions.PortableHash.permA(i)
  private[operators] def crossB(i: Int): Long = graft.functions.PortableHash.permB(i)
  private val CrossEvalCut = 50L
  private val CrossPlantBase = 1000000L

  /** Corpus for the cross-corpus join, shared with the oracle: with
    * planting on, train docs with doc_id % 100 == 50 gain an eval-side
    * near-copy (first token dropped) at doc_id + 1,000,000 — the graded
    * corpus has no cross-boundary near-dups of its own, same vacuity rule
    * as d1/d2/v5.
    */
  private def crossDocs(
      spark: SparkSession, dir: String, plantClones: Boolean): DataFrame = {
    val docs = tableParallel(spark, dir, "documents").select(col("doc_id"), col("text"))
    if (!plantClones) docs
    else docs.unionAll(
      docs.filter(col("doc_id") % 100 === 50)
        .select(
          (col("doc_id") + CrossPlantBase).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  /** Near-duplicate (eval, train) pairs: signatures → banded candidate
    * buckets → eval×train bucket join → exact-Jaccard verification of
    * candidates only. One shuffle builds signatures, one the band join,
    * and the verify joins are candidate-driven — the full eval×train
    * cross product never exists.
    */
  def crossCorpusFuzzyPairs(
      spark: SparkSession, dir: String,
      plantClones: Boolean = false, threshold: Double = DefaultThreshold): DataFrame = {
    val sh = shinglesOf(crossDocs(spark, dir, plantClones))
    crossFuzzyFromParts(crossSignatures(sh), sh, threshold)
  }

  /** The planted eval-clone frame of the graded d9 fixture: every
    * doc_id % 100 == 50 document re-emitted at +[[CrossPlantBase]] with
    * its first word dropped — factored out so the index-fed twin
    * ([[ShingleIndex.crossCorpusFuzzyPairs]]) can derive ONLY the
    * planted 1% inline while the other 99% of signatures come from the
    * materialized index.
    */
  private[operators] def crossPlantedDocs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 100 === 50)
      .select(
        (col("doc_id") + CrossPlantBase).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))

  /** The 16-permutation cross-corpus MinHash signature of a (doc_id, s)
    * shingle frame. Same [[graft.functions.PortableHash]] affine family
    * (and the same base-hash projection) as the 32-permutation
    * [[minhashSignatures]], so the stored index signatures' first 16
    * columns ARE this frame for any already-indexed document.
    */
  private[operators] def crossSignatures(sh: DataFrame): DataFrame = {
    // two-step projection: one md5 per shingle (see minhashSignatures)
    val based = sh.select(col("doc_id"), graft.functions.PortableHash.xCol("s").as("x"))
    val hashed = based.select(
      col("doc_id") +:
        (0 until CrossPerms).map(i =>
          ((lit(crossA(i)) * col("x") + crossB(i)) % CrossP).as(s"h$i")): _*)
    val minAggs = (0 until CrossPerms).map(i => min(col(s"h$i")).as(s"h$i"))
    hashed.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** Banding + capped eval×train candidate join + exact-Jaccard
    * verification over an already-computed 16-perm signature frame and
    * the shingle frame that verifies its candidates — the seam that lets
    * the index-fed twin feed stored signatures/postings instead of
    * re-shingling the corpus (the d4 → [[minhashLshVerified]] move).
    */
  private[operators] def crossFuzzyFromParts(
      sig: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val bandKeys = (0 until CrossPerms / CrossBandRows).map { b =>
      concat_ws(",", (0 until CrossBandRows).map(r => col(s"h${CrossBandRows * b + r}")): _*)
    }
    val bands = sig.select(col("doc_id"), posexplode(array(bandKeys: _*)))
      .toDF("doc_id", "band", "bkey")
    // same bucket-size cap as d4 (MaxBandBucket, mirrored in the oracle):
    // an ultra-dense bucket — boilerplate crawled into BOTH corpora —
    // would make the eval×train join quadratic in its clone count; docs
    // that dense are exact dedup's job, not decontamination's
    val okBuckets = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("nb")).filter(col("nb") <= MaxBandBucket)
      .select(col("band"), col("bkey"))
    val bandsOk = bands.join(okBuckets, Seq("band", "bkey"), "left_semi")
    val isEval = col("doc_id") < CrossEvalCut || col("doc_id") >= CrossPlantBase
    val evalBands = bandsOk.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("band"), col("bkey"))
    val trainBands = bandsOk.filter(!isEval)
      .select(col("doc_id").as("train_id"), col("band"), col("bkey"))
    val cand = evalBands.join(trainBands, Seq("band", "bkey"))
      .select(col("eval_id"), col("train_id")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col("doc_id").as("eval_id"), col("s")), "eval_id")
      .join(sh.select(col("doc_id").as("train_id"), col("s")), Seq("train_id", "s"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("nc"))
    val jac = col("nc").cast("double") /
      (col("se.n") + col("st.n") - col("nc")).cast("double")
    common
      .join(sizes.as("se"), col("eval_id") === col("se.doc_id"))
      .join(sizes.as("st"), col("train_id") === col("st.doc_id"))
      .filter(jac >= threshold)
      .select(col("eval_id"), col("train_id"), Exact.e(jac, 4).as("jaccard_e4"))
  }

  /** Window length for exact n-gram decontamination (d15) — the 13-gram
    * convention of GPT-3's appendix-C overlap analysis (Brown et al.
    * 2020), carried by PaLM and Llama: an eval answer leaked into the
    * training set almost never survives verbatim past 13 words by
    * chance, and shorter windows flood on common phrases.
    */
  val DecontamN = 13

  /** d15: EXACT n-gram decontamination — flag every TRAIN document that
    * shares at least one verbatim [[DecontamN]]-gram with the EVAL set,
    * with the count of distinct shared grams as the contamination
    * strength. The exact complement of d9's fuzzy decontamination: d9
    * catches paraphrase-level overlap that exact matching misses, this
    * catches short verbatim answer strings that whole-document Jaccard
    * dilutes below any threshold. Same graded fixture (eval = doc_id <
    * 50 plus the planted first-word-dropped clones; the clones' sources
    * are train docs, so their shared tails make the contamination
    * observable).
    *
    * Scale shape: eval suites are bounded (10⁵–10⁶ grams — benchmarks
    * are small by construction, independent of corpus size), so the
    * distinct eval-gram side BROADCASTS and the train side is one
    * map-only explode + broadcast semi-join + per-doc count with
    * map-side partial aggregation: ONE corpus-sized shuffle (the final
    * groupBy doc_id), no train×eval pair frame, no corpus self-join.
    * Grams travel as md5 hashes, not strings — 16 bytes regardless of
    * window text, and portable for the oracle replay.
    */
  def ngramDecontamination(
      spark: SparkSession, dir: String,
      plantClones: Boolean = false, n: Int = DecontamN): DataFrame = {
    val grams = gramHashes(crossDocs(spark, dir, plantClones), n)
    val isEval = col("doc_id") < CrossEvalCut || col("doc_id") >= CrossPlantBase
    contaminationOf(grams.filter(!isEval),
      grams.filter(isEval).select(col("g")).distinct())
  }

  /** The (doc_id, g) exact n-gram hash relation of a (doc_id, text)
    * frame — d15's map-only explode, factored so the cut-time
    * decontamination ([[graft.streaming.OnlineGate]]) derives eval and
    * train grams through the SAME expression the batch d15 grades.
    */
  private[graft] def gramHashes(docs: DataFrame, n: Int = DecontamN): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= n)
      .select(
        col("doc_id"),
        explode(expr(
          s"""transform(sequence(1, size(toks) - ${n - 1}),
             |  i -> md5(cast(concat_ws(' ', slice(toks, i, $n)) AS binary)))""".stripMargin))
          .as("g"))

  /** d15's contamination rollup over pre-derived gram relations: train
    * grams semi-joined against the BROADCAST eval-gram frame (eval
    * suites are benchmark-bounded at any corpus scale — the d15 waiver),
    * then the per-doc distinct-gram count. ONE corpus-sized shuffle.
    */
  private[graft] def contaminationOf(
      trainGrams: DataFrame, evalGrams: DataFrame): DataFrame =
    trainGrams
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_grams"))

  /** t60: the per-SUITE contamination report — the table a lab publishes
    * next to its eval numbers (Brown et al. 2020 App. C report leakage
    * per benchmark, because "0.3% of the corpus is dirty" hides that one
    * suite is 40% leaked): for each eval suite, its distinct 13-gram
    * count, how many of those grams appear in training documents, the
    * leak rate, and how many training docs carry any of them. Suites are
    * the deterministic doc_id % 4 partition of the eval range (the
    * corpus has no suite column — same planting convention as t16/t58).
    *
    * Scale shape: rides d15's exact machinery — eval side bounded by the
    * benchmark suites (broadcast), train side one explode + broadcast
    * join; the rollups group on (suite, g)/(suite, doc) then 4-row
    * suite keys, all map-side partial-aggregated. Output: |suites| rows.
    */
  def contaminationReport(
      spark: SparkSession, dir: String,
      plantClones: Boolean = false, n: Int = DecontamN): DataFrame = {
    val grams = crossDocs(spark, dir, plantClones)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= n)
      .select(
        col("doc_id"),
        explode(expr(
          s"""transform(sequence(1, size(toks) - ${n - 1}),
             |  i -> md5(cast(concat_ws(' ', slice(toks, i, $n)) AS binary)))""".stripMargin))
          .as("g"))
    val isEval = col("doc_id") < CrossEvalCut || col("doc_id") >= CrossPlantBase
    val evalG = grams.filter(isEval)
      .select(pmod(col("doc_id"), lit(4L)).as("suite"), col("g")).distinct()
    val trainG = grams.filter(!isEval).select(col("doc_id"), col("g")).distinct()
    val per = evalG.groupBy(col("suite")).agg(count(lit(1)).as("n_eval_grams"))
    val leak = trainG.join(broadcast(evalG), Seq("g"))
      .groupBy(col("suite"))
      .agg(
        countDistinct(col("g")).as("n_leaked_grams"),
        countDistinct(col("doc_id")).as("n_contaminated_docs"))
    per.join(leak, Seq("suite"), "left")
      .select(col("suite"), col("n_eval_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"))
      .withColumn("leak_rate_e4", expr("n_leaked_grams * 10000 div n_eval_grams"))
  }

  /** DuckDB twin of [[contaminationReport]] with planting on. */
  def contaminationReportOracleSql: String = {
    val n = DecontamN
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $CrossPlantBase, substr(text, strpos(text, ' ') + 1)
       |  FROM documents WHERE doc_id % 100 = 50),
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM docs
       |  WHERE len(string_split(text, ' ')) >= $n),
       |grams AS (
       |  SELECT doc_id, md5(array_to_string(t[i:i + ${n - 1}], ' ')) AS g
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - ${n - 2})) AS i) r),
       |eg AS (
       |  SELECT DISTINCT doc_id % 4 AS suite, g FROM grams
       |  WHERE doc_id < $CrossEvalCut OR doc_id >= $CrossPlantBase),
       |tg AS (
       |  SELECT DISTINCT doc_id, g FROM grams
       |  WHERE doc_id >= $CrossEvalCut AND doc_id < $CrossPlantBase),
       |per AS (SELECT suite, count(*) AS n_eval_grams FROM eg GROUP BY suite),
       |lk AS (
       |  SELECT eg.suite, count(DISTINCT eg.g) AS n_leaked_grams,
       |    count(DISTINCT tg.doc_id) AS n_contaminated_docs
       |  FROM tg JOIN eg USING (g) GROUP BY eg.suite)
       |SELECT per.suite, cast(per.n_eval_grams AS bigint) AS n_eval_grams,
       |  cast(coalesce(lk.n_leaked_grams, 0) AS bigint) AS n_leaked_grams,
       |  cast(coalesce(lk.n_contaminated_docs, 0) AS bigint)
       |    AS n_contaminated_docs,
       |  cast(coalesce(lk.n_leaked_grams, 0) * 10000 // per.n_eval_grams
       |    AS bigint) AS leak_rate_e4
       |FROM per LEFT JOIN lk ON lk.suite = per.suite""".stripMargin
  }

  /** DuckDB twin of [[ngramDecontamination]] with planting on. */
  def ngramDecontaminationOracleSql: String = {
    val n = DecontamN
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $CrossPlantBase, substr(text, strpos(text, ' ') + 1)
       |  FROM documents WHERE doc_id % 100 = 50),
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM docs
       |  WHERE len(string_split(text, ' ')) >= $n),
       |grams AS (
       |  SELECT doc_id, md5(array_to_string(t[i:i + ${n - 1}], ' ')) AS g
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - ${n - 2})) AS i) r),
       |eg AS (
       |  SELECT DISTINCT g FROM grams
       |  WHERE doc_id < $CrossEvalCut OR doc_id >= $CrossPlantBase)
       |SELECT doc_id, cast(count(DISTINCT g) AS bigint) AS n_contaminated_grams
       |FROM grams JOIN eg USING (g)
       |WHERE doc_id >= $CrossEvalCut AND doc_id < $CrossPlantBase
       |GROUP BY doc_id""".stripMargin
  }

  // ---- DuckDB oracle twins for the portable-hash dedup pipelines ------

  private def duckP: Long = graft.functions.PortableHash.P

  /** CTE text for the distinct word-3-shingle relation `sh` over
    * `documents` — the twin of [[shingles]] (no doc-frequency cap:
    * signatures hash the full shingle set).
    */
  private val DuckShingleCtes =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS s
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r)""".stripMargin

  /** CTE text for `sig(doc_id, h0..h{n-1})` — the twin of
    * [[minhashSignatures]] over the `sh` relation. Shared by the d4 and
    * d9 oracle builders (their sig pipelines are identical modulo
    * permutation count).
    */
  private def duckMinhashSigCtes(perms: Int): String = {
    val hmins = (0 until perms).map(i =>
      s"min(${graft.functions.PortableHash.duckPerm(i, "x")}) AS h$i").mkString(",\n    ")
    s"""hx AS (
       |  SELECT doc_id, ${graft.functions.PortableHash.duckMd5Prefix60("s")} % $duckP AS x
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $hmins
       |  FROM hx GROUP BY doc_id)""".stripMargin
  }

  /** UNION ALL band-key selects over `sig` — shared by d4 and d9. */
  private def duckBandSelects(perms: Int, bandRows: Int): String =
    (0 until perms / bandRows).map { b =>
      val cols = (0 until bandRows).map(r => s"h${bandRows * b + r}")
      s"SELECT doc_id, $b AS band, concat_ws(',', ${cols.mkString(", ")}) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")

  /** The full d4 CTE chain through VERIFIED pairs — factored so the d4
    * and d18 oracles share one text and cannot desync on the banding,
    * the bucket cap, or the verification threshold.
    */
  private def duckD4VerifiedCtes: String =
    s"""bands AS (
       |  ${duckBandSelects(NumPerms, BandSize)}),
       |bcap AS (
       |  SELECT band, bkey FROM bands GROUP BY band, bkey
       |  HAVING count(*) <= $MaxBandBucket),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x
       |  JOIN bcap c ON c.band = x.band AND c.bkey = x.bkey
       |  JOIN bands y ON y.band = x.band AND y.bkey = x.bkey
       |              AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT c.a, c.b, count(*) AS nc
       |  FROM cand c
       |  JOIN sh xa ON xa.doc_id = c.a
       |  JOIN sh yb ON yb.doc_id = c.b AND yb.s = xa.s
       |  GROUP BY 1, 2),
       |verified AS (
       |  SELECT com.a, com.b,
       |    cast(floor(cast(nc AS double) / (sza.n + szb.n - nc) * 10000.0 + 0.5)
       |      AS bigint) AS jaccard_e4
       |  FROM com
       |  JOIN sizes sza ON sza.doc_id = com.a
       |  JOIN sizes szb ON szb.doc_id = com.b
       |  WHERE cast(nc AS double) / (sza.n + szb.n - nc) >= $DefaultThreshold)"""
      .stripMargin

  /** DuckDB twin of [[minhashLshPairs]] (d4): same signatures, same 8×4
    * banding, same candidate set, same exact-Jaccard verification.
    */
  def minhashLshOracleSql: String =
    s"""WITH $DuckShingleCtes,
       |${duckMinhashSigCtes(NumPerms)},
       |$duckD4VerifiedCtes
       |SELECT a, b, jaccard_e4 FROM verified""".stripMargin

  /** d18 core: 1-bit MinHash (Li & König 2010) Jaccard re-estimation
    * over an already-verified pair frame, from the SAME stored
    * signatures — the sketch-compression trade a 100 TB pipeline cares
    * about: keeping only the low bit of each of the 32 permutations
    * shrinks signature storage 60× (60-bit values → 1 bit), and the
    * collision fraction still estimates J because
    * P[bit match] = J + (1−J)/2, so Ĵ = 2·frac − 1 (exact integer
    * arithmetic: est_e4 = matches·(20000/perms) − 10000). Emitting the
    * estimate NEXT TO the exact verified Jaccard makes the estimator's
    * error directly gradeable.
    *
    * Plan: the pair frame is candidate-bounded (banded, capped); the two
    * signature joins shuffle on doc id with no broadcast hint (the sig
    * frame is corpus-sized); the 32 bit-compares are one codegen
    * projection.
    */
  private[graft] def bbitEstimateFrom(sig: DataFrame, pairs: DataFrame): DataFrame = {
    val matches = (0 until NumPerms)
      .map(p => when(col(s"a_h$p") % 2 === col(s"b_h$p") % 2, 1L).otherwise(0L))
      .reduce(_ + _)
    val sa = sig.select(
      col("doc_id").as("a") +: (0 until NumPerms).map(p => col(s"h$p").as(s"a_h$p")): _*)
    val sb = sig.select(
      col("doc_id").as("b") +: (0 until NumPerms).map(p => col(s"h$p").as(s"b_h$p")): _*)
    pairs.select(col("a"), col("b"), col("jaccard_e4"))
      .join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"), col("jaccard_e4"),
        (matches * lit(20000L / NumPerms) - lit(10000L)).as("bbit_est_e4"))
      .withColumn("abs_err_e4", abs(col("bbit_est_e4") - col("jaccard_e4")))
  }

  /** [[bbitEstimateFrom]] over the STORED packed 1-bit column: the match
    * count is 32 − popcount(bsig1_a XOR bsig1_b) — bit-identical to the
    * per-permutation comparison (bit p of bsig1 IS h_p mod 2, round-trip
    * pinned in ScaleOpsSpec), so the d18 oracle applies verbatim while
    * the per-doc signature read drops from 32 longs to ONE.
    */
  private[graft] def bbitEstimateFromPacked(
      packed: DataFrame, pairs: DataFrame): DataFrame = {
    val matches = lit(NumPerms.toLong) -
      bit_count(col("ab1").bitwiseXOR(col("bb1"))).cast("long")
    pairs.select(col("a"), col("b"), col("jaccard_e4"))
      .join(packed.select(col("doc_id").as("a"), col("bsig1").as("ab1")), "a")
      .join(packed.select(col("doc_id").as("b"), col("bsig1").as("bb1")), "b")
      .select(col("a"), col("b"), col("jaccard_e4"),
        (matches * lit(20000L / NumPerms) - lit(10000L)).as("bbit_est_e4"))
      .withColumn("abs_err_e4", abs(col("bbit_est_e4") - col("jaccard_e4")))
  }

  /** Inline d18 over the corpus (the oracle-replayed form). */
  def bbitMinhashEstimate(
      spark: SparkSession, dir: String,
      threshold: Double = DefaultThreshold): DataFrame = {
    val sh = shingles(spark, dir).cache()
    val sig = minhashSignatures(sh)
    bbitEstimateFrom(sig, minhashLshVerified(sig, sh, threshold))
  }

  /** Minimum screened estimate (e4) a candidate pair must reach to pass
    * the packed b-bit screen (d4b) — set ~2.2σ below [[DefaultThreshold]]
    * (σ ≈ 900 e4 at 32 perms × 4 bits) so the screen's estimation noise
    * rarely rejects genuine threshold-grade pairs an exact verify would
    * keep. The bias is toward keep-too-much, but it is PROBABILISTIC,
    * not absolute: a pair at exactly the 5000 e4 threshold still fails
    * the screen with P ≈ Φ(−2.2) ≈ 1–2% — consumers wiring d4b ahead of
    * d4's exact verification must budget that residual false-negative
    * rate (or lower this cutoff to buy recall with more verify work).
    */
  val BbitScreenMinE4 = 3000L

  /** The packed b-bit signature columns (Li & König 2010) of a 32-perm
    * signature frame: `bsig1` packs bit p = h_p mod 2 into ONE long (the
    * d18 1-bit estimator's entire per-doc state — 32 stored longs → 1,
    * the b-bit storage claim made real at the index level) and
    * `bsig4_0`/`bsig4_1` pack nibble p = h_p mod 16, 16 nibbles per long
    * (the 4-bit screen's working set: 16 bytes per doc). Pure bitwise
    * codegen (shift/and/or — no arithmetic overflow class), derived once
    * at index build and stored next to the wide signature.
    */
  private[graft] def packedBbitCols: Seq[Column] = {
    val b1 = (0 until NumPerms)
      .map(p => shiftleft(col(s"h$p").bitwiseAND(lit(1L)), p))
      .reduce(_ bitwiseOR _)
    def packNibbles(lo: Int): Column = (0 until 16)
      .map(i => shiftleft(col(s"h${lo + i}").bitwiseAND(lit(15L)), 4 * i))
      .reduce(_ bitwiseOR _)
    Seq(b1.as("bsig1"), packNibbles(0).as("bsig4_0"), packNibbles(16).as("bsig4_1"))
  }

  /** d4b core: screen an (a, b) candidate frame with the PACKED b-bit
    * signatures only — per pair, count matching 4-bit nibbles (m of 32)
    * and re-estimate Jaccard with Li & König's unbiased b-bit estimator
    * Ĵ = (m/k − 2⁻ᵇ)/(1 − 2⁻ᵇ) (exact integer form: (16m − 32)·10⁴ div
    * 480 at k=32, b=4), plus the 1-bit estimate from the single-long
    * XOR popcount. Pairs below [[BbitScreenMinE4]] are screened out
    * BEFORE any posting-list verify: the screen reads 3 longs per doc
    * where the exact verify re-joins the full shingle postings — the IO
    * trade b-bit minwise hashing exists for. The survivors are what a
    * production pass hands to exact verification (or accepts outright
    * when the application tolerates the estimator's variance).
    *
    * Plan: candidates are banded+capped (never all-pairs); the two
    * packed-signature joins shuffle on doc id with no broadcast hint
    * (corpus-sized frame); the nibble compares are one codegen
    * projection. Trunc-vs-floor div never diverges from the oracle: kept
    * rows have non-negative numerators by the filter.
    */
  private[graft] def bbitScreenFrom(packed: DataFrame, cands: DataFrame): DataFrame = {
    val pa = packed.select(col("doc_id").as("a"), col("bsig1").as("ab1"),
      col("bsig4_0").as("a40"), col("bsig4_1").as("a41"))
    val pb = packed.select(col("doc_id").as("b"), col("bsig1").as("bb1"),
      col("bsig4_0").as("b40"), col("bsig4_1").as("b41"))
    def nib(c: Column, i: Int) = shiftrightunsigned(c, 4 * i).bitwiseAND(lit(15L))
    val m4 = ((0 until 16).map(i =>
        when(nib(col("a40"), i) === nib(col("b40"), i), 1L).otherwise(0L)) ++
      (0 until 16).map(i =>
        when(nib(col("a41"), i) === nib(col("b41"), i), 1L).otherwise(0L)))
      .reduce(_ + _)
    val m1 = lit(32L) - bit_count(col("ab1").bitwiseXOR(col("bb1"))).cast("long")
    cands.join(pa, "a").join(pb, "b")
      .select(col("a"), col("b"), m4.as("n_match4"), m1.as("n_match1"))
      .withColumn("est4_e4", expr("(16 * n_match4 - 32) * 10000 div 480"))
      .withColumn("est1_e4", expr("n_match1 * 625 - 10000"))
      .filter(col("est4_e4") >= BbitScreenMinE4)
  }

  /** Inline d4b over the corpus (the oracle-replayed form): the d4
    * banded+capped candidate set, screened by the packed columns derived
    * from the same signatures.
    */
  def bbitScreenedPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(shingles(spark, dir))
    bbitScreenFrom(
      sig.select(col("doc_id") +: packedBbitCols: _*),
      bandedCandidates(sig))
  }

  /** DuckDB twin of the d4b screen: the d4 candidate CTEs, then the
    * nibble/bit matches replayed per permutation (the packed longs are
    * an engine storage artifact; the SEMANTICS — h_p mod 16 / mod 2
    * equality — replay directly, which also sidesteps DuckDB's checked
    * left-shift at bit 63).
    */
  def bbitScreenOracleSql: String = {
    val m4 = "(" + (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i % 16 = sb.h$i % 16 THEN 1 ELSE 0 END)")
      .mkString(" +\n    ") + ")"
    val m1 = "(" + (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i % 2 = sb.h$i % 2 THEN 1 ELSE 0 END)")
      .mkString(" +\n    ") + ")"
    s"""WITH $DuckShingleCtes,
       |${duckMinhashSigCtes(NumPerms)},
       |$duckD4VerifiedCtes
       |SELECT c.a, c.b,
       |  cast($m4 AS bigint) AS n_match4,
       |  cast($m1 AS bigint) AS n_match1,
       |  cast((16 * $m4 - 32) * 10000 // 480 AS bigint) AS est4_e4,
       |  cast($m1 * 625 - 10000 AS bigint) AS est1_e4
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.a
       |JOIN sig sb ON sb.doc_id = c.b
       |WHERE (16 * $m4 - 32) * 10000 // 480 >= $BbitScreenMinE4""".stripMargin
  }

  def bbitMinhashOracleSql: String = {
    val est = "(" + (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i % 2 = sb.h$i % 2 THEN 1 ELSE 0 END)")
      .mkString(" +\n    ") + s") * ${20000 / NumPerms} - 10000"
    s"""WITH $DuckShingleCtes,
       |${duckMinhashSigCtes(NumPerms)},
       |$duckD4VerifiedCtes
       |SELECT v.a, v.b, v.jaccard_e4,
       |  cast($est AS bigint) AS bbit_est_e4,
       |  cast(abs($est - v.jaccard_e4) AS bigint) AS abs_err_e4
       |FROM verified v
       |JOIN sig sa ON sa.doc_id = v.a
       |JOIN sig sb ON sb.doc_id = v.b""".stripMargin
  }

  /** CTE text for `ssig(doc_id, simhash)` — the twin of
    * [[simhashSignatures]] / [[graft.functions.SimHashUtil]]: one row per
    * token INSTANCE (duplicates vote once each), ±1 votes per bit, sign
    * bit-vector. `sum(bigint)` is HUGEINT in DuckDB, hence the cast.
    */
  private val DuckSimhashSigCtes =
    s"""stoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |shx AS (
       |  SELECT doc_id, ${graft.functions.PortableHash.duckMd5Prefix60("tok")} AS x FROM stoks),
       |sbits AS (
       |  SELECT doc_id, i,
       |    sum(CASE WHEN ((x >> i) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM shx, LATERAL (SELECT unnest(range(0, ${graft.functions.SimHashUtil.Bits})) AS i) r
       |  GROUP BY 1, 2),
       |ssig AS (
       |  SELECT doc_id,
       |    cast(sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS bigint) AS simhash
       |  FROM sbits GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[simhashSignatures]] (d5). */
  def simhashSignaturesOracleSql: String =
    s"""WITH $DuckSimhashSigCtes
       |SELECT doc_id, simhash FROM ssig""".stripMargin

  /** DuckDB twin of [[simhashPairs]] (d6). The banded join's pigeonhole
    * bound makes recall exact, so the oracle verifies with a brute-force
    * Hamming join over the signatures — same output, no banding replay.
    */
  def simhashPairsOracleSql: String =
    s"""WITH $DuckSimhashSigCtes
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  cast(bit_count(xor(x.simhash, y.simhash)) AS int) AS hamming
       |FROM ssig x
       |JOIN ssig y ON y.doc_id > x.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin

  /** DuckDB twin of the d7 typed-Aggregator query: same signatures as
    * [[minhashSignatures]] (the UDAF is bit-equal by construction), same
    * comma-joined md5 digest.
    */
  def minhashAggOracleSql: String = {
    val cols = (0 until NumPerms).map(i => s"h$i").mkString(", ")
    s"""WITH $DuckShingleCtes,
       |${duckMinhashSigCtes(NumPerms)}
       |SELECT doc_id, $NumPerms AS sig_len,
       |  md5(concat_ws(',', $cols)) AS sig_digest
       |FROM sig""".stripMargin
  }

  /** DuckDB twin of [[crossCorpusFuzzyPairs]] with planting on — same
    * shingles, same affine MinHash, same bands, same verification.
    */
  def crossCorpusOracleSql: String = {
    s"""WITH docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $CrossPlantBase, substr(text, strpos(text, ' ') + 1)
       |  FROM documents WHERE doc_id % 100 = 50),
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM docs
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS s
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
       |${duckMinhashSigCtes(CrossPerms)},
       |bands AS (
       |  ${duckBandSelects(CrossPerms, CrossBandRows)}),
       |bcap AS (
       |  SELECT band, bkey FROM bands GROUP BY band, bkey
       |  HAVING count(*) <= $MaxBandBucket),
       |cand AS (
       |  SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
       |  FROM bands e
       |  JOIN bcap c ON c.band = e.band AND c.bkey = e.bkey
       |  JOIN bands t ON t.band = e.band AND t.bkey = e.bkey
       |  WHERE (e.doc_id < $CrossEvalCut OR e.doc_id >= $CrossPlantBase)
       |    AND t.doc_id >= $CrossEvalCut AND t.doc_id < $CrossPlantBase),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT c.eval_id, c.train_id, count(*) AS nc
       |  FROM cand c
       |  JOIN sh ea ON ea.doc_id = c.eval_id
       |  JOIN sh tb ON tb.doc_id = c.train_id AND tb.s = ea.s
       |  GROUP BY 1, 2)
       |SELECT com.eval_id, com.train_id,
       |  cast(floor(cast(nc AS double) / (se.n + st.n - nc) * 10000.0 + 0.5) AS bigint)
       |    AS jaccard_e4
       |FROM com
       |JOIN sizes se ON se.doc_id = com.eval_id
       |JOIN sizes st ON st.doc_id = com.train_id
       |WHERE cast(nc AS double) / (se.n + st.n - nc) >= $DefaultThreshold""".stripMargin
  }

  // ---- segment-level exact-substring dedup + containment (d10, d11) ----

  // Partial-copy planting constants, shared by the engine derivation and
  // the oracle CTE below — interpolated on both sides so tuning one can't
  // silently desync the other. Offset 2e6 keeps the planted ids disjoint
  // from both the corpus and the d1/d2 exact-clone range (1e6).
  private[graft] val PartialCopyCount = 10
  private[graft] val PartialCopyOffset = 2000000L
  private[graft] val PartialCopyTokens = 24

  /** documents, optionally ∪ deterministic PARTIAL copies: the first
    * [[PartialCopyCount]] docs re-emitted under offset ids with only their
    * first [[PartialCopyTokens]] tokens — boilerplate/quotation-style
    * duplication that exact dedup (different full text) and symmetric
    * Jaccard (≈0.45 < 0.5 threshold) both miss, which is exactly what the
    * segment and containment operators exist to catch. Planting is for
    * the graded benchmark/oracle path ONLY, same pattern as d1/d2/v5.
    */
  private[graft] def maybePartialCopies(
      spark: SparkSession, dir: String, plantCopies: Boolean): DataFrame = {
    // tableParallel only on the planted (graded d10/d11/d12/t24/t25) path,
    // whose segment-md5 explode dominates its scan; the unplanted t20-leg
    // consumers measured net-negative with the extra exchange (r18 A/B:
    // t20 +0.35 s, t64 +0.39 s, t34 +0.43 s vs d12 −0.58 s, t25 −0.56 s)
    val d = (if (plantCopies) tableParallel(spark, dir, "documents")
             else table(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    if (!plantCopies) d
    // one projection, not a unionAll: each branch of a DataFrame union
    // performs its own file scan, so the planted variants are emitted as
    // extra structs from the SAME scan (the ShingleIndex.frameOf trick) —
    // halves the corpus reads of every planted pass (d10/d11/t24/t25)
    else d.select(explode(expr(
        s"""concat(
           |  array(struct(doc_id, text)),
           |  CASE WHEN doc_id < ${PartialCopyCount}L
           |       THEN array(struct(doc_id + ${PartialCopyOffset}L AS doc_id,
           |                         concat_ws(' ', slice(split(text, ' '), 1, $PartialCopyTokens)) AS text))
           |       ELSE array() END)""".stripMargin)).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  /** DuckDB twin of [[maybePartialCopies]] with planting ON — the `docs`
    * CTE body shared by the d10/d11 oracles.
    */
  private def partialCopyDocsCte: String =
    s"""docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PartialCopyOffset AS doc_id,
       |    array_to_string((string_split(text, ' '))[1:$PartialCopyTokens], ' ') AS text
       |  FROM documents WHERE doc_id < $PartialCopyCount)""".stripMargin

  /** Tokens per non-overlapping dedup segment (d10). */
  val SegmentTokens = 16

  /** Segment-level exact-substring dedup (the practical form of
    * "deduplicating training data" span removal, Lee et al. 2022,
    * arXiv 2107.06499 — simplified from suffix arrays to fixed
    * token-aligned segments, the shape production pipelines actually
    * shard): split every document into non-overlapping `segTokens`-token
    * segments, find segments occurring in more than one document, and
    * report each document's duplicated-segment fraction — the signal a
    * pipeline thresholds to strip boilerplate spans.
    *
    * Scale shape: segments are emitted map-side, combined per (segment
    * hash, doc) with map-side partial aggregation, the cross-doc
    * frequency is a count aggregate over that frame joined back (each
    * perDoc row is one distinct doc by construction, so no
    * countDistinct), and the per-doc rollup is the final shuffle. Hash
    * keys are md5 — uniform — and a hot boilerplate segment (10⁵–10⁶
    * occurrences in a real crawl) costs a partial-aggregated count row
    * plus an AQE-splittable join partition, never an atomic WindowExec
    * buffer. The count leg re-derives the map-side projection (a second
    * scan): measured against the single-scan count window and a
    * checkpoint-materialized tape under hot-hash floods to 400k
    * occurrences, re-deriving is the fastest of the three at every
    * density (docs/SCALING.md round-13 table) — and the production path
    * is [[ShingleIndex.duplicatedSegments]], where both legs read the
    * compact stored postings and no corpus scan exists at all.
    *
    * Documents shorter than one segment carry no signal and are excluded
    * (their fraction is 0/0).
    */
  def duplicatedSegments(
      spark: SparkSession, dir: String,
      segTokens: Int = SegmentTokens,
      plantCopies: Boolean = false): DataFrame =
    duplicatedSegmentsOf(maybePartialCopies(spark, dir, plantCopies), segTokens)

  /** [[duplicatedSegments]] over any (doc_id, text) frame — the
    * density-test seam (the d10 counterpart of [[substringSpansOf]]).
    */
  private[graft] def duplicatedSegmentsOf(
      docs: DataFrame, segTokens: Int = SegmentTokens): DataFrame = {
    val segs = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= segTokens)
      .select(
        col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, size(toks) div $segTokens - 1),
             |  j -> concat_ws(' ', slice(toks, j * $segTokens + 1, $segTokens)))""".stripMargin))
          .as("seg"))
      .select(col("doc_id"), md5(col("seg").cast("binary")).as("h"))
    segmentDupStats(segs)
  }

  /** Per-doc duplicated-segment stats over any (doc_id, h) segment-hash
    * frame (one row per segment OCCURRENCE — multiplicity matters) —
    * shared by the inline path above and
    * [[ShingleIndex.duplicatedSegments]].
    */
  private[graft] def segmentDupStats(segs: DataFrame): DataFrame = {
    val perDoc = segs.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("cnt"))
    // cross-doc frequency as a count AGGREGATE joined back, not a count
    // window: a hot boilerplate hash (cookie banners recur 10⁵–10⁶× in a
    // real crawl) would put its entire occurrence list through ONE
    // unsplittable WindowExec partition, while the aggregate shuffles
    // map-side-combined counts and the join-back is AQE-skew-splittable.
    // Only hashes seen in >1 doc survive to the join's build side.
    // Bit-equal to the window form by construction (each perDoc row is
    // one distinct doc, so count(*) == distinct docs); the round-13
    // hot-hash flood measured this shape fastest at every density
    // (docs/SCALING.md). Column pruning collapses this leg to a distinct
    // over (h, doc), so ReuseExchange cannot share perDoc's shuffle and
    // the leg re-derives the map-side projection — measured cheaper than
    // either the window sort or a checkpoint-materialized tape.
    val dupH = perDoc.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select(col("h"), lit(true).as("is_dup"))
    perDoc.join(dupH, Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_segments"),
        sum(when(col("is_dup"), col("cnt")).otherwise(lit(0L))).as("n_dup_segments"))
      .select(
        col("doc_id"), col("n_segments"), col("n_dup_segments"),
        Exact.e(col("n_dup_segments").cast("double") / col("n_segments").cast("double"), 4)
          .as("dup_frac_e4"))
  }

  /** DuckDB oracle for [[duplicatedSegments]] at the default segment size
    * with planting ON (the graded d10 configuration).
    */
  def duplicatedSegmentsOracleSql: String = {
    val k = SegmentTokens
    s"""WITH $partialCopyDocsCte,
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM docs
       |  WHERE len(string_split(text, ' ')) >= $k),
       |segs AS (
       |  SELECT doc_id, md5(array_to_string(t[(j * $k + 1):(j * $k + $k)], ' ')) AS h
       |  FROM toks, LATERAL (SELECT unnest(range(0, len(t) // $k)) AS j) r),
       |hd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM segs GROUP BY h)
       |SELECT s.doc_id,
       |  cast(count(*) AS bigint) AS n_segments,
       |  cast(sum(CASE WHEN hd.nd > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_segments,
       |  cast(floor(cast(sum(CASE WHEN hd.nd > 1 THEN 1 ELSE 0 END) AS double)
       |    / count(*) * 10000.0 + 0.5) AS bigint) AS dup_frac_e4
       |FROM segs s JOIN hd USING (h)
       |GROUP BY s.doc_id""".stripMargin
  }

  /** Span REMOVAL (t24): the action [[duplicatedSegments]]'s signal
    * drives — reconstruct each document keeping only the segments whose
    * hash occurs in exactly one document (every occurrence of a
    * cross-document-duplicated span is dropped, the d10 definition), plus
    * the sub-segment tail tokens. Output is the cleaned text and the
    * dropped-token count, exact strings both engines agree on.
    *
    * Scale shape mirrors d10: ONE corpus scan, per-occurrence rows with
    * their position, a min/max window over the segment hash decides
    * uniqueness (min(doc) == max(doc) ⟺ one distinct doc — no
    * countDistinct), and the per-doc reassembly is the final shuffle.
    * Sub-segment documents carry a per-doc surrogate hash so the
    * "segmentless" rows never pile into one NULL window partition (at
    * corpus scale that partition would be the skew hotspot).
    */
  def scrubbedSpans(
      spark: SparkSession, dir: String,
      segTokens: Int = SegmentTokens,
      plantCopies: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("h"))
    scrubAssemble(
      scrubExploded(spark, dir, segTokens, plantCopies)
        .withColumn("uniq", min(col("doc_id")).over(w) === max(col("doc_id")).over(w)),
      segTokens)
  }

  /** [[scrubbedSpans]] with the cross-doc duplication signal supplied as a
    * precomputed one-column (h) frame of duplicated segment hashes — the
    * index-fed path ([[ShingleIndex.duplicatedSegmentHashes]]). The
    * window exchange over every occurrence (which shuffles segment TEXT
    * by hash) is replaced by a broadcast left join against the dup-hash
    * vocabulary; the reconstruction scan and the per-doc reassembly
    * shuffle remain — the corpus's text now travels exactly once. Bit-
    * equal to the window path: uniq ⟺ h absent from the dup set (the
    * per-doc surrogate hashes of sub-segment docs are never in it).
    */
  private[graft] def scrubbedSpansFromDupHashes(
      spark: SparkSession, dir: String, dupHashes: DataFrame,
      segTokens: Int = SegmentTokens,
      plantCopies: Boolean = false): DataFrame =
    scrubAssemble(
      scrubExploded(spark, dir, segTokens, plantCopies)
        // unhinted for the same reason as [[scrubbedSpansOfDocs]]: the
        // dup-span vocabulary is corpus-derived; AQE picks broadcast
        // when it is genuinely small
        .join(dupHashes.select(col("h"), lit(true).as("dup")), Seq("h"), "left")
        .withColumn("uniq", col("dup").isNull),
      segTokens)

  /** Scrub over an arbitrary (doc_id, text) frame with the cross-doc
    * duplication signal supplied as a one-column (h) frame — the
    * cut-time form: the accumulated index provides the duplicated
    * hashes, the raw store provides the text for reassembly.
    */
  private[graft] def scrubbedSpansOfDocs(
      docs: DataFrame, dupHashes: DataFrame,
      segTokens: Int = SegmentTokens): DataFrame =
    scrubAssemble(
      scrubExplodedOf(docs.select(col("doc_id"), col("text")), segTokens)
        // NO broadcast hint: the duplicated-span vocabulary is far
        // smaller than its occurrences but still corpus-derived (distinct
        // boilerplate grows Heaps-style), so the r14 audit's unbounded-
        // broadcast rule applies — AQE demotes this h-equi-join to a
        // broadcast join whenever the vocabulary is genuinely small, and
        // at 100 TB the join degrades to a shuffle instead of an OOM
        .join(dupHashes.select(col("h"), lit(true).as("dup")), Seq("h"), "left")
        .withColumn("uniq", col("dup").isNull),
      segTokens)

  /** The exploded per-occurrence frame both scrub paths share: one row
    * per segment occurrence (j, seg) plus one tail-carrier row per doc,
    * keyed by the segment hash (surrogate `~doc_id` for carriers).
    */
  private def scrubExploded(
      spark: SparkSession, dir: String,
      segTokens: Int, plantCopies: Boolean): DataFrame =
    scrubExplodedOf(maybePartialCopies(spark, dir, plantCopies), segTokens)

  /** [[scrubExploded]] over an arbitrary (doc_id, text) frame — the seam
    * the cut-time scrub ([[graft.streaming.OnlineGate.cut]]) feeds with
    * the ingested corpus.
    */
  private def scrubExplodedOf(docsIn: DataFrame, segTokens: Int): DataFrame = {
    val base = docsIn
      .withColumn("toks", split(col("text"), " "))
      .withColumn("nseg", expr(s"size(toks) div $segTokens"))
      .withColumn("tail", expr(
        s"slice(toks, nseg * $segTokens + 1, size(toks) - nseg * $segTokens)"))
    // One exploded row per segment occurrence PLUS exactly one tail-carrier
    // row per doc: segment rows travel tail-free through the h-partitioned
    // window exchange (duplicating the tail onto every occurrence would
    // ~double a long doc's shuffled payload), and the carrier row doubles
    // as the presence row for sub-segment docs. The nseg >= 1 guard is
    // load-bearing: sequence(0, -1) DESCENDS ([0, -1]) and would fabricate
    // two bogus segments for them (d10 never hits this — it filters
    // size >= segTokens; t24 keeps every doc for reconstruction).
    val exploded = base
      .select(
        col("doc_id"),
        explode(expr(
          s"""concat(
             |  CASE WHEN nseg >= 1
             |    THEN transform(sequence(0, nseg - 1),
             |      j -> struct(j AS j,
             |        concat_ws(' ', slice(toks, j * $segTokens + 1, $segTokens)) AS seg,
             |        CAST(NULL AS array<string>) AS tail))
             |    ELSE array() END,
             |  array(struct(CAST(NULL AS int) AS j, CAST(NULL AS string) AS seg,
             |               tail AS tail)))""".stripMargin)).as("r"))
      .select(
        col("doc_id"), col("r.j").as("j"), col("r.seg").as("seg"), col("r.tail").as("tail"))
      .withColumn("h",
        when(col("seg").isNull, concat(lit("~"), col("doc_id").cast("string")))
          .otherwise(md5(col("seg").cast("binary"))))
    exploded
  }

  /** The per-doc reassembly tail both scrub paths share: `withUniq` is
    * [[scrubExploded]] plus a boolean `uniq` column.
    */
  private def scrubAssemble(withUniq: DataFrame, segTokens: Int): DataFrame =
    withUniq
      .groupBy(col("doc_id"))
      .agg(
        first(col("tail"), ignoreNulls = true).as("tail"), // one carrier per doc
        sort_array(collect_list(
          when(col("uniq") && col("seg").isNotNull, struct(col("j"), col("seg")))))
          .as("kept"),
        sum(when(!col("uniq") && col("seg").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("nd"))
      .select(
        col("doc_id"),
        concat_ws(" ", expr("concat(transform(kept, x -> x.seg), tail)")).as("clean_text"),
        (col("nd") * segTokens).cast("bigint").as("n_dropped_tokens"))

  /** DuckDB oracle for [[scrubbedSpans]] at the default segment size;
    * `plant` ON is the graded configuration both t24 and t25 replay, OFF
    * is the unplanted production corpus (mirrors the operator's
    * `plantCopies = false` default; no graded query uses it today).
    * Groups by the segment STRING — the engine's md5 is a shuffle-size
    * choice, not a semantic one, so the equivalence classes are
    * identical.
    */
  def scrubbedSpansOracleSql: String = scrubbedSpansOracleSql(plant = true)

  def scrubbedSpansOracleSql(plant: Boolean): String = {
    val k = SegmentTokens
    val docsCte =
      if (plant) partialCopyDocsCte
      else "docs AS (SELECT doc_id, text FROM documents)"
    s"""WITH $docsCte,
       |info AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    len(string_split(text, ' ')) // $k AS nseg
       |  FROM docs),
       |segs AS (
       |  SELECT doc_id, j, array_to_string(t[(j * $k + 1):(j * $k + $k)], ' ') AS seg
       |  FROM info, LATERAL (SELECT unnest(range(0, nseg)) AS j) r),
       |hd AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg),
       |ka AS (
       |  SELECT s.doc_id, list(s.seg ORDER BY s.j) AS segl
       |  FROM segs s JOIN hd USING (seg) WHERE hd.nd = 1
       |  GROUP BY s.doc_id),
       |da AS (
       |  SELECT s.doc_id, count(*) AS ndrop
       |  FROM segs s JOIN hd USING (seg) WHERE hd.nd > 1
       |  GROUP BY s.doc_id)
       |SELECT i.doc_id,
       |  -- coalesce: array_to_string of an EMPTY list is NULL in DuckDB,
       |  -- where Spark's concat_ws yields '' (fully-scrubbed tailless doc)
       |  coalesce(array_to_string(
       |    list_concat(coalesce(ka.segl, []), i.t[(i.nseg * $k + 1):]), ' '), '')
       |    AS clean_text,
       |  cast(coalesce(da.ndrop, 0) * $k AS bigint) AS n_dropped_tokens
       |FROM info i
       |LEFT JOIN ka USING (doc_id)
       |LEFT JOIN da USING (doc_id)""".stripMargin
  }

  /** Default containment threshold (d11), shared with the oracle SQL. */
  val DefaultMinContainment = 0.9

  /** Shingle CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ threshold over the
    * same inverted-index candidates as [[ngramJaccardPairs]]. Containment
    * is the asymmetric dedup measure — a short document quoted inside a
    * long one scores ≈1.0 here but only |A|/|B| under Jaccard, so the
    * symmetric pipeline never surfaces it. Same posting-list scale shape
    * as d3 (one shuffle on the shingle, doc-frequency skew cap).
    */
  def containmentPairs(
      spark: SparkSession, dir: String,
      minContainment: Double = DefaultMinContainment,
      maxDocFreq: Int = DefaultMaxDocFreq,
      plantCopies: Boolean = false): DataFrame =
    containmentFromShingles(
      shinglesOf(maybePartialCopies(spark, dir, plantCopies)),
      minContainment, maxDocFreq)

  /** Containment scoring over any (doc_id, s) shingle frame — shared by
    * the inline path above and [[ShingleIndex.containmentPairs]].
    */
  private[operators] def containmentFromShingles(
      sh: DataFrame, minContainment: Double, maxDocFreq: Int): DataFrame = {
    val stats = pairStats(sh, maxDocFreq)
    val cont = col("common").cast("double") /
      least(col("na"), col("nb")).cast("double")
    stats
      .filter(cont >= minContainment)
      .select(col("a"), col("b"), col("common"), Exact.e(cont, 4).as("containment_e4"))
  }

  /** DuckDB oracle for [[containmentPairs]] at the default threshold with
    * planting ON (the graded d11 configuration).
    */
  def containmentPairsOracleSql: String =
    s"""WITH $partialCopyDocsCte,
       |toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM docs
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (
       |  SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS s
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
       |ok_sh AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= $DefaultMaxDocFreq),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN ok_sh USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, cast(common AS bigint) AS common,
       |  cast(floor(cast(common AS double) / least(sa.n, sb.n) * 10000.0 + 0.5) AS bigint)
       |    AS containment_e4
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = pairs.a
       |JOIN sizes sb ON sb.doc_id = pairs.b
       |WHERE cast(common AS double) / least(sa.n, sb.n) >= $DefaultMinContainment""".stripMargin

  // ---- stride-1 exact-substring spans (d12) ----

  /** Stride-1 exact-substring duplicate spans — the FAITHFUL form of
    * "deduplicating training data" ExactSubstr (Lee et al. 2022,
    * arXiv 2107.06499 §4.1), where [[duplicatedSegments]] (d10) is the
    * token-aligned simplification: a window of `k` tokens starting at
    * EVERY token offset is a duplicate if that exact token sequence
    * occurs more than once in the corpus — intra-document repeats
    * included, unlike d10's cross-document-only rule, because ExactSubstr
    * counts occurrences in the concatenated corpus. Overlapping and
    * adjacent duplicated windows are merged into MAXIMAL spans per
    * document (the interval-islands rule), which is what makes the
    * output actionable: a verbatim 40-token quote shared by two docs is
    * ONE reported span of 40 tokens, not 25 overlapping window hits.
    *
    * Output: one row per document that carries at least one duplicated
    * span — (doc_id, n_tokens, n_spans, dup_tokens, dup_frac_e4), where
    * `dup_tokens` is the union size of the merged spans.
    *
    * Scale shape: stride-1 emits k× d10's segment rows — the price of
    * offset-insensitive recall, and the reason production pipelines run
    * this form on a filtered candidate corpus — but every row is narrow
    * (doc_id, j, md5) and the plan is 3 exchanges: window hash → count
    * occurrences (count window over h, hot boilerplate hashes stream
    * through one wide partition, never collected), doc_id → merge
    * islands (two chained window exprs, one sort), and the per-doc
    * rollup reuses the doc_id partitioning (no fourth exchange). No
    * suffix array is materialized: the fixed-k window equality test is
    * the standard distributed relaxation of Lee's suffix-array scan, and
    * any duplicated substring of length ≥ k is still found in full
    * (every k-window inside it is duplicated, so the island merge
    * reconstructs the whole span).
    */
  def substringSpans(
      spark: SparkSession, dir: String,
      k: Int = SegmentTokens,
      plantCopies: Boolean = false): DataFrame =
    substringSpansOf(maybePartialCopies(spark, dir, plantCopies), k)

  /** [[substringSpans]] over any (doc_id, text) frame — the density-test
    * seam. Note what is ABSENT here: no doc-frequency cap. The pair
    * generators (d3/d4/d11) need one because a hot shingle makes
    * candidate volume quadratic in its posting length; d12 never forms
    * pairs — a window duplicated n× contributes n island rows (linear),
    * however hot, so duplicate-density floods cost proportionally and
    * the clone groups still appear in the output (as their own spans) —
    * pinned by the `ScaleOpsSpec` density test.
    *
    * DO NOT "fix" the count WINDOW here to the d10-style join-back: the
    * round-13 hot-hash flood (docs/SCALING.md §"Hot-hash flood", table
    * at 0–4·10⁵ occurrences of one hash) measured the window form
    * LINEAR in the flood and the join alternative SLOWER (4.70 vs
    * 3.21 s at 400k) — stride-1 window hashing dominates the map cost
    * and the join shape derives it twice. d10 moved off its window on
    * the same evidence; the two operators deliberately differ.
    */
  private[graft] def substringSpansOf(
      docs: DataFrame, k: Int = SegmentTokens): DataFrame = {
    val win = docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= k)
      .select(
        col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode(expr(
          s"""transform(sequence(0, size(toks) - $k),
             |  j -> md5(cast(concat_ws(' ', slice(toks, j + 1, $k)) AS binary)))""".stripMargin)))
      .withColumnRenamed("pos", "j")
      .withColumnRenamed("col", "h")
    // total occurrence count per window hash (NOT distinct docs: an
    // intra-doc repeat is a duplicate under ExactSubstr)
    val cnt = count(lit(1)).over(Window.partitionBy(col("h")))
    val dup = win
      .withColumn("cnt", cnt)
      .filter(col("cnt") > 1)
      .select(col("doc_id"), col("n_tokens"), col("j"))
    // interval islands per doc: a window [j, j+k) extends the current
    // span iff j <= running max of previous ends; count the breaks
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    val prevEnd = max(col("j") + lit(k))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("brk",
        when(prevEnd.isNull || col("j") > prevEnd, lit(1L)).otherwise(lit(0L)))
      .withColumn("isl", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(
        first(col("n_tokens")).as("n_tokens"),
        (max(col("j")) + lit(k) - min(col("j"))).cast("long").as("span_tokens"))
      .groupBy(col("doc_id"))
      .agg(
        first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_spans"), col("dup_tokens"),
        Exact.e(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 4)
          .as("dup_frac_e4"))
  }

  /** DuckDB oracle for [[substringSpans]] at the default window size with
    * planting ON (the graded d12 configuration — the planted 24-token
    * partial copies guarantee cross-doc spans; natural intra-doc repeats
    * ride along under the same occurrence-count rule).
    */
  def substringSpansOracleSql: String = {
    val k = SegmentTokens
    s"""WITH $partialCopyDocsCte,
       |info AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM docs
       |  WHERE len(string_split(text, ' ')) >= $k),
       |w AS (
       |  SELECT doc_id, len(t) AS n_tokens, j,
       |    md5(array_to_string(t[(j + 1):(j + $k)], ' ')) AS h
       |  FROM info, LATERAL (SELECT unnest(range(0, len(t) - $k + 1)) AS j) r),
       |hc AS (SELECT h, count(*) AS c FROM w GROUP BY h),
       |dup AS (
       |  SELECT w.doc_id, w.n_tokens, w.j FROM w JOIN hc USING (h) WHERE hc.c > 1),
       |brk AS (
       |  SELECT doc_id, n_tokens, j,
       |    CASE WHEN pe IS NULL OR j > pe THEN 1 ELSE 0 END AS b
       |  FROM (
       |    SELECT doc_id, n_tokens, j,
       |      max(j + $k) OVER (PARTITION BY doc_id ORDER BY j
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
       |    FROM dup)),
       |isl AS (
       |  SELECT doc_id, n_tokens, j,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY j) AS isl
       |  FROM brk),
       |sp AS (
       |  SELECT doc_id, any_value(n_tokens) AS n_tokens, isl,
       |    max(j) + $k - min(j) AS span_tokens
       |  FROM isl GROUP BY doc_id, isl)
       |SELECT doc_id,
       |  cast(any_value(n_tokens) AS bigint) AS n_tokens,
       |  cast(count(*) AS bigint) AS n_spans,
       |  cast(sum(span_tokens) AS bigint) AS dup_tokens,
       |  cast(floor(cast(sum(span_tokens) AS double)
       |    / cast(any_value(n_tokens) AS double) * 10000.0 + 0.5) AS bigint)
       |    AS dup_frac_e4
       |FROM sp GROUP BY doc_id""".stripMargin
  }

  // ---- quality-aware cluster representatives (d13) ----

  /** Quality-aware duplicate-cluster representative selection: for each
    * near-duplicate cluster ([[duplicateClusters]] / d8), keep the member
    * with the HIGHEST quality score (ties → min doc_id) — what production
    * dedup actually does (SlimPajama keeps the longest member; CCNet-style
    * pipelines keep the best-scored one) instead of d8's min-id
    * convention, which throws away a high-quality original whenever a
    * low-id boilerplate copy exists.
    *
    * `clusters` is any (doc_id, cluster_id) assignment; `quality` any
    * (doc_id, quality_e4) scoring. The graded query feeds the index-fed
    * d8 clustering and the t2 quality column.
    *
    * Scale shape: the cluster frame is near-dup-sized (a small fraction
    * of the corpus), so the quality join shuffles only clustered rows;
    * the keeper is two window exprs over cluster_id (one exchange, one
    * sort — count reuses row_number's partitioning).
    */
  private[graft] def clusterRepresentativesFrom(
      clusters: DataFrame, quality: DataFrame): DataFrame = {
    val byCluster = Window.partitionBy(col("cluster_id"))
    clusters
      .join(quality, Seq("doc_id"))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("quality_e4").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(
        col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("n_members"), col("quality_e4").as("rep_quality_e4"))
  }

  // ---- URL-level dedup (d14) ----

  /** Canonicalize a crawl URL with the C4/RefinedWeb rules, as one chain
    * of codegen string expressions (replayed token-identically by the
    * DuckDB oracle): strip the fragment, drop the scheme, lowercase the
    * host and strip a leading `www.`, strip trailing slashes from the
    * path, drop `utm_*` tracking params and empty params, sort the
    * remaining query params.
    */
  private[graft] def canonicalUrlCol(url: Column): Column = {
    val sl = regexp_replace(regexp_replace(url, "#.*", ""), "^[a-zA-Z]+://", "")
    val host = regexp_replace(
      lower(regexp_extract(sl, "^([^/?]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(sl, "^[^/?]+([^?]*)", 1), "/+$", "")
    val qn = array_join(array_sort(filter(
      split(regexp_extract(sl, "\\?(.*)", 1), "&"),
      p => !p.startsWith("utm_") && p =!= "")), "&")
    concat(host, path,
      when(qn === "", lit("")).otherwise(concat(lit("?"), qn)))
  }

  /** URL-level dedup over any (doc_id, url) frame: one row per CANONICAL
    * url with the lowest-id keeper, the member count, and how many
    * distinct raw forms collapsed into it.
    */
  private[graft] def urlDedupOf(urls: DataFrame): DataFrame =
    urls.select(col("doc_id"), col("url"),
        canonicalUrlCol(col("url")).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(
        min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw_forms"))

  /** The deterministic messy crawl URL planted per document for the
    * graded d14 path (the corpus has no URL column — same convention as
    * the t16/t17/t21 planting seams; the oracle replays the identical
    * rule). Canonical content varies on (doc_id % 5, % 7, % 3, % 5=0) —
    * a 105-key space, so groups collapse several documents — while the
    * mess (scheme, WWW casing, trailing slash, utm params, fragment)
    * varies on moduli coprime to it, so every group sees multiple raw
    * forms.
    */
  private[graft] def plantedCrawlUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("http://")).otherwise(lit("https://")),
      when(col("doc_id") % 11 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Site"), (col("doc_id") % 5).cast("string"), lit(".Example.ORG/p/"),
      (col("doc_id") % 7).cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("?utm_source=feed&ref="))
        .otherwise(lit("?ref=")),
      (col("doc_id") % 3).cast("string"),
      when(col("doc_id") % 5 === 0, lit("&b=2&a=1")).otherwise(lit("")),
      when(col("doc_id") % 9 === 0, lit("#top")).otherwise(lit(""))).as("url"))

  /** d14: URL-level deduplication — the FIRST dedup stage of the C4 /
    * RefinedWeb pipelines (Raffel et al. 2020; Penedo et al. 2023 run URL
    * dedup before any content dedup because it needs no text comparison
    * at all).
    *
    * Plan/scale (100 TB): one map-only canonicalization pass (pure
    * codegen string expressions, no UDF), then the d1/d2 hash-groupBy
    * shape — two partial-aggregated exchanges (the (canon, url) distinct
    * that feeds n_raw_forms, then the canonical rollup; drop n_raw_forms
    * and it is exactly one). Group aggregation is linear in group size,
    * so no caps are needed; canonical-key cardinality, not document
    * count, sizes the reduce side.
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    urlDedupOf(plantedCrawlUrls(table(spark, dir, "documents")))

  /** DuckDB replay of [[plantedCrawlUrls]] — shared by the d14 and t55
    * oracles so the planting rule cannot drift between them.
    */
  private[graft] val plantedUrlsSqlCte: String =
    """urls AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN 'WWW.' ELSE '' END) ||
      |    'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.ORG/p/' ||
      |    CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=' ELSE '?ref=' END) ||
      |    CAST(doc_id % 3 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '&b=2&a=1' ELSE '' END) ||
      |    (CASE WHEN doc_id % 9 = 0 THEN '#top' ELSE '' END) AS url
      |  FROM documents)""".stripMargin

  def urlDedupOracleSql: String =
    s"""WITH $plantedUrlsSqlCte,
      |sl AS (SELECT doc_id, url,
      |    regexp_replace(regexp_replace(url, '#.*', ''), '^[a-zA-Z]+://', '') AS s
      |  FROM urls),
      |parts AS (SELECT doc_id, url,
      |    regexp_replace(lower(regexp_extract(s, '^([^/?]+)', 1)), '^www\\.', '') AS host,
      |    regexp_replace(regexp_extract(s, '^[^/?]+([^?]*)', 1), '/+$$', '') AS path,
      |    regexp_extract(s, '\\?(.*)', 1) AS q
      |  FROM sl),
      |canon AS (SELECT doc_id, url,
      |    host || path ||
      |    (CASE WHEN qn = '' THEN '' ELSE '?' || qn END) AS canon_url
      |  FROM (SELECT doc_id, url, host, path,
      |      array_to_string(list_sort(list_filter(string_split(q, '&'),
      |        x -> NOT starts_with(x, 'utm_') AND x <> '')), '&') AS qn
      |    FROM parts))
      |SELECT canon_url, cast(min(doc_id) AS bigint) AS keeper_doc_id,
      |  cast(count(*) AS bigint) AS n_docs,
      |  cast(count(DISTINCT url) AS bigint) AS n_raw_forms
      |FROM canon GROUP BY canon_url""".stripMargin

  // ---- Domain blocklist gate (t58) ----

  /** The blocklist for the graded t58 path — a literal rule table in the
    * engine and the oracle. Entries are REGISTRABLE-domain style rules
    * with subdomain-suffix semantics (a rule blocks its own host and
    * every subdomain of it, the C4/RefinedWeb "bad domain" convention);
    * `site1.example.net` alongside `example.net` makes the
    * longest-rule-wins precedence observable.
    */
  private[graft] val DomainBlocklist = Seq(
    "site2.example.org", "example.net", "site1.example.net",
    "cdn.site4.example.org")

  /** The deterministic host planted per document for t58 — a DIFFERENT
    * seam than [[plantedCrawlUrls]] (d14 needs messy raw forms of few
    * canonical urls; the blocklist gate needs genuine subdomain depth),
    * so the two plantings stay independent. cdn.-prefixed on doc_id%3=0,
    * 5 sites, org/net TLD split on parity.
    */
  private[graft] def plantedHostCol(docId: Column): Column = concat(
    when(docId % 3 === 0, lit("cdn.")).otherwise(lit("")),
    lit("site"), (docId % 5).cast("string"),
    when(docId % 2 === 0, lit(".example.org")).otherwise(lit(".example.net")))

  private[graft] def plantedHosts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), plantedHostCol(col("doc_id")).as("host"))

  /** Per-row blocklist verdict as ONE codegen boolean — the form the
    * at-arrival ingest gate composes (it needs pass/block, not the
    * matched rule, so the suffix explosion + rule join of the full t58
    * report collapses to a literal OR-chain over [[DomainBlocklist]]).
    * `StreamingSpec` pins at-arrival ≡ cold; `DedupSimilaritySpec` pins
    * it against [[domainBlocklistGate]]'s blocked column.
    */
  private[graft] def domainPassCol(docId: Column): Column = {
    val host = plantedHostCol(docId)
    !DomainBlocklist
      .map(r => host === lit(r) || host.endsWith(lit("." + r)))
      .reduce(_ || _)
  }

  /** t58: domain-blocklist gate — the URL-level filter every crawl
    * pipeline runs FIRST (C4 "bad words" domains, RefinedWeb blocklists:
    * Raffel et al. 2020 §2.2, Penedo et al. 2023 §3.1), with
    * subdomain-suffix matching and most-specific-rule-wins precedence.
    * Output: every document with its host, whether it is blocked, and
    * the rule that decided (null when kept).
    *
    * Plan/scale (100 TB): map-only suffix explosion — a host of p labels
    * emits its ≤p domain suffixes (p ≤ 5 in practice, a constant factor,
    * never a corpus-scale blowup) — into a broadcast-hash join against
    * the literal rule table, one map-side-combined max(struct) per doc
    * for the longest-match, and a doc_id-partitioned join back. No
    * window, no UDF; the explosion and both joins stay in whole-stage
    * codegen.
    */
  def domainBlocklistGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hosts = plantedHosts(table(spark, dir, "documents"))
    val sufs = hosts
      .withColumn("parts", split(col("host"), "\\."))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(parts)),
          |  i -> array_join(slice(parts, i, size(parts) - i + 1), '.'))"""
          .stripMargin)).as("suf"))
    val rules = DomainBlocklist.toDF("rule")
    // longest matching rule wins; ties (distinct same-length rules) break
    // lexicographically-greatest — mirrored exactly by the oracle's
    // ORDER BY length DESC, rule DESC
    val best = sufs.join(broadcast(rules), col("suf") === col("rule"))
      .groupBy(col("doc_id"))
      .agg(max(struct(length(col("rule")).as("l"), col("rule").as("r"))).as("m"))
      .select(col("doc_id"), col("m.r").as("matched_rule"))
    hosts.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("host"),
        col("matched_rule").isNotNull.as("blocked"), col("matched_rule"))
  }

  def domainBlocklistOracleSql: String = {
    val ruleList = DomainBlocklist.map(r => s"'$r'").mkString(", ")
    s"""WITH hosts AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END) ||
      |    'site' || CAST(doc_id % 5 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '.example.org' ELSE '.example.net' END)
      |      AS host
      |  FROM documents),
      |rules AS (SELECT unnest([$ruleList]) AS rule),
      |sufs AS (
      |  SELECT doc_id, array_to_string(parts[i:], '.') AS suf
      |  FROM (SELECT doc_id, string_split(host, '.') AS parts FROM hosts) h,
      |  LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) r),
      |best AS (
      |  SELECT doc_id, rule FROM (
      |    SELECT doc_id, rule, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY length(rule) DESC, rule DESC) AS rn
      |    FROM sufs JOIN rules ON rules.rule = sufs.suf)
      |  WHERE rn = 1)
      |SELECT h.doc_id, h.host, best.rule IS NOT NULL AS blocked,
      |  best.rule AS matched_rule
      |FROM hosts h LEFT JOIN best ON best.doc_id = h.doc_id""".stripMargin
  }

  // ---- Per-source dedup attrition (t57) ----

  /** t57: dedup attrition by source — documents and tokens per source
    * before vs after exact dedup (d2's keeper rule), with the surviving
    * token fraction. This is the number a data card reports next to the
    * mixture weights (t29/t38): how much of each source's raw volume the
    * dedup chain actually delivers to training, and which sources are
    * mostly clones. One doc_id-equi join of the keeper frame onto the
    * per-doc token projection, then ONE |sources|-bounded groupBy with
    * map-side partial aggregation — at 100 TB the report costs one
    * shuffle of (doc_id, flag) pairs beyond the d2 pass it rides.
    */
  def dedupAttritionBySource(
      spark: SparkSession, dir: String, plantClones: Boolean = true): DataFrame = {
    // planted clones, same corpus as the graded d1/d2: the raw fixture
    // has no byte-identical texts, so raw attrition would be vacuously 0
    val docs = maybeSeededDocs(spark, dir, plantClones)
    val keepers = exactDedupKeep(spark, dir, plantClones)
      .select(col("doc_id"), lit(true).as("is_keeper"))
    docs.select(col("doc_id"), col("source"),
        TextAnalysis.nTokensCol(col("text")).as("tk"))
      .join(keepers, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(col("is_keeper"), lit(false)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tk")).as("n_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("tk")).otherwise(0L)).as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("kept_docs"), col("kept_tokens"),
        Exact.e(col("kept_tokens").cast("double") / col("n_tokens").cast("double"), 4)
          .as("kept_frac_e4"))
  }

  def dedupAttritionOracleSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + $DupCloneOffset, text, source FROM documents
      |  WHERE doc_id < $DupCloneCount),
      |k AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM corpus)
      |  WHERE rn = 1),
      |per AS (
      |  SELECT d.doc_id, d.source,
      |    cast(length(text) - length(replace(text, ' ', '')) + 1 AS bigint) AS tk,
      |    d.doc_id IN (SELECT doc_id FROM k) AS kept
      |  FROM corpus d)
      |SELECT source,
      |  count(*) AS n_docs,
      |  cast(sum(tk) AS bigint) AS n_tokens,
      |  cast(count(*) FILTER (WHERE kept) AS bigint) AS kept_docs,
      |  cast(coalesce(sum(tk) FILTER (WHERE kept), 0) AS bigint) AS kept_tokens,
      |  cast(floor(cast(coalesce(sum(tk) FILTER (WHERE kept), 0) AS double)
      |    / sum(tk) * 10000.0 + 0.5) AS bigint) AS kept_frac_e4
      |FROM per GROUP BY source""".stripMargin

  // ---- Threshold sensitivity sweep (d16) ----

  /** Sweep floor as a bucket index (jaccard 0.30 at 0.05 grain): the
    * sweep scores every capped candidate pair once and histograms from
    * here up, so the floor is a bucket comparison — bit-identical in
    * both engines — never a float threshold test.
    */
  val SweepFloorBucket: Int = 6

  /** d16: dedup threshold sensitivity — the measurement you run BEFORE
    * committing a near-dup threshold on 100 TB: how many pairs (and thus
    * how much of the corpus) each candidate threshold would merge. One
    * row per 0.05 jaccard bucket ≥ 0.30 with the bucket count and the
    * cumulative pairs-at-or-above count — the knee of that curve is the
    * defensible threshold choice (Lee et al. 2022 pick 0.8 this way).
    *
    * Plan/scale (100 TB): the pair scoring is d3's capped inverted-index
    * machinery (posting lists doc-freq-capped, so candidate volume is
    * density-bounded — measured in docs/SCALING.md); the sweep adds ONE
    * map-side-combined groupBy into a ≤15-row bucket frame and a window
    * over THAT frame (waived: constant-size at any sf). Running the
    * sweep costs the same as running d3 once at the floor threshold —
    * not once per candidate threshold.
    */
  def thresholdSensitivity(spark: SparkSession, dir: String): DataFrame =
    sweepFromShingles(shingles(spark, dir))

  /** The sweep over any (doc_id, s) shingle frame — shared by the inline
    * d16 and the index-fed d16i (the build-once path, same discipline as
    * the d3/d3i pair).
    */
  private[graft] def sweepFromShingles(sh: DataFrame): DataFrame = {
    val stats = pairStats(sh, DefaultMaxDocFreq)
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common")).cast("double")
    val hist = stats
      .select(floor(jac * lit(20)).cast("bigint").as("b"))
      .filter(col("b") >= lit(SweepFloorBucket))
      .groupBy(col("b")).agg(count(lit(1)).as("n_pairs"))
    hist.select(
      (col("b") * lit(5)).as("threshold_e2"),
      col("n_pairs"),
      sum(col("n_pairs")).over(Window.orderBy(col("b").desc)).as("n_pairs_ge"))
  }

  def thresholdSensitivityOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh0 AS (
       |  SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS s
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
       |ok_sh AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= $DefaultMaxDocFreq),
       |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN ok_sh USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |bk AS (
       |  SELECT cast(floor(cast(common AS double) / (sa.n + sb.n - common) * 20) AS bigint) AS b
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = pairs.a
       |  JOIN sizes sb ON sb.doc_id = pairs.b),
       |hist AS (
       |  SELECT b, count(*) AS n_pairs FROM bk WHERE b >= $SweepFloorBucket GROUP BY b)
       |SELECT b * 5 AS threshold_e2, n_pairs,
       |  cast(sum(n_pairs) OVER (ORDER BY b DESC) AS bigint) AS n_pairs_ge
       |FROM hist""".stripMargin

  // ---- Per-host quota (t55) ----

  /** Documents kept per canonical host — small enough that the planted
    * 5-host crawl (Site0..Site4) overflows it, so the quota genuinely
    * binds in the graded run.
    */
  val HostQuota: Int = 3

  /** t55: per-domain document quota — C4/RefinedWeb cap a single host's
    * contribution so boilerplate-heavy mega-domains cannot dominate the
    * training mix (Raffel et al. 2020 §2.2; Penedo et al. 2023 §3.1 apply
    * the cap right after URL dedup). Keep the [[HostQuota]]
    * highest-quality documents per canonical host (t2's quality score,
    * doc_id tie-break), reporting each keeper's within-host rank.
    *
    * Plan/scale (100 TB): host extraction is the d14 canonicalizer's
    * codegen string chain (map-only), quality is t2's map-only formula,
    * and the ranking is the [[graft.plans.TopKPerKey]] physical node —
    * bounded 3-row heaps per host on the map side, so a hot host
    * (1e6 crawled pages behind one domain) ships ~3 rows per mapper to
    * the reduce side instead of materializing the host's full partition
    * under a row_number window sort. The oracle replays it as the
    * equivalent window — affordable at sf0.1, not at 100 TB.
    */
  def hostQuotaKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val hosts = plantedCrawlUrls(docs).select(
      col("doc_id"),
      regexp_extract(canonicalUrlCol(col("url")), "^([^/?]+)", 1).as("host"))
    val quality = docs.select(
      col("doc_id"), TextAnalysis.qualityE4Col(col("text")).as("quality_e4"))
    hostQuotaKeepOf(hosts.join(quality, "doc_id"))
  }

  /** [[hostQuotaKeep]] over any (doc_id, host, quality_e4) frame — the
    * hot-host flood-test seam.
    */
  private[graft] def hostQuotaKeepOf(
      scored: DataFrame, quota: Int = HostQuota): DataFrame =
    graft.plans.TopKPerKey(
      scored,
      Seq(col("host")),
      Seq(col("quality_e4").desc, col("doc_id")),
      quota, "host_rank")
      .select(col("doc_id"), col("host"), col("quality_e4"), col("host_rank"))

  def hostQuotaOracleSql: String =
    s"""WITH $plantedUrlsSqlCte,
       |hosts AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(regexp_extract(
       |      regexp_replace(regexp_replace(url, '#.*', ''), '^[a-zA-Z]+://', ''),
       |      '^([^/?]+)', 1)), '^www\\.', '') AS host
       |  FROM urls),
       |q AS (
       |  SELECT doc_id, ${TextAnalysis.qualityE4ExprSql} AS quality_e4
       |  FROM (${TextAnalysis.qualityBaseSql()})),
       |ranked AS (
       |  SELECT h.doc_id, h.host, q.quality_e4,
       |    cast(row_number() OVER (
       |      PARTITION BY h.host
       |      ORDER BY q.quality_e4 DESC, h.doc_id) AS int) AS host_rank
       |  FROM hosts h JOIN q USING (doc_id))
       |SELECT doc_id, host, quality_e4, host_rank
       |FROM ranked WHERE host_rank <= $HostQuota""".stripMargin
}
