package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.sources.Fixtures.{table, tableParallel}

/** Statistical language-model scoring for training-data curation — the
  * CCNet/DSIR layer of an LLM data pipeline, over the `documents` table.
  *
  * Three operators:
  *
  *  - [[bigramLmScores]] (t31): a bigram LM with add-one smoothing is
  *    trained ON the corpus itself in one aggregation, then every document
  *    is scored by its total negative log-likelihood and bucketed
  *    head/middle/tail by per-token perplexity — CCNet's quality
  *    partitioning (Wenzek et al. 2020), with the corpus standing in for
  *    the KenLM reference model.
  *  - [[dsirWeights]] (t32): hashed-bigram importance weights
  *    (Xie et al. 2023, "Data Selection for Language Models via Importance
  *    Resampling"): bigrams hash into a fixed feature space, a target
  *    distribution is estimated from the benchmark-ish docs
  *    (doc_id < [[DsirTargetCutoff]]), a raw distribution from the rest,
  *    and every candidate doc gets the summed log-ratio of the two.
  *  - [[bm25TopK]] (t33): BM25 retrieval (Robertson–Spärck Jones) of the
  *    top [[Bm25K]] documents per query for a fixed query set — the
  *    retrieval primitive behind dataset search and RAG-style filtering.
  *
  * Cross-engine determinism follows the repo-wide rule ([[Exact]]): every
  * float is quantized to a 6-dp integer PER ROW before any aggregation,
  * so sums are integer sums (associative, partition-independent) and the
  * DuckDB oracle reproduces results bit-for-bit. `ln` is the only libm
  * call; a flip needs the value within one ulp of a rounding boundary
  * (same waiver as the t9 tf-idf oracle, stable across sf0.001–0.1).
  *
  * Scale shape (100 TB): the LM/count tables are vocab-bounded — O(V²)
  * for bigrams, [[DsirBuckets]] rows for DSIR, one row per query term for
  * BM25 — i.e. orders of magnitude smaller than the corpus, so every
  * score join is a broadcast-hash join against a map-side aggregated
  * count table, and the per-doc scoring is one shuffle (the groupBy
  * doc_id). The `broadcast()` hints are justified by that vocab bound —
  * for a corpus whose bigram-type table genuinely outgrows executor
  * memory, drop the hint on the model join and the identical plan runs
  * as a shuffle-hash join; no other step assumes single-node state.
  */
object LmScore {

  /** Bigram occurrences (doc_id, u, w) of every adjacent token pair.
    * Map-only: split + transform + explode inside whole-stage codegen.
    */
  private def bigramOcc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
          "named_struct('u', element_at(toks, i), 'w', element_at(toks, i + 1)))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.u").as("u"), col("bg.w").as("w"))

  private def duckBigramOcc: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |occ AS (
      |  SELECT doc_id, t[i] AS u, t[i + 1] AS w
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r)""".stripMargin

  /** Per-token perplexity bucket cuts, in 6-dp micro-nats of average
    * negative log-likelihood: below [[PplHeadE6]] → head (keep), below
    * [[PplMiddleE6]] → middle, else tail — CCNet's three-way split with
    * fixed cuts instead of corpus quantiles, so the bucket of one
    * document never depends on global order statistics. The comparison
    * is integer (`nll_sum ⋛ cut·n`), no float division.
    *
    * The corpus is near-uniform word soup: avg nll per bigram sits near
    * ln(V)≈3.43; cuts at 3.37/3.41 (≈ the corpus p25/p75) split it into
    * three well-populated buckets.
    */
  val PplHeadE6: Long = 3370000L
  val PplMiddleE6: Long = 3410000L

  /** t31: per-document bigram-LM negative log-likelihood and CCNet-style
    * head/middle/tail bucket.
    *
    * Model: P(w|u) = (c(u,w) + 1) / (c(u·) + V), add-one smoothing over
    * the corpus vocabulary V; nll(u,w) = -ln P(w|u), quantized e6 per
    * BIGRAM TYPE (in the vocab-sized model table, not per occurrence),
    * then integer-summed over each document's occurrences.
    *
    * Plan: one map-only bigram explode feeds (a) the model aggregation
    * (vocab-bounded) and (b) the scoring join; the model is broadcast and
    * the only corpus-sized shuffle is the final groupBy(doc_id).
    */
  /** One derivation of the trained pieces, shared by the inline pass and
    * [[buildModel]]: bigram occurrences, context counts, the 1-row vocab
    * size, and the smoothed per-bigram-type nll model.
    */
  private def trained(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // localCheckpoint: occ fans out to FOUR consumers (cuw, cu, the
    // scoring join, and transitively the model); without it each consumer
    // re-scans and re-explodes the corpus — the same multi-scan pitfall
    // embeddingNearDuplicates fixed. One materialized pass of the bigram
    // tape (3 narrow columns) replaces up to three re-explodes; on a real
    // cluster prefer reliable checkpoint() for executor-loss tolerance.
    val occ = bigramOcc(table(spark, dir, "documents")).localCheckpoint()
    val cuw = occ.groupBy(col("u"), col("w")).agg(count(lit(1)).as("cuw"))
    val cu = occ.groupBy(col("u")).agg(count(lit(1)).as("cu"))
    val vocab = table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val model = cuw.join(cu, "u").crossJoin(broadcast(vocab))
      .select(col("u"), col("w"),
        Exact.e(-log((col("cuw") + lit(1)).cast("double") / (col("cu") + col("v"))), 6)
          .as("nll_e6"))
    (occ, cu, vocab, model)
  }

  def bigramLmScores(spark: SparkSession, dir: String): DataFrame = {
    val (occ, _, _, model) = trained(spark, dir)
    occ.join(broadcast(model), Seq("u", "w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_e6")).as("nll_sum_e6"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_sum_e6"),
        when(col("nll_sum_e6") < lit(PplHeadE6) * col("n_bigrams"), lit("head"))
          .when(col("nll_sum_e6") < lit(PplMiddleE6) * col("n_bigrams"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Persist the bigram LM trained on `dir`'s documents at `path`:
    * `model/` (u, w, nll_e6) for seen bigrams, `unk/` (u, unk_nll_e6) for
    * unseen continuations of a seen context (P = 1/(c(u·)+V)), and
    * `global/` (one row: V, the unseen-context nll ln V) — the CCNet
    * deployment shape, where the reference model is trained once and new
    * crawls are scored against it for the life of the model.
    */
  def buildModel(spark: SparkSession, dir: String, path: String): Unit = {
    val (_, cu, vocab, model) = trained(spark, dir)
    model.write.mode("overwrite").parquet(s"$path/model")
    cu.crossJoin(broadcast(vocab))
      .select(col("u"),
        Exact.e(log((col("cu") + col("v")).cast("double")), 6).as("unk_nll_e6"))
      .write.mode("overwrite").parquet(s"$path/unk")
    vocab.select(col("v"), Exact.e(log(col("v").cast("double")), 6).as("unk_global_e6"))
      .write.mode("overwrite").parquet(s"$path/global")
  }

  /** Shared tail of every scoring path: per-doc integer nll sum + bucket. */
  private def bucketed(perBigram: DataFrame): DataFrame =
    perBigram
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_e6")).as("nll_sum_e6"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_sum_e6"),
        when(col("nll_sum_e6") < lit(PplHeadE6) * col("n_bigrams"), lit("head"))
          .when(col("nll_sum_e6") < lit(PplMiddleE6) * col("n_bigrams"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))

  /** Score arbitrary documents (doc_id, text) against a persisted model:
    * seen bigram → model nll; unseen continuation of a seen context →
    * that context's smoothed unk mass; unseen context → the uniform 1/V
    * floor. On the training corpus itself every bigram hits the model
    * table, so this path is bit-equal to [[bigramLmScores]] — pinned by
    * LmScoreSpec for both the batch twin (t31i) and the stream.
    */
  def scoreWithModel(docs: DataFrame, modelPath: String): DataFrame = {
    val (model, unk, global) = loadModel(docs.sparkSession, modelPath)
    scoreWithModel(docs, model, unk, global)
  }

  /** The three frozen model frames, for callers that score repeatedly
    * (e.g. a streaming gate): load and persist ONCE before the stream
    * starts, then pass into [[scoreWithModel]] per batch — the tables are
    * vocab-bounded, so pinning them costs O(model), not O(corpus).
    */
  def loadModel(spark: SparkSession, modelPath: String)
      : (DataFrame, DataFrame, DataFrame) = (
    spark.read.parquet(s"$modelPath/model"),
    spark.read.parquet(s"$modelPath/unk"),
    spark.read.parquet(s"$modelPath/global").select(col("unk_global_e6")))

  /** Score against preloaded model frames — the per-batch body, with no
    * file reads of its own.
    */
  def scoreWithModel(
      docs: DataFrame, model: DataFrame, unk: DataFrame, global: DataFrame): DataFrame =
    bucketed(
      bigramOcc(docs)
        .join(broadcast(model), Seq("u", "w"), "left")
        .join(broadcast(unk), Seq("u"), "left")
        .crossJoin(broadcast(global))
        .select(col("doc_id"),
          coalesce(col("nll_e6"), col("unk_nll_e6"), col("unk_global_e6")).as("nll_e6")))

  /** t31i: the index-fed twin of [[bigramLmScores]] — scores the corpus
    * against the persisted model instead of retraining, amortizing the
    * model aggregation across queries exactly like the shingle/IVF twins.
    * Reuses t31's oracle (bit-equal by construction).
    */
  def bigramLmScoresIndexed(spark: SparkSession, dir: String, modelPath: String): DataFrame =
    scoreWithModel(table(spark, dir, "documents"), modelPath)

  /** Online twin: score a STREAM of documents against the persisted
    * model. Scoring is stateless, so replay safety reduces to making the
    * write idempotent: each micro-batch overwrites ITS OWN partition
    * directory (`outPath/batch=<id>`), so a foreachBatch redelivery after
    * a crash rewrites the same files instead of appending duplicates —
    * exactly-once output under Structured Streaming's at-least-once
    * replay, with no marker bookkeeping. Readers see `batch` as an
    * ordinary partition column on `spark.read.parquet(outPath)`.
    */
  def scoreIngestStream(
      docs: DataFrame, modelPath: String, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        scoreIngestBatch(batch.toDF(), modelPath, outPath, id)
      }
      .start()

  /** One micro-batch of [[scoreIngestStream]] — public seam so the
    * replay-idempotency contract is directly testable.
    */
  private[graft] def scoreIngestBatch(
      batch: DataFrame, modelPath: String, outPath: String, batchId: Long): Unit =
    scoreWithModel(batch, modelPath)
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")

  def bigramLmScoresOracleSql: String =
    s"""WITH $duckBigramOcc,
       |cuw AS (SELECT u, w, count(*) AS cuw FROM occ GROUP BY u, w),
       |cu AS (SELECT u, count(*) AS cu FROM occ GROUP BY u),
       |v AS (SELECT count(DISTINCT tok) AS v FROM (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
       |model AS (
       |  SELECT cuw.u, cuw.w,
       |    cast(floor(-ln(cast(cuw + 1 AS double) / (cu + v)) * 1000000.0 + 0.5)
       |      AS bigint) AS nll_e6
       |  FROM cuw JOIN cu ON cu.u = cuw.u CROSS JOIN v),
       |scored AS (
       |  SELECT occ.doc_id,
       |    cast(count(*) AS bigint) AS n_bigrams,
       |    cast(sum(nll_e6) AS bigint) AS nll_sum_e6
       |  FROM occ JOIN model ON model.u = occ.u AND model.w = occ.w
       |  GROUP BY occ.doc_id)
       |SELECT doc_id, n_bigrams, nll_sum_e6,
       |  CASE WHEN nll_sum_e6 < $PplHeadE6 * n_bigrams THEN 'head'
       |       WHEN nll_sum_e6 < $PplMiddleE6 * n_bigrams THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM scored""".stripMargin

  /** Jelinek–Mercer interpolation weights for [[trigramLmScores]] —
    * trigram, bigram, unigram. Printed into the oracle SQL via the JVM's
    * shortest-round-trip double formatting, so both engines parse back
    * the identical IEEE value.
    */
  val Lambda3: Double = 0.6
  val Lambda2: Double = 0.3
  val Lambda1: Double = 0.1

  /** t35: interpolated trigram-LM scoring (Jelinek–Mercer smoothing) —
    * the deeper cousin of [[bigramLmScores]]'s add-one bigram model:
    *
    *   P(w|u,v) = λ₃·c(uvw)/c(uv·) + λ₂·c(vw)/c(v·) + λ₁·(c(w)+1)/(N+V)
    *
    * where c(uv·)/c(v·) count OCCURRENCES AS CONTEXTS (trigram/bigram
    * starts), N is the corpus token-occurrence count and the unigram leg
    * is add-one smoothed so unseen words keep P > 0. The per-trigram-TYPE
    * nll is quantized e6 in the model table (trigram-type-bounded), then
    * integer-summed per document — same determinism discipline as t31,
    * one double expression written token-identically in the oracle, with
    * every non-integer literal CAST to DOUBLE there: DuckDB types a bare
    * `0.6` as DECIMAL and evaluates `0.6 * x` exactly before promoting,
    * which can differ from Spark's pure-double chain by an ulp.
    *
    * Plan: the count tables aggregate map-side (type-bounded), chain into
    * the model via broadcast joins, and the corpus pays one scoring
    * broadcast join + the doc-level shuffle.
    */
  def trigramLmScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val occ3 = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> named_struct(" +
          "'u', element_at(toks, i), 'v', element_at(toks, i + 1), " +
          "'w', element_at(toks, i + 2)))")).as("tg"))
      .select(col("doc_id"), col("tg.u").as("u"), col("tg.v").as("v"), col("tg.w").as("w"))
    val occ2 = bigramOcc(docs) // (doc_id, u, w) adjacent pairs
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val cuvw = occ3.groupBy(col("u"), col("v"), col("w")).agg(count(lit(1)).as("cuvw"))
    val cuv = occ3.groupBy(col("u"), col("v")).agg(count(lit(1)).as("cuv"))
    val cvw = occ2.select(col("u").as("v"), col("w")).groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("cvw"))
    val cv = occ2.select(col("u").as("v")).groupBy(col("v")).agg(count(lit(1)).as("cv"))
    val cw = toks.groupBy(col("tok")).agg(count(lit(1)).as("cw"))
      .withColumnRenamed("tok", "w")
    val globals = toks.agg(count(lit(1)).as("n"), countDistinct(col("tok")).as("vsz"))
    val p = lit(Lambda3) * col("cuvw").cast("double") / col("cuv") +
      lit(Lambda2) * col("cvw").cast("double") / col("cv") +
      lit(Lambda1) * (col("cw") + lit(1)).cast("double") / (col("n") + col("vsz"))
    val model = cuvw
      .join(broadcast(cuv), Seq("u", "v"))
      .join(broadcast(cvw), Seq("v", "w"))
      .join(broadcast(cv), Seq("v"))
      .join(broadcast(cw), Seq("w"))
      .crossJoin(broadcast(globals))
      .select(col("u"), col("v"), col("w"), Exact.e(-log(p), 6).as("nll_e6"))
    occ3.join(broadcast(model), Seq("u", "v", "w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("nll_e6")).as("nll_sum_e6"))
      .select(col("doc_id"), col("n_trigrams"), col("nll_sum_e6"))
  }

  def trigramLmScoresOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |occ3 AS (
       |  SELECT doc_id, t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
       |  FROM (SELECT * FROM toks WHERE len(t) >= 3) t3,
       |       LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
       |occ2 AS (
       |  SELECT doc_id, t[i] AS v, t[i + 1] AS w
       |  FROM (SELECT * FROM toks WHERE len(t) >= 2) t2,
       |       LATERAL (SELECT unnest(range(1, len(t))) AS i) r),
       |uni AS (SELECT unnest(t) AS tok FROM toks),
       |cuvw AS (SELECT u, v, w, count(*) AS cuvw FROM occ3 GROUP BY u, v, w),
       |cuv AS (SELECT u, v, count(*) AS cuv FROM occ3 GROUP BY u, v),
       |cvw AS (SELECT v, w, count(*) AS cvw FROM occ2 GROUP BY v, w),
       |cv AS (SELECT v, count(*) AS cv FROM occ2 GROUP BY v),
       |cw AS (SELECT tok AS w, count(*) AS cw FROM uni GROUP BY tok),
       |globals AS (SELECT count(*) AS n, count(DISTINCT tok) AS vsz FROM uni),
       |model AS (
       |  SELECT cuvw.u, cuvw.v, cuvw.w,
       |    cast(floor(-ln(
       |      CAST($Lambda3 AS DOUBLE) * cast(cuvw AS double) / cuv +
       |      CAST($Lambda2 AS DOUBLE) * cast(cvw AS double) / cv +
       |      CAST($Lambda1 AS DOUBLE) * cast(cw + 1 AS double) / (n + vsz))
       |      * 1000000.0 + 0.5) AS bigint) AS nll_e6
       |  FROM cuvw
       |  JOIN cuv ON cuv.u = cuvw.u AND cuv.v = cuvw.v
       |  JOIN cvw ON cvw.v = cuvw.v AND cvw.w = cuvw.w
       |  JOIN cv ON cv.v = cuvw.v
       |  JOIN cw ON cw.w = cuvw.w
       |  CROSS JOIN globals)
       |SELECT occ3.doc_id,
       |  cast(count(*) AS bigint) AS n_trigrams,
       |  cast(sum(nll_e6) AS bigint) AS nll_sum_e6
       |FROM occ3
       |JOIN model ON model.u = occ3.u AND model.v = occ3.v AND model.w = occ3.w
       |GROUP BY occ3.doc_id""".stripMargin

  /** t34: the CCNet composition — [[TrainingPrep.trainingSelection]]'s
    * exact ∧ token ∧ quality ∧ segment-dup gate further filtered to
    * documents whose LM perplexity bucket is head or middle (the tail is
    * the noise CCNet discards). Composing adds one join on doc_id against
    * the t31 scoring output — no new corpus-wide shuffle key; the LM leg
    * keeps its broadcast-model plan.
    */
  def lmGatedSelection(spark: SparkSession, dir: String): DataFrame =
    TrainingPrep.trainingSelection(spark, dir)
      .join(bigramLmScores(spark, dir)
        .select(col("doc_id"), col("ppl_bucket")), "doc_id")
      .filter(col("ppl_bucket") =!= "tail")

  def lmGatedSelectionOracleSql: String =
    s"""WITH sel AS (
       |${TrainingPrep.trainingSelectionOracleSql}
       |),
       |lm AS (
       |${bigramLmScoresOracleSql}
       |)
       |SELECT sel.doc_id, sel.lang, sel.n_tokens, sel.quality_e4,
       |  sel.dup_frac_e4, lm.ppl_bucket
       |FROM sel JOIN lm USING (doc_id)
       |WHERE lm.ppl_bucket <> 'tail'""".stripMargin

  /** DSIR feature-space size (hashed-bigram buckets). */
  val DsirBuckets: Long = 256L

  /** Docs below this id form the target distribution (the benchmark-ish
    * slice, same convention as t13's EvalCutoff); the rest are the raw
    * pool being weighted.
    */
  val DsirTargetCutoff: Long = 50L

  /** A raw doc is selected when its average per-feature log importance
    * ratio is at least this many 6-dp micro-nats (0 = "looks at least as
    * target-like as raw-like on average").
    */
  val DsirSelectE6: Long = 0L

  /** t32: hashed-bigram importance weights for target-distribution data
    * selection (DSIR). Each bigram hashes to one of [[DsirBuckets]]
    * features via the portable 60-bit md5 prefix; the per-feature log
    * ratio ln(p_target/p_raw) (add-one smoothed) is quantized e6 in the
    * 256-row feature table; a raw document's weight is the integer sum
    * over its bigram occurrences. Selection compares the sum against
    * [[DsirSelectE6]]·n — integer arithmetic only.
    *
    * Plan: the feature table aggregates map-side into 256 rows and
    * broadcasts; the corpus sees one explode + one groupBy(doc_id).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass for both the feature estimation and the scoring:
    // the old shape referenced the exploded occ frame from two different
    // aggregation keys, so the bigram explode + md5 ran twice (two full
    // corpus scans — at 100 TB the dominant legs, and profiled r17 as two
    // serial ~0.9 s stages at sf0.1). Pre-aggregating to (b, doc_id, cnt)
    // gives both consumers the IDENTICAL exchange subtree — physical
    // planning dedupes it (ReusedExchange), so the scan/explode/hash runs
    // once and the two re-aggregations read pair-volume data (guide §2.3
    // aggregate-before-shuffle + §2.4 shared exchange). Arithmetic is
    // unchanged: n_feats = Σcnt, sums/counts commute over the pre-agg.
    val occ = bigramOcc(tableParallel(spark, dir, "documents"))
      .withColumn("b",
        PortableHash.md5Prefix60(concat_ws(" ", col("u"), col("w"))) % lit(DsirBuckets))
    // LAZY localCheckpoint, not bare reuse: the scoring branch filters on
    // the grouping key doc_id, which Catalyst pushes BELOW the aggregate —
    // the two exchange subtrees then differ and ReusedExchange no longer
    // fires. The checkpointed pair frame is ≤ |docs|·DsirBuckets rows
    // (distinct pairs), far below the exploded occ volume, so storing it
    // is the cheap side of the trade at any scale.
    val pairs = graft.SparkJobs.named(spark, "dsir bucket pairs")(
      occ.groupBy(col("b"), col("doc_id")).agg(count(lit(1)).as("cnt")).localCheckpoint(false))
    val counts = pairs
      .groupBy(col("b"))
      .agg(
        sum(when(col("doc_id") < DsirTargetCutoff, col("cnt")).otherwise(0L)).as("ct"),
        sum(when(col("doc_id") >= DsirTargetCutoff, col("cnt")).otherwise(0L)).as("cr"))
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val feats = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        Exact.e(
          log((col("ct") + lit(1)).cast("double") / (col("nt") + lit(DsirBuckets))) -
            log((col("cr") + lit(1)).cast("double") / (col("nr") + lit(DsirBuckets))), 6)
          .as("logratio_e6"))
    pairs.filter(col("doc_id") >= DsirTargetCutoff)
      .join(broadcast(feats), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("logratio_e6")).as("logw_sum_e6"))
      .select(col("doc_id"), col("n_feats"), col("logw_sum_e6"),
        (col("logw_sum_e6") >= lit(DsirSelectE6) * col("n_feats")).as("selected"))
  }

  /** One derivation of the DSIR feature table (b → e6 log importance
    * ratio), shared by the inline pass and [[buildDsirFeatures]].
    */
  private def dsirFeats(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val occ = bigramOcc(tableParallel(spark, dir, "documents"))
      .withColumn("b",
        PortableHash.md5Prefix60(concat_ws(" ", col("u"), col("w"))) % lit(DsirBuckets))
    val counts = occ
      .groupBy(col("b"))
      .agg(
        sum(when(col("doc_id") < DsirTargetCutoff, 1L).otherwise(0L)).as("ct"),
        sum(when(col("doc_id") >= DsirTargetCutoff, 1L).otherwise(0L)).as("cr"))
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val feats = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        Exact.e(
          log((col("ct") + lit(1)).cast("double") / (col("nt") + lit(DsirBuckets))) -
            log((col("cr") + lit(1)).cast("double") / (col("nr") + lit(DsirBuckets))), 6)
          .as("logratio_e6"))
    (occ, feats)
  }

  /** Persist the DSIR feature table at `path` — the deployment shape:
    * the target/raw distributions are estimated once, then any raw pool
    * (batch or stream) is weighted against the FROZEN 256-row table.
    */
  def buildDsirFeatures(spark: SparkSession, dir: String, path: String): Unit =
    dsirFeats(spark, dir)._2.write.mode("overwrite").parquet(s"$path/feats")

  /** t32i: the persisted-features twin of [[dsirWeights]] — bit-equal on
    * the training corpus (same oracle), amortizing the feature estimation
    * across scoring passes.
    */
  def dsirWeightsIndexed(spark: SparkSession, dir: String, path: String): DataFrame = {
    val feats = spark.read.parquet(s"$path/feats")
    bigramOcc(tableParallel(spark, dir, "documents"))
      .filter(col("doc_id") >= DsirTargetCutoff)
      .withColumn("b",
        PortableHash.md5Prefix60(concat_ws(" ", col("u"), col("w"))) % lit(DsirBuckets))
      .join(broadcast(feats), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("logratio_e6")).as("logw_sum_e6"))
      .select(col("doc_id"), col("n_feats"), col("logw_sum_e6"),
        (col("logw_sum_e6") >= lit(DsirSelectE6) * col("n_feats")).as("selected"))
  }

  def dsirWeightsOracleSql: String = {
    val h = PortableHash.duckMd5Prefix60("u || ' ' || w")
    s"""WITH $duckBigramOcc,
       |hashed AS (SELECT doc_id, $h % $DsirBuckets AS b FROM occ),
       |counts AS (
       |  SELECT b,
       |    sum(CASE WHEN doc_id < $DsirTargetCutoff THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN doc_id >= $DsirTargetCutoff THEN 1 ELSE 0 END) AS cr
       |  FROM hashed GROUP BY b),
       |totals AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
       |feats AS (
       |  SELECT b,
       |    cast(floor((ln(cast(ct + 1 AS double) / (nt + $DsirBuckets)) -
       |                ln(cast(cr + 1 AS double) / (nr + $DsirBuckets)))
       |      * 1000000.0 + 0.5) AS bigint) AS logratio_e6
       |  FROM counts CROSS JOIN totals),
       |scored AS (
       |  SELECT doc_id,
       |    cast(count(*) AS bigint) AS n_feats,
       |    cast(sum(logratio_e6) AS bigint) AS logw_sum_e6
       |  FROM hashed JOIN feats USING (b)
       |  WHERE doc_id >= $DsirTargetCutoff GROUP BY doc_id)
       |SELECT doc_id, n_feats, logw_sum_e6,
       |  logw_sum_e6 >= $DsirSelectE6 * n_feats AS selected
       |FROM scored""".stripMargin
  }

  /** The fixed retrieval query set: realistic multi-term queries over the
    * corpus vocabulary. A (query_id, term) pair per row; scoring is
    * disjunctive (OR over terms), BM25-standard.
    */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark window stream",
    2 -> "customer order join",
    3 -> "vector hash scan",
    4 -> "slow query")

  /** BM25 hyperparameters (the Robertson defaults). */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75

  /** Top documents returned per query. */
  val Bm25K: Int = 10

  /** t33: BM25 top-[[Bm25K]] document retrieval per query.
    *
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene form, always
    * positive); tf part = tf·(k1+1) / (tf + k1·(1 - b + b·dl·N/Σdl)).
    * The per-(doc,term) score is one double expression over integers,
    * written token-identically in the oracle SQL (with every non-integer
    * literal CAST to DOUBLE there — a bare `1.2`/`0.5` is DECIMAL in
    * DuckDB and evaluates exactly before promoting, ~1 ulp off Spark's
    * pure-double chain), quantized e6, then integer-summed per
    * (query_id, doc_id). Ranking runs through the
    * [[graft.plans.TopKPerKey]] physical node — per-key partial top-k on
    * the map side, never a full sort of the scored corpus.
    *
    * Plan: tf/dl aggregate once off one corpus scan; df and the global
    * (N, Σdl) row are term-count-sized and broadcast; the query set is a
    * literal broadcast table, so the corpus-sized work is one groupBy
    * (doc_id, term) and the top-k exchange over Bm25K·|queries| rows.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
    val qterms = Bm25Queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val globals = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val score = Exact.e(
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(Bm25K1 + 1.0)) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") * col("n") / col("sumdl"))),
      6)
    // df holds one row per CORPUS vocab term — Heaps'-law unbounded at
    // 100 TB — so restrict it to the literal query-term set BEFORE the
    // broadcast: dfq is ≤|query terms| rows by construction (df is
    // term-unique, qterms is a local literal frame)
    val dfq = df.join(broadcast(qterms.select(col("term")).distinct()), "term")
    val scored = tf
      .join(broadcast(qterms), "term")
      .join(broadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(globals))
      .withColumn("score_e6", score)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_e6")).as("bm25_e6"))
    graft.plans.TopKPerKey(
      scored, Seq(col("query_id")), Seq(col("bm25_e6").desc, col("doc_id")), Bm25K)
      .select(col("query_id"), col("doc_id"), col("bm25_e6"), col("rn"))
  }

  /** RRF rank-damping constant (the standard k=60 from Cormack et al.
    * 2009) and fused-list depth.
    */
  val RrfK: Int = 60
  val RrfTopK: Int = 10

  /** Candidate-list depth each retriever contributes to the fusion. */
  val RrfDepth: Int = 30

  /** t36: reciprocal-rank fusion of two lexical retrievers — BM25
    * ([[bm25TopK]]'s scorer) and a plain tf·idf disjunctive ranking —
    * over the shared [[Bm25Queries]] set:
    *
    *   rrf(q,d) = Σ_lists 1/(k + rank_list(q,d)), k = [[RrfK]]
    *
    * the score-free list-combination production search uses (Cormack et
    * al. 2009). Each retriever contributes its top [[RrfDepth]] per query
    * (ranked by its own e6 score, doc_id tie-break); a doc missing from
    * one list contributes nothing for it. The fused key is the SUM of
    * e6-quantized reciprocals of integer ranks — deterministic in any
    * engine; final top-[[RrfTopK]] by (rrf desc, doc_id).
    *
    * Plan: both retrievers share the tf/df/dl aggregates off one corpus
    * scan lineage; each ranking is a TopKPerKey over its scored frame, so
    * the fusion join runs on two RrfDepth·|queries|-row frames — at
    * 100 TB the only corpus-sized work is the shared scoring joins.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
    val qterms = Bm25Queries
      .flatMap { case (qid, q) => q.split(" ").map(t => (qid, t)) }
      .toDF("query_id", "term")
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val globals = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    // same restrict-before-broadcast as bm25TopK: never ship full-vocab df
    val dfq = df.join(broadcast(qterms.select(col("term")).distinct()), "term")
    val joined = tf
      .join(broadcast(qterms), "term")
      .join(broadcast(dfq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(globals))
    val bm25Score = Exact.e(
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(Bm25K1 + 1.0)) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") * col("n") / col("sumdl"))),
      6)
    val tfidfScore = Exact.e(
      col("tf") * log(col("n").cast("double") / col("df")), 6)
    def ranked(scoreCol: Column): DataFrame =
      graft.plans.TopKPerKey(
        joined.withColumn("s", scoreCol)
          .groupBy(col("query_id"), col("doc_id")).agg(sum(col("s")).as("s")),
        Seq(col("query_id")), Seq(col("s").desc, col("doc_id")), RrfDepth)
        .select(col("query_id"), col("doc_id"), col("rn"))
    val recip = (r: Column) =>
      Exact.e(lit(1.0) / (lit(RrfK) + r.cast("double")), 6)
    val fused = ranked(bm25Score).withColumnRenamed("rn", "r1")
      .join(ranked(tfidfScore).withColumnRenamed("rn", "r2"),
        Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(recip(col("r1")), lit(0L)) +
          coalesce(recip(col("r2")), lit(0L))).as("rrf_e6"))
    graft.plans.TopKPerKey(
        fused, Seq(col("query_id")), Seq(col("rrf_e6").desc, col("doc_id")), RrfTopK)
      .select(col("query_id"), col("doc_id"), col("rrf_e6"), col("rn"))
  }

  def rrfFusionOracleSql: String = {
    val qvalues = Bm25Queries
      .flatMap { case (qid, q) => q.split(" ").map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH qterms(query_id, term) AS (VALUES $qvalues),
       |terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
       |globals AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
       |joined AS (
       |  SELECT q.query_id, tf.doc_id, tf.tf, df.df, dl.dl, n, sumdl
       |  FROM qterms q
       |  JOIN tf ON tf.term = q.term
       |  JOIN df ON df.term = q.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN globals),
       |bm AS (
       |  SELECT query_id, doc_id, sum(cast(floor(
       |      ln(1.0 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
       |        (tf * CAST(${Bm25K1 + 1.0} AS DOUBLE)) /
       |        (tf + CAST($Bm25K1 AS DOUBLE) *
       |          (CAST(${1.0 - Bm25B} AS DOUBLE) +
       |           CAST($Bm25B AS DOUBLE) * cast(dl AS double) * n / sumdl))
       |      * 1000000.0 + 0.5) AS bigint)) AS s
       |  FROM joined GROUP BY query_id, doc_id),
       |ti AS (
       |  SELECT query_id, doc_id, sum(cast(floor(
       |      tf * ln(cast(n AS double) / df) * 1000000.0 + 0.5) AS bigint)) AS s
       |  FROM joined GROUP BY query_id, doc_id),
       |r1 AS (
       |  SELECT query_id, doc_id, rn FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
       |    FROM bm) WHERE rn <= $RrfDepth),
       |r2 AS (
       |  SELECT query_id, doc_id, rn FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
       |    FROM ti) WHERE rn <= $RrfDepth),
       |fused AS (
       |  SELECT coalesce(r1.query_id, r2.query_id) AS query_id,
       |    coalesce(r1.doc_id, r2.doc_id) AS doc_id,
       |    coalesce(cast(floor(1.0 / ($RrfK + cast(r1.rn AS double))
       |      * 1000000.0 + 0.5) AS bigint), 0) +
       |    coalesce(cast(floor(1.0 / ($RrfK + cast(r2.rn AS double))
       |      * 1000000.0 + 0.5) AS bigint), 0) AS rrf_e6
       |  FROM r1 FULL OUTER JOIN r2
       |    ON r2.query_id = r1.query_id AND r2.doc_id = r1.doc_id)
       |SELECT query_id, doc_id, rrf_e6, cast(rn AS int) AS rn
       |FROM (
       |  SELECT query_id, doc_id, rrf_e6,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY rrf_e6 DESC, doc_id) AS rn
       |  FROM fused)
       |WHERE rn <= $RrfTopK""".stripMargin
  }

  def bm25TopKOracleSql: String = {
    val qvalues = Bm25Queries
      .flatMap { case (qid, q) => q.split(" ").map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""WITH qterms(query_id, term) AS (VALUES $qvalues),
       |terms AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
       |globals AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    cast(sum(cast(floor(
       |      ln(1.0 + (n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
       |        (tf * CAST(${Bm25K1 + 1.0} AS DOUBLE)) /
       |        (tf + CAST($Bm25K1 AS DOUBLE) *
       |          (CAST(${1.0 - Bm25B} AS DOUBLE) +
       |           CAST($Bm25B AS DOUBLE) * cast(dl AS double) * n / sumdl))
       |      * 1000000.0 + 0.5) AS bigint)) AS bigint) AS bm25_e6
       |  FROM qterms q
       |  JOIN tf ON tf.term = q.term
       |  JOIN df ON df.term = q.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN globals
       |  GROUP BY q.query_id, tf.doc_id)
       |SELECT query_id, doc_id, bm25_e6, cast(rn AS int) AS rn
       |FROM (
       |  SELECT query_id, doc_id, bm25_e6,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY bm25_e6 DESC, doc_id) AS rn
       |  FROM scored)
       |WHERE rn <= $Bm25K""".stripMargin
  }

  // --------------------------------------------------------------------
  // t44: multinomial Naive Bayes language classifier — the TRAINED
  // language-ID stage of the CCNet pipeline (Wenzek et al. 2020 run
  // fastText langid over every crawl page; t3 is the untrained n-gram
  // heuristic, this is its supervised upgrade). The model is pure
  // counting — per-(lang, token) counts with add-one smoothing — so
  // training is one vocab-bounded aggregation, exactly like t31.
  //
  // Cross-engine determinism: every -ln is quantized e6 in the
  // vocab-bounded model table (per TYPE, not per occurrence), scores are
  // integer sums, and argmin ties break on the candidate label — the
  // DuckDB oracle replays bit-for-bit.
  //
  // Plan/scale shape (100 TB): the model is |langs|·|vocab| rows and the
  // unk/prior frames are |langs| rows — all broadcast. Scoring uses the
  // additive decomposition
  //     score(doc, c) = prior(c) + n_toks(doc)·unk(c)
  //                     + Σ_{seen (tok,c)} (nll(tok,c) − unk(c))
  // emitted as ONE union of contribution rows (per-occurrence unk leg ×
  // |langs|, plus the model-matched delta leg), so the whole per-candidate
  // score table needs a single corpus-sized groupBy — map-side partial
  // aggregation compacts both legs to ≤ |docs|·|langs| rows before the
  // exchange, and the argmin is a second exchange of that already
  // label-bounded frame. No per-(doc, cand) join, no second corpus scan
  // (priors come from the |langs|-row doc-count frame).
  // --------------------------------------------------------------------

  /** Token occurrences with the training label carried through, so the
    * final argmin needs no join back to the corpus. Map-only.
    */
  private def nbOcc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))

  /** The three frozen NB frames trained from labeled docs: model
    * (lang, tok, nll_e6), unk (lang, unk_nll_e6 — the smoothed
    * unseen-token mass 1/(c_l+V)), prior (lang, prior_nll_e6).
    */
  private def nbTrained(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // occ fans out to three count consumers; one materialized pass of the
    // 3-narrow-column token tape replaces two re-explodes (same rationale
    // as t31's trained())
    val occ = nbOcc(docs).localCheckpoint()
    val clt = occ.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("clt"))
    val cl = occ.groupBy(col("lang")).agg(count(lit(1)).as("cl"))
    val vocab = occ.agg(countDistinct(col("tok")).as("v"))
    val model = clt.join(cl, "lang").crossJoin(broadcast(vocab))
      .select(col("lang"), col("tok"),
        Exact.e(-log((col("clt") + lit(1)).cast("double") / (col("cl") + col("v"))), 6)
          .as("nll_e6"))
    val unk = cl.crossJoin(broadcast(vocab))
      .select(col("lang"),
        Exact.e(log((col("cl") + col("v")).cast("double")), 6).as("unk_nll_e6"))
    // priors from the |langs|-row doc-count frame — total docs is the sum
    // over that frame, NOT a second corpus scan
    val dl = docs.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
    val prior = dl.crossJoin(broadcast(dl.agg(sum(col("dl")).as("d"))))
      .select(col("lang"),
        Exact.e(-log(col("dl").cast("double") / col("d")), 6).as("prior_nll_e6"))
    (model, unk, prior)
  }

  /** The shared argmin core over a token tape that carries `keyCols`
    * (doc_id, plus any passthrough like the training label — carrying
    * them through both groupBys beats a corpus-sized join back). Tokens
    * unseen by the model for a candidate (including tokens never seen at
    * all) fall to that candidate's smoothed unk floor via the
    * decomposition — no explicit left-join/coalesce needed.
    */
  private def nbArgmin(
      occ: DataFrame, keyCols: Seq[String],
      model: DataFrame, unk: DataFrame, prior: DataFrame): DataFrame = {
    val keys = keyCols.map(col)
    nbCandScores(occ, keyCols, model, unk, prior)
      .groupBy(keys: _*)
      .agg(min(struct(col("nll_e6"), col("cand"))).as("b"))
      .select(keys :+ col("b.cand").as("pred_lang") :+ col("b.nll_e6").as("best_nll_e6"): _*)
  }

  /** The full per-(keys, cand) score table the argmin collapses —
    * factored out so callers that need EVERY candidate's score (the t48
    * binary quality classifier wants the hiq-vs-loq margin, not just the
    * winner) share one scoring plan. With `withNToks` it also carries
    * `n_toks` per row (the unk leg contributes exactly one row per token
    * per candidate, so its row count IS the token count — no second
    * corpus scan to fetch document lengths); opt-in because the extra
    * partial-agg column measurably widens the t44/t45/t46 hot path that
    * never reads it.
    */
  private def nbCandScores(
      occ: DataFrame, keyCols: Seq[String],
      model: DataFrame, unk: DataFrame, prior: DataFrame,
      withNToks: Boolean = false): DataFrame = {
    val keys = keyCols.map(col)
    val delta = model.join(unk, "lang")
      .select(col("lang").as("cand"), col("tok"),
        (col("nll_e6") - col("unk_nll_e6")).as("c_e6"))
    def leg(src: DataFrame, u: Long) =
      src.select(keys ++ Seq(col("cand"), col("c_e6")) ++
        (if (withNToks) Seq(lit(u).as("u")) else Nil): _*)
    val contrib = leg(occ.join(broadcast(delta), Seq("tok")), 0L)
      .unionByName(leg(occ.crossJoin(broadcast(
        unk.select(col("lang").as("cand"), col("unk_nll_e6").as("c_e6")))), 1L))
    val aggs = Seq(sum(col("c_e6")).as("s_e6")) ++
      (if (withNToks) Seq(sum(col("u")).as("n_toks")) else Nil)
    contrib.groupBy(keys :+ col("cand"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .join(broadcast(prior.select(col("lang").as("cand"), col("prior_nll_e6"))), "cand")
      .select(keys ++ Seq(col("cand"),
        (col("s_e6") + col("prior_nll_e6")).as("nll_e6")) ++
        (if (withNToks) Seq(col("n_toks")) else Nil): _*)
  }

  /** Classify labeled docs against frozen NB frames; returns one row per
    * doc: (doc_id, lang, pred_lang, correct, best_nll_e6).
    */
  private def nbClassify(
      docs: DataFrame, model: DataFrame, unk: DataFrame, prior: DataFrame): DataFrame =
    nbArgmin(nbOcc(docs), Seq("doc_id", "lang"), model, unk, prior)
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("lang") === col("pred_lang")).as("correct"), col("best_nll_e6"))

  /** Label-free prediction over (doc_id, text) — the gate-side shape
    * (CCNet runs langid on CONTENT; arriving docs need no label):
    * (doc_id, pred_lang, best_nll_e6). Pure per-document function of the
    * frozen frames, so it is micro-batch-slicing-invariant.
    */
  def predictLang(
      docs: DataFrame, model: DataFrame, unk: DataFrame, prior: DataFrame): DataFrame =
    nbArgmin(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok")),
      Seq("doc_id"), model, unk, prior)

  /** t44: train on the corpus's own lang labels and classify every doc —
    * per-doc predicted language, correctness flag, and best score.
    */
  def nbLangScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val (model, unk, prior) = nbTrained(docs)
    nbClassify(docs, model, unk, prior)
  }

  /** Persist the trained NB language model at `path` — the CCNet
    * deployment shape (one langid model, every new crawl scored against
    * it): `model/`, `unk/`, `prior/`.
    */
  def buildNbModel(spark: SparkSession, dir: String, path: String): Unit = {
    val (model, unk, prior) = nbTrained(table(spark, dir, "documents"))
    model.write.mode("overwrite").parquet(s"$path/model")
    unk.write.mode("overwrite").parquet(s"$path/unk")
    prior.write.mode("overwrite").parquet(s"$path/prior")
  }

  /** The three frozen NB frames, for callers that classify repeatedly
    * (e.g. the streaming ingest gate): load and persist ONCE before the
    * stream starts — all three are label/vocab-bounded.
    */
  def loadNbModel(spark: SparkSession, modelPath: String)
      : (DataFrame, DataFrame, DataFrame) = (
    spark.read.parquet(s"$modelPath/model"),
    spark.read.parquet(s"$modelPath/unk"),
    spark.read.parquet(s"$modelPath/prior"))

  /** Classify arbitrary labeled docs (doc_id, lang, text) against a
    * persisted NB model. On the training corpus itself this is bit-equal
    * to [[nbLangScores]] (pinned by LmScoreSpec), so t44i reuses t44's
    * oracle.
    */
  def classifyWithNbModel(docs: DataFrame, modelPath: String): DataFrame = {
    val (model, unk, prior) = loadNbModel(docs.sparkSession, modelPath)
    nbClassify(docs, model, unk, prior)
  }

  /** t44i: the persisted-model twin of [[nbLangScores]]. */
  def nbLangScoresIndexed(spark: SparkSession, dir: String, modelPath: String): DataFrame =
    classifyWithNbModel(table(spark, dir, "documents"), modelPath)

  /** The t44 CTE chain (model/unk/prior training + scoring + argmin),
    * shared with the t45 confusion oracle so the two cannot desync.
    */
  private def nbOracleCtes: String =
    """occ AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      |clt AS (SELECT lang, tok, count(*) AS clt FROM occ GROUP BY lang, tok),
      |cl AS (SELECT lang, count(*) AS cl FROM occ GROUP BY lang),
      |v AS (SELECT count(DISTINCT tok) AS v FROM occ),
      |model AS (
      |  SELECT clt.lang, clt.tok,
      |    cast(floor(-ln(cast(clt + 1 AS double) / (cl + v)) * 1000000.0 + 0.5)
      |      AS bigint) AS nll_e6
      |  FROM clt JOIN cl ON cl.lang = clt.lang CROSS JOIN v),
      |unk AS (
      |  SELECT lang,
      |    cast(floor(ln(cast(cl + v AS double)) * 1000000.0 + 0.5) AS bigint)
      |      AS unk_nll_e6
      |  FROM cl CROSS JOIN v),
      |dl AS (SELECT lang, count(*) AS dl FROM documents GROUP BY lang),
      |d AS (SELECT sum(dl) AS d FROM dl),
      |prior AS (
      |  SELECT lang,
      |    cast(floor(-ln(cast(dl AS double) / d) * 1000000.0 + 0.5) AS bigint)
      |      AS prior_nll_e6
      |  FROM dl CROSS JOIN d),
      |contrib AS (
      |  SELECT occ.doc_id, occ.lang, m.lang AS cand, m.nll_e6 - u.unk_nll_e6 AS c_e6
      |  FROM occ JOIN model m ON m.tok = occ.tok JOIN unk u ON u.lang = m.lang
      |  UNION ALL
      |  SELECT occ.doc_id, occ.lang, u.lang AS cand, u.unk_nll_e6 AS c_e6
      |  FROM occ CROSS JOIN unk u),
      |scored AS (
      |  SELECT c.doc_id, c.lang, c.cand,
      |    cast(sum(c.c_e6) AS bigint) + p.prior_nll_e6 AS nll_e6
      |  FROM contrib c JOIN prior p ON p.lang = c.cand
      |  GROUP BY c.doc_id, c.lang, c.cand, p.prior_nll_e6),
      |verdicts AS (
      |  SELECT doc_id, lang, cand AS pred_lang, lang = cand AS correct,
      |    cast(nll_e6 AS bigint) AS best_nll_e6
      |  FROM (
      |    SELECT doc_id, lang, cand, nll_e6,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY nll_e6, cand) AS rn
      |    FROM scored)
      |  WHERE rn = 1)""".stripMargin

  def nbLangScoresOracleSql: String =
    s"""WITH $nbOracleCtes
       |SELECT doc_id, lang, pred_lang, correct, best_nll_e6 FROM verdicts""".stripMargin

  /** t45: the classifier EVALUATION stage — the (labeled, predicted)
    * confusion matrix of the t44 verdicts, the quality report any
    * deployed langid/quality classifier ships with. Derived from the
    * frozen persisted model (the t44i path, amortized via IndexStore);
    * one extra |langs|²-row aggregation on top of the scoring plan.
    */
  def nbLangConfusion(spark: SparkSession, dir: String, modelPath: String): DataFrame =
    classifyWithNbModel(table(spark, dir, "documents"), modelPath)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  def nbLangConfusionOracleSql: String =
    s"""WITH $nbOracleCtes
       |SELECT lang, pred_lang, cast(count(*) AS bigint) AS n
       |FROM verdicts GROUP BY lang, pred_lang""".stripMargin

  /** t46: per-language precision/recall/F1 (+ a `[macro]` averages row)
    * derived from the t45 confusion matrix — the quality report a
    * deployed langid gate actually ships (a gate is only as trustworthy
    * as its measured per-class error). One |langs|²-row shuffle: each
    * confusion cell contributes to its true-label row (support, tp) and
    * its predicted-label row (predicted) via a 2-way explode, then a
    * single label-bounded groupBy rolls both up — never a second pass
    * over the corpus-sized verdicts. Ratios are e6 fixed-point
    * (`Exact.e`) and the macro row averages the e6 INTEGERS, so every
    * value is bit-replayable by the oracle (no order-dependent double
    * sums). Zero-division follows the standard zero_division=0
    * convention: an unpredicted class has precision 0, not NULL.
    */
  def nbLangQuality(spark: SparkSession, dir: String, modelPath: String): DataFrame = {
    val conf = nbLangConfusion(spark, dir, modelPath)
    val contrib = conf.select(explode(array(
        struct(col("lang").as("l"),
          when(col("lang") === col("pred_lang"), col("n")).otherwise(lit(0L)).as("tp"),
          col("n").as("support"), lit(0L).as("predicted")),
        struct(col("pred_lang").as("l"), lit(0L).as("tp"),
          lit(0L).as("support"), col("n").as("predicted")))).as("c"))
      .select(col("c.l").as("lang"), col("c.tp"),
        col("c.support"), col("c.predicted"))
    val per = contrib.groupBy(col("lang")).agg(
      sum(col("support")).as("support"),
      sum(col("predicted")).as("predicted"),
      sum(col("tp")).as("tp"))
    val p = when(col("predicted") === 0, lit(0.0))
      .otherwise(col("tp").cast("double") / col("predicted").cast("double"))
    val r = when(col("support") === 0, lit(0.0))
      .otherwise(col("tp").cast("double") / col("support").cast("double"))
    val f1 = when(p + r === 0.0, lit(0.0)).otherwise(lit(2.0) * p * r / (p + r))
    val scored = per.select(col("lang"), col("support"), col("predicted"),
      col("tp"), Exact.e(p, 6).as("precision_e6"), Exact.e(r, 6).as("recall_e6"),
      Exact.e(f1, 6).as("f1_e6"))
    val macroAvg = (c: String) =>
      floor(sum(col(c)).cast("double") / count(lit(1)).cast("double") + lit(0.5))
        .cast("long").as(c)
    val macroRow = scored.agg(
      sum(col("support")).as("support"), sum(col("predicted")).as("predicted"),
      sum(col("tp")).as("tp"), macroAvg("precision_e6"), macroAvg("recall_e6"),
      macroAvg("f1_e6"))
      .select(lit("[macro]").as("lang"), col("support"), col("predicted"),
        col("tp"), col("precision_e6"), col("recall_e6"), col("f1_e6"))
    scored.unionByName(macroRow)
  }

  def nbLangQualityOracleSql: String =
    s"""WITH $nbOracleCtes,
       |conf AS (
       |  SELECT lang, pred_lang, count(*) AS n
       |  FROM verdicts GROUP BY lang, pred_lang),
       |cell AS (
       |  SELECT lang AS l, CASE WHEN lang = pred_lang THEN n ELSE 0 END AS tp,
       |    n AS support, 0 AS predicted FROM conf
       |  UNION ALL
       |  SELECT pred_lang AS l, 0 AS tp, 0 AS support, n AS predicted FROM conf),
       |per AS (
       |  SELECT l AS lang, cast(sum(support) AS bigint) AS support,
       |    cast(sum(predicted) AS bigint) AS predicted,
       |    cast(sum(tp) AS bigint) AS tp
       |  FROM cell GROUP BY l),
       |ratio AS (
       |  SELECT lang, support, predicted, tp,
       |    CASE WHEN predicted = 0 THEN 0.0
       |         ELSE cast(tp AS double) / cast(predicted AS double) END AS p,
       |    CASE WHEN support = 0 THEN 0.0
       |         ELSE cast(tp AS double) / cast(support AS double) END AS r
       |  FROM per),
       |prf AS (
       |  SELECT lang, support, predicted, tp,
       |    cast(floor(p * 1000000.0 + 0.5) AS bigint) AS precision_e6,
       |    cast(floor(r * 1000000.0 + 0.5) AS bigint) AS recall_e6,
       |    cast(floor((CASE WHEN p + r = 0.0 THEN 0.0
       |                     ELSE 2.0 * p * r / (p + r) END) * 1000000.0 + 0.5)
       |      AS bigint) AS f1_e6
       |  FROM ratio)
       |SELECT lang, support, predicted, tp, precision_e6, recall_e6, f1_e6
       |FROM prf
       |UNION ALL
       |SELECT '[macro]' AS lang, cast(sum(support) AS bigint) AS support,
       |  cast(sum(predicted) AS bigint) AS predicted,
       |  cast(sum(tp) AS bigint) AS tp,
       |  cast(floor(cast(sum(precision_e6) AS double) / count(*) + 0.5) AS bigint)
       |    AS precision_e6,
       |  cast(floor(cast(sum(recall_e6) AS double) / count(*) + 0.5) AS bigint)
       |    AS recall_e6,
       |  cast(floor(cast(sum(f1_e6) AS double) / count(*) + 0.5) AS bigint) AS f1_e6
       |FROM prf""".stripMargin

  // --------------------------------------------------------------------
  // t48: trained document-QUALITY classifier with a deterministic pareto
  // lottery — the GPT-3 data-curation stage (Brown et al. 2020, Appendix
  // A: train a classifier with curated corpora as positives and raw
  // crawl as negatives, score every crawl page, then keep a page iff
  //     np.random.pareto(9) > 1 - classifier_score
  // so high-scoring pages are nearly always kept while a heavy tail of
  // low-scoring pages survives, preserving distributional coverage).
  // LLaMA (Touvron et al. 2023) uses the same shape with a
  // wiki-reference classifier.
  //
  // Here the "curated" positives are the [[QualityRefSources]] slice of
  // the corpus's source column (the fixture corpus has no real curated
  // split — same planting rule as t16/t17/d14) and the classifier is the
  // t44 multinomial NB reused verbatim on binary labels: same frames,
  // same one-shuffle additive-decomposition scoring plan, so the 100 TB
  // shape is t44's (label-bounded broadcasts, ONE corpus-sized groupBy
  // with map-side partial aggregation — here |cands| = 2).
  //
  // Determinism: the margin is length-normalized IN INTEGER e6 SPACE
  // (round-half-up of an IEEE-exact double division), the lottery draw is
  // the first 8 hex digits of md5(doc_id || "|t48") read as a uniform in
  // [0,1) — a pure function of the row, stable across partitioning,
  // retries and engines (the t10/t14 discipline; a seeded RNG is neither
  // engine- nor retry-stable) — and the keep rule is a STRING compare of
  // that hex against the hex rendering of the per-doc threshold
  //     u* = 1 - (2 - sigmoid(margin))^-9
  // (the pareto rule solved for u: pareto(u) > 1 - s  ⟺  u > u*), so no
  // hex-to-int parsing is needed on either engine.
  // --------------------------------------------------------------------

  /** The curated-quality source slice (binary positives for t48). */
  val QualityRefSources: Seq[String] = (0 to 3).map(i => s"src$i")

  /** Pareto shape for the keep lottery — GPT-3's alpha = 9. */
  val QualityParetoAlpha: Int = 9

  /** Documents relabeled for the binary quality task: `lang` carries the
    * training label so the t44 NB machinery applies unchanged.
    */
  private def qualityLabeled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("source").isin(QualityRefSources: _*), lit("hiq"))
        .otherwise(lit("loq")).as("lang"),
      col("text"))

  /** t48: per-document quality verdicts — one row per doc:
    * (doc_id, label, margin_tok_e6, score_e6, thresh_hex, draw_hex,
    * keep). `margin_tok_e6` is the per-token NB log-odds of the curated
    * class (positive = looks curated), `score_e6` its logistic squash,
    * and `keep` the deterministic pareto-lottery verdict.
    */
  def qualityClassifierKeep(spark: SparkSession, dir: String): DataFrame = {
    val labeled = qualityLabeled(table(spark, dir, "documents"))
    val (model, unk, prior) = nbTrained(labeled)
    qualityKeepOf(labeled, model, unk, prior)
  }

  /** [[qualityClassifierKeep]] over any labeled frame and frozen frames —
    * the seam the persisted-model twin and the spec's invariance tests
    * share.
    */
  private[graft] def qualityKeepOf(
      labeled: DataFrame,
      model: DataFrame, unk: DataFrame, prior: DataFrame): DataFrame =
    qualityVerdictsOf(nbOcc(labeled), Seq("doc_id", "lang"), model, unk, prior)
      .withColumnRenamed("lang", "label")
      .select("doc_id", "label", "margin_tok_e6", "score_e6", "thresh_hex",
        "draw_hex", "keep")

  /** Label-free quality verdicts over (doc_id, text) against frozen
    * frames — the GATE-SIDE shape (an arriving crawl page has no training
    * label): (doc_id, margin_tok_e6, score_e6, thresh_hex, draw_hex,
    * keep). A pure per-document function of the frozen frames, so it is
    * micro-batch-slicing-invariant — the property the ingest gate's
    * prefix-consistency proof needs.
    */
  def qualityKeep(
      docs: DataFrame,
      model: DataFrame, unk: DataFrame, prior: DataFrame): DataFrame =
    qualityVerdictsOf(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok")),
      Seq("doc_id"), model, unk, prior)

  /** The shared margin → sigmoid → pareto-threshold → md5-lottery chain
    * over any occurrence tape with passthrough `keyCols` (which must
    * include `doc_id` — the lottery draw keys on it).
    */
  private def qualityVerdictsOf(
      occ: DataFrame, keyCols: Seq[String],
      model: DataFrame, unk: DataFrame, prior: DataFrame): DataFrame = {
    val keys = keyCols.map(col)
    val piv = nbCandScores(occ, keyCols, model, unk, prior, withNToks = true)
      .groupBy(keys: _*)
      .agg(
        max(when(col("cand") === "hiq", col("nll_e6"))).as("hiq_nll_e6"),
        max(when(col("cand") === "loq", col("nll_e6"))).as("loq_nll_e6"),
        max(col("n_toks")).as("n_toks"))
    // per-token margin: round-half-up integer from an IEEE-exact divide
    val margin = floor(
      (col("loq_nll_e6") - col("hiq_nll_e6")).cast("double")
        / col("n_toks").cast("double") + lit(0.5)).cast("long")
    val s = lit(1.0) / (lit(1.0) + exp(-col("margin_tok_e6").cast("double") / lit(1e6)))
    val uStar = lit(1.0) - pow(lit(2.0) - s, lit(-QualityParetoAlpha.toDouble))
    piv
      .withColumn("margin_tok_e6", margin)
      .withColumn("score_e6", Exact.e(s, 6))
      .withColumn("thresh_hex",
        format_string("%08x", floor(uStar * lit(4294967296.0)).cast("long")))
      .withColumn("draw_hex",
        substring(md5(concat(col("doc_id").cast("string"), lit("|t48")).cast("binary")), 1, 8))
      .select(keys ++ Seq(col("margin_tok_e6"), col("score_e6"),
        col("thresh_hex"), col("draw_hex"),
        (col("draw_hex") > col("thresh_hex")).as("keep")): _*)
  }

  /** Persist the trained binary quality model at `path` (the deployment
    * shape: one classifier, every crawl batch scored against it).
    */
  def buildQualityModel(spark: SparkSession, dir: String, path: String): Unit = {
    val (model, unk, prior) = nbTrained(qualityLabeled(table(spark, dir, "documents")))
    model.write.mode("overwrite").parquet(s"$path/model")
    unk.write.mode("overwrite").parquet(s"$path/unk")
    prior.write.mode("overwrite").parquet(s"$path/prior")
  }

  /** t48i: the persisted-model twin of [[qualityClassifierKeep]] —
    * bit-equal on the training corpus (same oracle).
    */
  def qualityClassifierKeepIndexed(
      spark: SparkSession, dir: String, modelPath: String): DataFrame = {
    val (model, unk, prior) = loadNbModel(spark, modelPath)
    qualityKeepOf(qualityLabeled(table(spark, dir, "documents")), model, unk, prior)
  }

  /** Margin-bin width (e6) and clamp range for the t53 calibration
    * table: bins of 0.025 nats/token covering [-0.2, 0.2), outer mass
    * clamped into the edge bins — 16 rows at any corpus size.
    */
  val CalibrationBinE6 = 25000L
  val CalibrationBinLo = -8L
  val CalibrationBinHi = 7L

  /** t53: the classifier CALIBRATION table — the reliability report a
    * deployed quality gate ships next to its t45/t46-style accuracy
    * numbers (is a margin of +0.05 nats/token actually more often
    * curated than one of −0.05?). The t48 verdicts are bucketed into
    * fixed-width per-token-margin bins (label-bounded: ≤16 rows) and
    * each bin reports its size, empirical curated fraction, mean
    * sigmoid score, and realized lottery keep rate — empirical column
    * vs score column IS the calibration curve. One |bins|-row
    * aggregation on top of the t48 plan; integer means (floor) so the
    * oracle replays bit-for-bit.
    */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val bin = greatest(lit(CalibrationBinLo), least(lit(CalibrationBinHi),
      floor(col("margin_tok_e6").cast("double") / lit(CalibrationBinE6.toDouble))
        .cast("long")))
    qualityClassifierKeep(spark, dir)
      .withColumn("bin", bin)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("label") === "hiq", 1L).otherwise(0L)).as("n_hiq"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        floor(sum(col("score_e6")).cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("mean_score_e6"))
      .select(col("bin"), col("n_docs"),
        Exact.e(col("n_hiq").cast("double") / col("n_docs").cast("double"), 4)
          .as("hiq_frac_e4"),
        Exact.e(col("n_kept").cast("double") / col("n_docs").cast("double"), 4)
          .as("keep_rate_e4"),
        col("mean_score_e6"))
  }

  def qualityCalibrationOracleSql: String =
    s"""WITH t48 AS (
       |${qualityClassifierKeepOracleSql.linesIterator.map("  " + _).mkString("\n")}),
       |binned AS (
       |  SELECT greatest($CalibrationBinLo, least($CalibrationBinHi,
       |      cast(floor(cast(margin_tok_e6 AS double) / $CalibrationBinE6.0)
       |        AS bigint))) AS bin,
       |    label, keep, score_e6
       |  FROM t48)
       |SELECT bin,
       |  cast(count(*) AS bigint) AS n_docs,
       |  cast(floor(cast(sum(CASE WHEN label = 'hiq' THEN 1 ELSE 0 END) AS double)
       |    / count(*) * 10000.0 + 0.5) AS bigint) AS hiq_frac_e4,
       |  cast(floor(cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS double)
       |    / count(*) * 10000.0 + 0.5) AS bigint) AS keep_rate_e4,
       |  cast(floor(cast(sum(score_e6) AS double) / count(*)) AS bigint)
       |    AS mean_score_e6
       |FROM binned GROUP BY bin""".stripMargin

  def qualityClassifierKeepOracleSql: String = {
    val refs = QualityRefSources.map(s => s"'$s'").mkString(", ")
    s"""WITH qdocs AS (
       |  SELECT doc_id,
       |    CASE WHEN source IN ($refs) THEN 'hiq' ELSE 'loq' END AS lang,
       |    text
       |  FROM documents),
       |occ AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM qdocs),
       |clt AS (SELECT lang, tok, count(*) AS clt FROM occ GROUP BY lang, tok),
       |cl AS (SELECT lang, count(*) AS cl FROM occ GROUP BY lang),
       |v AS (SELECT count(DISTINCT tok) AS v FROM occ),
       |model AS (
       |  SELECT clt.lang, clt.tok,
       |    cast(floor(-ln(cast(clt + 1 AS double) / (cl + v)) * 1000000.0 + 0.5)
       |      AS bigint) AS nll_e6
       |  FROM clt JOIN cl ON cl.lang = clt.lang CROSS JOIN v),
       |unk AS (
       |  SELECT lang,
       |    cast(floor(ln(cast(cl + v AS double)) * 1000000.0 + 0.5) AS bigint)
       |      AS unk_nll_e6
       |  FROM cl CROSS JOIN v),
       |dl AS (SELECT lang, count(*) AS dl FROM qdocs GROUP BY lang),
       |d AS (SELECT sum(dl) AS d FROM dl),
       |prior AS (
       |  SELECT lang,
       |    cast(floor(-ln(cast(dl AS double) / d) * 1000000.0 + 0.5) AS bigint)
       |      AS prior_nll_e6
       |  FROM dl CROSS JOIN d),
       |contrib AS (
       |  SELECT occ.doc_id, occ.lang, m.lang AS cand,
       |    m.nll_e6 - u.unk_nll_e6 AS c_e6, 0 AS u
       |  FROM occ JOIN model m ON m.tok = occ.tok JOIN unk u ON u.lang = m.lang
       |  UNION ALL
       |  SELECT occ.doc_id, occ.lang, u.lang AS cand, u.unk_nll_e6 AS c_e6, 1 AS u
       |  FROM occ CROSS JOIN unk u),
       |scored AS (
       |  SELECT c.doc_id, c.lang, c.cand,
       |    cast(sum(c.c_e6) AS bigint) + p.prior_nll_e6 AS nll_e6,
       |    cast(sum(c.u) AS bigint) AS n_toks
       |  FROM contrib c JOIN prior p ON p.lang = c.cand
       |  GROUP BY c.doc_id, c.lang, c.cand, p.prior_nll_e6),
       |piv AS (
       |  SELECT doc_id, lang,
       |    max(CASE WHEN cand = 'hiq' THEN nll_e6 END) AS hiq_nll_e6,
       |    max(CASE WHEN cand = 'loq' THEN nll_e6 END) AS loq_nll_e6,
       |    max(n_toks) AS n_toks
       |  FROM scored GROUP BY doc_id, lang),
       |m AS (
       |  SELECT doc_id, lang,
       |    cast(floor(cast(loq_nll_e6 - hiq_nll_e6 AS double)
       |      / cast(n_toks AS double) + 0.5) AS bigint) AS margin_tok_e6
       |  FROM piv),
       |sc AS (
       |  SELECT doc_id, lang, margin_tok_e6,
       |    1.0 / (1.0 + exp(-cast(margin_tok_e6 AS double) / 1000000.0)) AS s
       |  FROM m),
       |verdict AS (
       |  SELECT doc_id, lang, margin_tok_e6,
       |    cast(floor(s * 1000000.0 + 0.5) AS bigint) AS score_e6,
       |    printf('%08x', cast(floor(
       |      (1.0 - pow(2.0 - s, -$QualityParetoAlpha.0)) * 4294967296.0)
       |      AS bigint)) AS thresh_hex,
       |    substr(md5(concat(cast(doc_id AS varchar), '|t48')), 1, 8) AS draw_hex
       |  FROM sc)
       |SELECT doc_id, lang AS label, margin_tok_e6, score_e6, thresh_hex,
       |  draw_hex, draw_hex > thresh_hex AS keep
       |FROM verdict""".stripMargin
  }
}
