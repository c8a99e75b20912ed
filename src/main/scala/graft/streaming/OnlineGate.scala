package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.SparkJobs.named
import graft.operators.{Dedup, IvfAnn, ShingleIndex, TextAnalysis, TrainingPrep, VectorIndex}

/** The ONLINE training-selection gate — the streaming composition of the
  * signals a pretraining pipeline runs per document, judged AT ARRIVAL
  * against the full accumulated history instead of in a cold batch pass:
  *
  *   - token-count bounds and heuristic quality (map-only text expressions,
  *     no state — [[TextAnalysis.nTokensCol]]/[[TextAnalysis.qualityE4Col]],
  *     the same columns the batch t20/t23 gates project);
  *   - fuzzy (MinHash+LSH) survivorship against every document indexed so
  *     far, via the persisted shingle index
  *     ([[ShingleIndex.dedupIngestBatch]] — exact duplicates are the
  *     jaccard-1.0 special case, so this leg subsumes the batch gate's
  *     exact-dedup survivorship for any doc long enough to shingle);
  *   - semantic (SemDeDup) survivorship against every vector indexed so
  *     far, via the persisted IVF index ([[VectorIndex.dedupIngestBatch]]);
  *   - optionally (lmModelPath set) the CCNet perplexity leg: bucket
  *     against a reference bigram LM FROZEN before the stream started
  *     ([[graft.operators.LmScore.scoreWithModel]]) — a pure per-doc
  *     function of the text, so at-arrival and cold verdicts agree by
  *     construction;
  *   - optionally (gopherRules set) the t39 Gopher repetition leg
  *     ([[TextAnalysis.gopherSignals]]) — every signal is WITHIN-document,
  *     so it needs no state or model and is prefix-consistent for free.
  *
  * The composed verdict for batch N lands under
  * `outPath/decisions/batch_id=N` as (doc_id, n_tokens, quality_e4,
  * pass_quality, pass_tokens, fuzzy_keep, sem_keep[, pass_ppl]
  * [, pass_rep], kept, shard) — kept iff every enabled leg passes, with
  * the t28 STABLE shard riding along so a kept
  * document's placement is final at arrival (rank-striped t26 shards
  * cannot be assigned online: every later arrival would shift them). Both leg stores ingest EVERY document (kept and rejected):
  * the lower-id drop rules judge against all prior arrivals, and a
  * kept-only store would silently weaken later verdicts (see the leg
  * scaladocs). A quality-rejected doc likewise still enters both indexes —
  * the batch gates compute their survivorship signals over the FULL
  * corpus, and prefix-equivalence (below) needs the same rule online.
  *
  * Equivalence: with monotone doc_id arrival, the accumulated decisions
  * equal the batch composition quality ∧ tokens ∧ d4-fuzzy-survivor ∧
  * v13-semantic-survivor over the final corpus — every leg is a
  * lower-id-wins rule, so judging at arrival and judging cold agree
  * (`StreamingSpec` pins it). The segment-dup-FRACTION leg of the batch
  * t23 gate is deliberately absent: it is not a lower-id rule (a doc's
  * fraction can rise after arrival as later duplicates land), so an
  * at-arrival verdict for it would not be prefix-consistent; it belongs
  * to the freeze step instead — [[cut]] is that first-class operation
  * (t23-equivalent fraction gating, or t25-equivalent span scrubbing,
  * both fed from the accumulated index; `StreamingSpec` pins cut ≡ the
  * cold batch compositions bit-for-bit).
  *
  * Scale shape per batch: the text legs are map-only over the micro-batch;
  * the fuzzy leg probes the bucketed banded table with literal pushdown;
  * the semantic leg reads only the touched `centroid=` directories — the
  * judged frames are micro-batch-sized, the stores are never scanned in
  * full, and nothing here shuffles the accumulated corpus.
  *
  * Crash safety composes from the legs: each leg keeps its own
  * per-checkpoint marker namespace (done → skip, started → purge + redo),
  * leg decisions are idempotent per-batch directory overwrites, and the
  * composite write below re-derives from the leg outputs — so any crash
  * point replays to the same decisions.
  */
object OnlineGate {

  /** Start the gate over a stream whose schema is `(doc_id, text)` ++ the
    * vector store's columns minus `vec_id`/`centroid` (for an index built
    * from the graded `embeddings` table: `embedding`, `label`) — the
    * non-text columns ride to the vector leg with `doc_id` as `vec_id`.
    *
    * `shingleTable` must be an ingest-built (unplanted) shingle index and
    * `vecPath` a trained ([[VectorIndex.trainOnly]] or built) IVF index —
    * same preconditions as the legs.
    */
  def gateStream(
      docs: DataFrame, shingleTable: String, markerRoot: String,
      vecPath: String, checkpoint: String, outPath: String,
      minQualityE4: Long = TrainingPrep.MinQualityE4,
      minTokens: Long = TrainingPrep.MinTokens,
      maxTokens: Long = TrainingPrep.MaxTokens,
      fuzzyThreshold: Double = Dedup.DefaultThreshold,
      semThreshold: Double = IvfAnn.SemDedupThreshold,
      lmModelPath: Option[String] = None,
      gopherRules: Boolean = false): StreamingQuery = {
    val owner = docs.sparkSession
    ShingleIndex.ensureBandsTable(owner, shingleTable)
    // stored geometry is immutable between rebuilds: load once at start
    val centsFx = VectorIndex.centroidsFx(owner, vecPath)
    require(centsFx.nonEmpty, s"gateStream before train/build: no centroids at $vecPath")
    // same discipline for the LM: the three model frames are frozen for
    // the life of the stream, so load + persist them ONCE here instead of
    // re-reading (and re-broadcasting from disk) every micro-batch —
    // they are vocab-bounded, O(model) pinned memory
    val lmFrames = lmModelPath.map { mp =>
      val (model, unk, global) = graft.operators.LmScore.loadModel(owner, mp)
      (model.persist(), unk.persist(), global.persist())
    }
    val shNs = ShingleIndex.markerNamespace(owner, markerRoot, checkpoint)
    val vecNs = VectorIndex.markerNamespace(owner, vecPath, checkpoint)
    val query = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        // consumed by three legs + the composite join — materialize once,
        // micro-batch-sized
        val b = batch.toDF().localCheckpoint()
        ShingleIndex.dedupIngestBatch(
          spark, b.select(col("doc_id"), col("text")), shingleTable,
          shNs, id, s"$outPath/fuzzy", fuzzyThreshold)
        VectorIndex.dedupIngestBatch(
          spark, b.drop("text").withColumnRenamed("doc_id", "vec_id"),
          vecPath, id, vecNs, centsFx, semThreshold)
        val fuzzy = spark.read.parquet(s"$outPath/fuzzy/batch_id=$id")
          .select(col("doc_id"), col("kept").as("fuzzy_keep"))
        val sem = spark.read.parquet(s"$vecPath/decisions/batch_id=$id")
          .select(col("vec_id").as("doc_id"), col("kept").as("sem_keep"))
        // optional CCNet leg: bucket against the FROZEN reference model
        // (persisted once before the stream started) — a pure per-doc
        // function of the text, so prefix-consistency is free; pass =
        // head/middle, matching the batch t34 gate
        val lmPass = lmFrames.map { case (model, unk, global) =>
          graft.operators.LmScore
            .scoreWithModel(b.select(col("doc_id"), col("text")), model, unk, global)
            .select(col("doc_id"),
              (col("ppl_bucket") =!= "tail").as("pass_ppl"))
        }
        // optional Gopher repetition leg (t39): every signal is a pure
        // WITHIN-document function, so at-arrival ≡ cold by construction
        // — no state, no model, just the micro-batch. Docs too short to
        // carry a signal are absent and pass (no-signal rule, as for LM).
        val repPass =
          if (!gopherRules) None
          else Some(TextAnalysis.gopherSignals(b.select(col("doc_id"), col("text")))
            .select(col("doc_id"), col("gopher_keep").as("pass_rep")))
        val base = b.select(
            col("doc_id"),
            TextAnalysis.nTokensCol(col("text")).as("n_tokens"),
            TextAnalysis.qualityE4Col(col("text")).as("quality_e4"))
          .join(fuzzy, "doc_id")
          .join(sem, "doc_id")
          .select(
            col("doc_id"), col("n_tokens"), col("quality_e4"),
            (col("quality_e4") >= minQualityE4).as("pass_quality"),
            col("n_tokens").between(minTokens, maxTokens).as("pass_tokens"),
            col("fuzzy_keep"), col("sem_keep"))
        // left join + pass default: a doc too short to bigram (absent
        // from the scoring output) carries no LM signal and passes,
        // matching the dup-fraction leg's no-signal rule
        val withLm = lmPass.fold(base)(lp =>
          base.join(lp, Seq("doc_id"), "left")
            .withColumn("pass_ppl", coalesce(col("pass_ppl"), lit(true))))
        repPass.fold(withLm)(rp =>
          withLm.join(rp, Seq("doc_id"), "left")
            .withColumn("pass_rep", coalesce(col("pass_rep"), lit(true))))
          .withColumn("kept",
            col("pass_quality") && col("pass_tokens") &&
              col("fuzzy_keep") && col("sem_keep") &&
              (if (lmModelPath.isDefined) col("pass_ppl") else lit(true)) &&
              (if (gopherRules) col("pass_rep") else lit(true)))
          // placement rides along: the STABLE shard rule (t28 — first hex
          // digit of the md5 permutation key) is a pure function of
          // doc_id, so unlike rank-striping it is computable at arrival
          // and never moves as the corpus grows — a kept doc's shard is
          // final the moment it is judged
          .withColumn("shard",
            (instr(lit("0123456789abcdef"),
              substring(md5(concat(col("doc_id").cast("string"), lit("|t26"))), 1, 1)) - 1)
              .cast("int"))
          .write.mode("overwrite").parquet(s"$outPath/decisions/batch_id=$id")
        owner.catalog.refreshTable(shingleTable)
        owner.catalog.refreshTable(ShingleIndex.sigsTable(shingleTable))
        owner.catalog.refreshTable(ShingleIndex.bandsTable(shingleTable))
        owner.catalog.refreshByPath(s"$vecPath/lists")
      }
      .start()
    // the persisted LM frames are pinned for the LIFE OF THE STREAM only:
    // release them when this query terminates, so repeated start/stop
    // cycles with lmModelPath set do not accumulate O(model) cached
    // blocks in the session
    lmFrames.foreach { case (model, unk, global) =>
      // cleanup must run exactly once whether termination races the
      // addListener below or not
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      def cleanup(self: StreamingQueryListener): Unit =
        if (done.compareAndSet(false, true)) {
          model.unpersist(); unk.unpersist(); global.unpersist()
          owner.streams.removeListener(self)
        }
      val listener: StreamingQueryListener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) cleanup(this)
      }
      owner.streams.addListener(listener)
      // a query that failed before the listener attached never emits its
      // QueryTerminated to us — check and clean inline (idempotent)
      if (!query.isActive) cleanup(listener)
    }
    query
  }

  /** Accumulated composite verdicts: one row per ingested document. */
  def decisions(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/decisions")

  /** Cut-time selection — the batch pass a pipeline runs when it freezes
    * a training snapshot: the accumulated online verdicts, further gated
    * by the duplicated-segment FRACTION computed over the full ingested
    * corpus. That signal is deliberately absent from the per-arrival
    * verdicts (it is not a lower-id rule: a doc's fraction rises as later
    * duplicates land, so no at-arrival verdict for it could be
    * prefix-consistent) — here it reads the index's compact segment side
    * ([[ShingleIndex.segments]] — the same exchange-free bucketed pass
    * t23i uses), never re-shingling a byte of text. Docs shorter than one
    * segment carry no signal and pass (0), matching the batch gates.
    */
  /** Hash-bucket fan-out of the exact seen-identity store: the confirm
    * probe prunes to the candidate idents' buckets, so a batch with few
    * bloom hits reads a few directories, not the corpus-sized store.
    */
  private[graft] val SeenBuckets = 64

  /** The COMPOSED at-arrival ingest gate: ONE streaming query that judges
    * every arriving document with first-seen ∧ expectations ∧ quality —
    * the admission composition a crawl-fed pipeline runs the moment a
    * document lands, the same way t23/t25 compose the batch-side gates.
    *
    * Legs, all prefix-consistent so at-arrival ≡ cold holds bit-for-bit:
    *
    *   - FIRST-SEEN on a content identity (`identityCol`, e.g. the crawl
    *     URL; with `canonicalizeUrl` the identity is the d14 CANONICAL
    *     form — [[graft.operators.Dedup.canonicalUrlCol]] — so re-crawls
    *     of the same page through utm/scheme/www/fragment variants
    *     collapse, the C4/RefinedWeb stage-1 rule applied at arrival):
    *     exact lower-id-wins re-crawl suppression. The Bloom
    *     seen-set ([[graft.operators.Sketches.bloomIngestStream]]'s
    *     partial discipline, shared via `bloomPositions`) rides BROADCAST
    *     as an O(sketch) pre-filter — an ident missing any of its k bits
    *     is DEFINITELY new and never touches the store; only bloom HITS
    *     (true repeats + the FP trickle) are confirmed against the exact
    *     identity store, which is hash-bucketed so the probe
    *     partition-prunes to the candidates' buckets. Bloom FPs therefore
    *     cost a pruned read, never a wrong verdict — the verdict is
    *     exact, which is what makes it prefix-consistent (a raw bloom
    *     verdict would depend on batch boundaries through its FP set).
    *     Within a batch the lowest doc_id per ident wins, matching the
    *     cold rule.
    *   - EXPECTATIONS: the ROW-LEVEL t40 conjunction
    *     ([[graft.operators.Expectations.docRowPass]] — aggregate ratios
    *     would not be slicing-invariant), with the per-batch AGGREGATE
    *     report riding along under `expect/batch_id=N` as the quality
    *     timeline, same as the standalone expectations stream.
    *   - QUALITY: token bounds + heuristic quality (map-only columns),
    *     the t39 Gopher repetition rules (within-document, stateless),
    *     and optionally (lmModelPath) the CCNet perplexity bucket against
    *     a model FROZEN before the stream started.
    *   - LANGUAGE (optional, nbModelPath): the trained t44 Naive-Bayes
    *     langid run on CONTENT against a frozen model — predicted
    *     language must be in `keepLangs` (CCNet's target-language
    *     filter). A pure per-document function, so prefix-consistent.
    *   - CLASSIFIER QUALITY (optional, qualityModelPath): the t48 GPT-3
    *     quality classifier against a frozen binary model — per-token
    *     NB margin, sigmoid, deterministic md5 pareto lottery
    *     ([[graft.operators.LmScore.qualityKeep]]). The lottery draw is
    *     a pure function of doc_id, so the leg is prefix-consistent.
    *
    * Near-duplicate survivorship (fuzzy/semantic) deliberately stays in
    * [[gateStream]] — it needs the shingle/vector stores; a pipeline
    * chains this admission gate in front of it.
    *
    * Per batch the work is: map-only text expressions over the
    * micro-batch, a sketch-sized broadcast probe, a bucket-pruned confirm
    * only when the bloom hits, and two state writes — a ≤128-word bloom
    * partial and the batch's ident list. Replay discipline matches the
    * bloom stream: per-`batch_id` idempotent overwrites, prefix reads
    * filter `batch_id < id` (a replayed batch judges against exactly the
    * prefix it saw the first time), and the seen-store is written BEFORE
    * the bloom partial so any bloom bit visible to a later batch has its
    * exact rows present. Decisions land under `decisions/batch_id=N` as
    * (doc_id, n_tokens, quality_e4, first_seen, pass_expect,
    * pass_quality, pass_tokens, pass_rep[, pass_ppl][, pass_lang]
    * [, pass_clf][, pass_policy], kept). The optional `pass_policy` leg
    * is the t54 C4 rule set ([[graft.operators.TextAnalysis.c4KeptCol]] —
    * one shared definition with the graded report), computed inline in
    * the batch's map stage: total, never missing, so it needs no
    * fail-open/closed coalesce policy at all.
    *
    * State COMPACTION: per-batch partials would otherwise accumulate one
    * directory per trigger forever, making the prefix read's
    * file/partition listing O(total batches) even when pruning skips the
    * data. Every [[CompactEvery]] batches the seen/bloom writes fold the
    * whole earlier prefix into the current `batch_id=N` partition and
    * delete the older directories, so listing work is bounded by the
    * compaction interval. Crash-safe WITHOUT an atomic commit because
    * both stores are idempotent unions (seen is read via
    * distinct/left-semi, bloom via bit_or): a crash between the fold and
    * the deletes only leaves duplicate rows/bits, which change nothing.
    * The fold reads `batch_id <= N` (its OWN prior attempt included) and
    * localCheckpoints before overwriting, so a replay that finds some
    * older directories already deleted still reconstructs the full
    * prefix from the previous attempt's fold.
    */
  def fullIngestGate(
      docs: DataFrame, outPath: String, checkpoint: String,
      identityCol: String = "url",
      canonicalizeUrl: Boolean = false,
      lmModelPath: Option[String] = None,
      nbModelPath: Option[String] = None,
      keepLangs: Seq[String] = Seq("en"),
      qualityModelPath: Option[String] = None,
      c4Policy: Boolean = false,
      domainGate: Boolean = false,
      minQualityE4: Long = TrainingPrep.MinQualityE4,
      minTokens: Long = TrainingPrep.MinTokens,
      maxTokens: Long = TrainingPrep.MaxTokens,
      compactEvery: Long = CompactEvery): StreamingQuery = {
    val owner = docs.sparkSession
    val lmFrames = lmModelPath.map { mp =>
      val (model, unk, global) = graft.operators.LmScore.loadModel(owner, mp)
      (model.persist(), unk.persist(), global.persist())
    }
    val nbFrames = nbModelPath.map { mp =>
      val (model, unk, prior) = graft.operators.LmScore.loadNbModel(owner, mp)
      (model.persist(), unk.persist(), prior.persist())
    }
    val clfFrames = qualityModelPath.map { mp =>
      val (model, unk, prior) = graft.operators.LmScore.loadNbModel(owner, mp)
      (model.persist(), unk.persist(), prior.persist())
    }
    val query = docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val b = batch.toDF().localCheckpoint()
          processFullGateBatch(spark, b, outPath, identityCol,
            canonicalizeUrl, lmFrames,
            nbFrames, keepLangs, clfFrames, c4Policy, domainGate,
            minQualityE4, minTokens, maxTokens,
            id, compactEvery)
        }
        ()
      }
      .start()
    val pinned: Seq[DataFrame] =
      lmFrames.toSeq.flatMap(t => Seq(t._1, t._2, t._3)) ++
        nbFrames.toSeq.flatMap(t => Seq(t._1, t._2, t._3)) ++
        clfFrames.toSeq.flatMap(t => Seq(t._1, t._2, t._3))
    if (pinned.nonEmpty) {
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      def cleanup(self: StreamingQueryListener): Unit =
        if (done.compareAndSet(false, true)) {
          pinned.foreach(_.unpersist())
          owner.streams.removeListener(self)
        }
      val listener: StreamingQueryListener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) cleanup(this)
      }
      owner.streams.addListener(listener)
      if (!query.isActive) cleanup(listener)
    }
    query
  }

  private def processFullGateBatch(
      spark: SparkSession, b: DataFrame, outPath: String, identityCol: String,
      canonicalizeUrl: Boolean,
      lmFrames: Option[(DataFrame, DataFrame, DataFrame)],
      nbFrames: Option[(DataFrame, DataFrame, DataFrame)], keepLangs: Seq[String],
      clfFrames: Option[(DataFrame, DataFrame, DataFrame)], c4Policy: Boolean,
      domainGate: Boolean,
      minQualityE4: Long, minTokens: Long, maxTokens: Long, id: Long,
      compactEvery: Long): Unit = {
    import graft.operators.Expectations
    val keyed = b.select(col("doc_id"),
      identityExpr(identityCol, canonicalizeUrl).as("ident"))
    val idents = keyed.select(col("ident")).distinct().localCheckpoint()
    val firstSeen = FirstSeen.probe(spark, outPath, keyed, idents, id)
    // the aggregate expectation report rides along as the quality timeline
    Expectations.docExpectations(b).coalesce(1)
      .write.mode("overwrite").parquet(s"$outPath/expect/batch_id=$id")
    val repPass = TextAnalysis.gopherSignals(b.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("gopher_keep").as("pass_rep"))
    val lmPass = lmFrames.map { case (model, unk, global) =>
      graft.operators.LmScore
        .scoreWithModel(b.select(col("doc_id"), col("text")), model, unk, global)
        .select(col("doc_id"), (col("ppl_bucket") =!= "tail").as("pass_ppl"))
    }
    val langPass = nbFrames.map { case (model, unk, prior) =>
      graft.operators.LmScore
        .predictLang(b.select(col("doc_id"), col("text")), model, unk, prior)
        .select(col("doc_id"), col("pred_lang").isin(keepLangs: _*).as("pass_lang"))
    }
    val clfPass = clfFrames.map { case (model, unk, prior) =>
      graft.operators.LmScore
        .qualityKeep(b.select(col("doc_id"), col("text")), model, unk, prior)
        .select(col("doc_id"), col("keep").as("pass_clf"))
    }
    val withSignals = b
      .select(Seq(col("doc_id"),
        TextAnalysis.nTokensCol(col("text")).as("n_tokens"),
        TextAnalysis.qualityE4Col(col("text")).as("quality_e4"),
        Expectations.docRowPass.as("pass_expect")) ++
        (if (c4Policy) Seq(TextAnalysis.c4KeptCol(col("text")).as("pass_policy"))
         else Nil) ++
        (if (domainGate)
           Seq(Dedup.domainPassCol(col("doc_id")).as("pass_domain"))
         else Nil): _*)
      .join(firstSeen, Seq("doc_id"))
      .join(repPass, Seq("doc_id"), "left")
      .withColumn("pass_rep", coalesce(col("pass_rep"), lit(true)))
    composeFullDecision(withSignals, lmPass, langPass, clfPass, c4Policy,
        domainGate, minQualityE4, minTokens, maxTokens)
      .write.mode("overwrite").parquet(s"$outPath/decisions/batch_id=$id")
    FirstSeen.update(spark, outPath, idents, id, compactEvery)
  }

  /** Fold the seen/bloom per-batch partials into one consolidated
    * partition every this many micro-batches — bounds the prefix read's
    * directory-listing work to O(interval) instead of O(stream lifetime).
    */
  private[graft] val CompactEvery = 16L

  /** The identity the first-seen leg keys on: the raw string, or the d14
    * canonical URL (shared expression — the stream and the cold twin
    * cannot desync on the rule).
    */
  private def identityExpr(identityCol: String, canonicalizeUrl: Boolean)
      : org.apache.spark.sql.Column = {
    val raw = col(identityCol).cast("string")
    if (canonicalizeUrl) Dedup.canonicalUrlCol(raw) else raw
  }

  /** The verdict composition shared by the stream and its cold twin.
    *
    * Missing-row policy differs by leg ON PURPOSE: `pass_rep` coalesces
    * TRUE upstream (the Gopher signals are undefined below 2 tokens — a
    * documented vacuous pass), but the ppl/lang legs coalesce FALSE —
    * their scorers are meant to be total (the LM leg drops only sub-
    * 2-token docs, which `pass_tokens` already rejects), so a doc its
    * scorer did not return is REJECTED rather than silently admitted
    * unchecked. Fail-closed: if a scorer ever starts dropping rows, the
    * gate tightens visibly instead of leaking unscored documents.
    */
  private def composeFullDecision(
      withSignals: DataFrame, lmPass: Option[DataFrame], langPass: Option[DataFrame],
      clfPass: Option[DataFrame], c4Policy: Boolean, domainGate: Boolean,
      minQualityE4: Long, minTokens: Long, maxTokens: Long): DataFrame = {
    val withLm = lmPass.fold(withSignals)(lp =>
      withSignals.join(lp, Seq("doc_id"), "left")
        .withColumn("pass_ppl", coalesce(col("pass_ppl"), lit(false))))
    val withLang = langPass.fold(withLm)(lp =>
      withLm.join(lp, Seq("doc_id"), "left")
        .withColumn("pass_lang", coalesce(col("pass_lang"), lit(false))))
    val withClf = clfPass.fold(withLang)(lp =>
      withLang.join(lp, Seq("doc_id"), "left")
        .withColumn("pass_clf", coalesce(col("pass_clf"), lit(false))))
    val cols = Seq("doc_id", "n_tokens", "quality_e4", "first_seen",
      "pass_expect", "pass_quality", "pass_tokens", "pass_rep") ++
      (if (lmPass.isDefined) Seq("pass_ppl") else Nil) ++
      (if (langPass.isDefined) Seq("pass_lang") else Nil) ++
      (if (clfPass.isDefined) Seq("pass_clf") else Nil) ++
      (if (c4Policy) Seq("pass_policy") else Nil) ++
      (if (domainGate) Seq("pass_domain") else Nil) :+ "kept"
    withClf
      .withColumn("pass_quality", col("quality_e4") >= minQualityE4)
      .withColumn("pass_tokens", col("n_tokens").between(minTokens, maxTokens))
      .withColumn("kept",
        col("first_seen") && col("pass_expect") && col("pass_quality") &&
          col("pass_tokens") && col("pass_rep") &&
          (if (lmPass.isDefined) col("pass_ppl") else lit(true)) &&
          (if (langPass.isDefined) col("pass_lang") else lit(true)) &&
          (if (clfPass.isDefined) col("pass_clf") else lit(true)) &&
          (if (c4Policy) col("pass_policy") else lit(true)) &&
          (if (domainGate) col("pass_domain") else lit(true)))
      .select(cols.map(col): _*)
  }

  /** Cold recomputation of [[fullIngestGate]]'s verdicts over the final
    * corpus — the backfill/audit pass. With monotone doc_id arrival the
    * accumulated streaming decisions equal this bit-for-bit: first-seen
    * is exact lower-id-wins (the bloom is only a pre-filter), and every
    * other leg is a pure per-document function (the LM leg against the
    * same frozen model). `StreamingSpec` pins the equivalence.
    */
  def fullIngestGateCold(
      docs: DataFrame, identityCol: String = "url",
      canonicalizeUrl: Boolean = false,
      lmModelPath: Option[String] = None,
      nbModelPath: Option[String] = None,
      keepLangs: Seq[String] = Seq("en"),
      qualityModelPath: Option[String] = None,
      c4Policy: Boolean = false,
      domainGate: Boolean = false,
      minQualityE4: Long = TrainingPrep.MinQualityE4,
      minTokens: Long = TrainingPrep.MinTokens,
      maxTokens: Long = TrainingPrep.MaxTokens): DataFrame = {
    val spark = docs.sparkSession
    import graft.operators.Expectations
    val keyed = docs.withColumn("ident", identityExpr(identityCol, canonicalizeUrl))
    val firstIds = keyed.groupBy(col("ident")).agg(min(col("doc_id")).as("first_doc"))
    val repPass = TextAnalysis.gopherSignals(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("gopher_keep").as("pass_rep"))
    val lmPass = lmModelPath.map { mp =>
      val (model, unk, global) = graft.operators.LmScore.loadModel(spark, mp)
      graft.operators.LmScore
        .scoreWithModel(docs.select(col("doc_id"), col("text")), model, unk, global)
        .select(col("doc_id"), (col("ppl_bucket") =!= "tail").as("pass_ppl"))
    }
    val langPass = nbModelPath.map { mp =>
      val (model, unk, prior) = graft.operators.LmScore.loadNbModel(spark, mp)
      graft.operators.LmScore
        .predictLang(docs.select(col("doc_id"), col("text")), model, unk, prior)
        .select(col("doc_id"), col("pred_lang").isin(keepLangs: _*).as("pass_lang"))
    }
    val clfPass = qualityModelPath.map { mp =>
      val (model, unk, prior) = graft.operators.LmScore.loadNbModel(spark, mp)
      graft.operators.LmScore
        .qualityKeep(docs.select(col("doc_id"), col("text")), model, unk, prior)
        .select(col("doc_id"), col("keep").as("pass_clf"))
    }
    val withSignals = keyed
      .join(firstIds, Seq("ident"))
      .select(Seq(col("doc_id"),
        TextAnalysis.nTokensCol(col("text")).as("n_tokens"),
        TextAnalysis.qualityE4Col(col("text")).as("quality_e4"),
        Expectations.docRowPass.as("pass_expect"),
        (col("doc_id") === col("first_doc")).as("first_seen")) ++
        (if (c4Policy) Seq(TextAnalysis.c4KeptCol(col("text")).as("pass_policy"))
         else Nil) ++
        (if (domainGate)
           Seq(Dedup.domainPassCol(col("doc_id")).as("pass_domain"))
         else Nil): _*)
      .join(repPass, Seq("doc_id"), "left")
      .withColumn("pass_rep", coalesce(col("pass_rep"), lit(true)))
    composeFullDecision(withSignals, lmPass, langPass, clfPass, c4Policy,
      domainGate, minQualityE4, minTokens, maxTokens)
  }

  /** Pre-cut threshold sweep — the d16 measurement composed into the cut
    * flow: before freezing a snapshot, sweep the ACCUMULATED index's
    * postings for near-dup pair counts per Jaccard bucket, pick the
    * threshold, then [[cut]]. One d3-cost pass over the compact stored
    * shingles (the same df-capped machinery as the batch d16i — the
    * sweep does NOT re-run per candidate threshold), nothing re-shingles
    * a byte. `includePlanted = true` because the online index holds only
    * genuinely ingested rows — "planted" ids exist only in the batch
    * index's graded fixture. `StreamingSpec` pins ingest-sweep ≡
    * cold-sweep bit-equality over the ingested corpus.
    */
  def preCutSweep(spark: SparkSession, shingleTable: String): DataFrame =
    Dedup.sweepFromShingles(
      ShingleIndex.shingles(spark, shingleTable, includePlanted = true))

  /** Cut-time soft-dedup budget (t62 composed into the freeze flow): the
    * per-source effective token budget under 1/|cluster| weights, with
    * the near-dup clusters computed from the ACCUMULATED index's stored
    * postings (includePlanted = true — the online index holds only
    * genuinely ingested rows) and the raw ingested (doc_id, source,
    * text) store supplying the token counts. The report a pipeline
    * freezes NEXT TO the cut so its mixture planner consumes effective,
    * not raw, source volumes. `StreamingSpec` pins ≡ the cold t62
    * composition over the ingested corpus.
    */
  def cutBudget(
      spark: SparkSession, shingleTable: String, docs: DataFrame): DataFrame =
    TrainingPrep.softDedupBudgetOf(docs,
      Dedup.clustersFromPairs(Dedup.jaccardPairsFromShingles(
        ShingleIndex.shingles(spark, shingleTable, includePlanted = true),
        Dedup.DefaultThreshold, Dedup.DefaultMaxDocFreq)))

  /** Cut-time per-host quota (t55 composed into the freeze flow): cap
    * each canonical host's contribution among the CUT SURVIVORS — the
    * C4/RefinedWeb domain cap is rank-based, so like the segment
    * fraction it is not prefix-consistent and belongs at the freeze, not
    * at arrival. Quality rides the decisions frame (computed once at
    * ingest); the caller supplies the (doc_id, host) frame from its raw
    * store. Ranking is the TopKPerKey bounded-heap node — a hot host
    * ships ~quota rows per mapper, never a host-sized window sort.
    * `StreamingSpec` pins ≡ the cold quota-over-cut composition.
    */
  def cutWithQuota(
      spark: SparkSession, shingleTable: String, outPath: String,
      hosts: DataFrame, quota: Int = Dedup.HostQuota,
      maxDupFracE4: Long = TrainingPrep.MaxDupFracE4): DataFrame =
    Dedup.hostQuotaKeepOf(
      cutTimeSelection(spark, shingleTable, outPath, maxDupFracE4)
        .join(hosts, Seq("doc_id"))
        .select(col("doc_id"), col("host"), col("quality_e4")), quota)

  /** Cut-time exact decontamination (d15/t64 composed into the freeze
    * flow): the cut selection minus every document sharing a verbatim
    * 13-gram with the FROZEN eval suites. The eval registry is a frozen
    * reference, so its distinct gram-hash frame is benchmark-bounded at
    * any corpus scale and BROADCASTS (the d15 waiver); it could even run
    * at arrival like the t39/LM legs, but it sits at the cut because the
    * eval-suite registry is a launch-time input, not an ingest-time one.
    * `docs` is the raw ingested (doc_id, text) store — the index holds
    * 3-shingle/segment hashes, not 13-grams — and only CUT SURVIVORS are
    * gram-exploded (a semi-join first), so the leg costs one pass over
    * the kept slice, not the corpus. `StreamingSpec` pins ≡ the cold
    * t64-shaped composition over the ingested corpus.
    */
  def cutDecontaminated(
      spark: SparkSession, shingleTable: String, outPath: String,
      docs: DataFrame, evalDocs: DataFrame,
      maxDupFracE4: Long = TrainingPrep.MaxDupFracE4): DataFrame =
    decontaminatedOf(
      cutTimeSelection(spark, shingleTable, outPath, maxDupFracE4),
      docs, evalDocs)

  /** The decontamination leg over an arbitrary kept frame — shared by
    * the hard-selection cut above and the soft-regime cut
    * ([[cutManifestSoft]]).
    */
  private[graft] def decontaminatedOf(
      kept0: DataFrame, docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    // the cut selection (an index + tombstone + gate composition) feeds
    // TWO plan branches — the semi-join pruning the gram explode and the
    // final left-anti — so a lazy localCheckpoint materializes the whole
    // upstream chain once instead of twice (the g9/runManifestOf pattern;
    // lazy, so it fuses into the first downstream job)
    val kept = named(kept0.sparkSession, "decontamination kept")(kept0.localCheckpoint(false))
    val keptGrams = Dedup.gramHashes(
      docs.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    val evalGrams = Dedup.gramHashes(evalDocs).select(col("g")).distinct()
    kept.join(
      Dedup.contaminationOf(keptGrams, evalGrams).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** The t65-equivalent freeze: cut-time selection → exact eval-gram
    * decontamination → per-host TopKPerKey quota — the full production
    * selection computed AT THE CUT from the accumulated online state.
    * Output matches the batch t65: (doc_id, host, quality_e4, host_rank).
    * `StreamingSpec` pins ≡ the cold composition over the ingested
    * corpus.
    */
  def cutProduction(
      spark: SparkSession, shingleTable: String, outPath: String,
      docs: DataFrame, evalDocs: DataFrame, hosts: DataFrame,
      quota: Int = Dedup.HostQuota,
      maxDupFracE4: Long = TrainingPrep.MaxDupFracE4): DataFrame =
    Dedup.hostQuotaKeepOf(
      cutDecontaminated(spark, shingleTable, outPath, docs, evalDocs, maxDupFracE4)
        .join(hosts, Seq("doc_id"))
        .select(col("doc_id"), col("host"), col("quality_e4")), quota)

  /** t66's freeze twin: the RUN MANIFEST computed at the cut —
    * [[cutProduction]] → t29 mixture → t51 epoch schedule → t26 shard
    * striping, rolled up per shard ([[TrainingPrep.runManifestOf]], the
    * same seam the batch t66 feeds). `docsWithSource` is the raw
    * ingested (doc_id, text, source) store. `StreamingSpec` pins the
    * cut manifest ≡ the cold t66-shaped manifest over the ingested
    * corpus — ingest ≡ cold like every other cut stage.
    */
  def cutManifest(
      spark: SparkSession, shingleTable: String, outPath: String,
      docsWithSource: DataFrame, evalDocs: DataFrame, hosts: DataFrame,
      quota: Int = Dedup.HostQuota): DataFrame = {
    val kept = cutProduction(spark, shingleTable, outPath,
        docsWithSource.select(col("doc_id"), col("text")), evalDocs, hosts, quota)
      .select(col("doc_id"), col("quality_e4"))
    val meta = docsWithSource.select(col("doc_id"), col("source"),
      TextAnalysis.nTokensCol(col("text")).cast("bigint").as("n_tokens"))
    TrainingPrep.runManifestOf(kept.join(meta, Seq("doc_id")))
  }

  /** The SOFT-REGIME cut-time selection: the accumulated per-doc
    * decisions with every HARD leg except the fuzzy survivorship —
    * quality, tokens, SemDeDup and whatever optional legs (LM, Gopher,
    * …) the gate ran — and NO segment-fraction gate: mirroring
    * [[TrainingPrep.softSelectionBase]], textual duplication is carried
    * by the soft weights at the manifest, not dropped at the cut (see
    * that Scaladoc for the measured double-counting argument). The legs
    * are read from the decisions frame's columns, so a gate configured
    * with more signals is swept automatically.
    */
  def cutTimeSelectionSoft(
      spark: SparkSession, shingleTable: String, outPath: String): DataFrame = {
    val dec = decisions(spark, outPath)
    val hard = dec.columns.toSeq
      .filter(c => c.startsWith("pass_") || c == "sem_keep")
      .map(col).reduce(_ && _)
    // takedowns bind at every cut flavor: the per-arrival verdicts were
    // written before any delete, so the deletion log is subtracted here
    ShingleIndex.minusTombstones(spark, shingleTable, dec.filter(hard))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("quality_e4"))
  }

  /** t66s's freeze twin: the SOFT-DEDUP-AWARE run manifest computed at
    * the cut — [[cutTimeSelectionSoft]] (hard quality/token/semantic
    * legs, duplication kept) → exact eval-gram decontamination → soft
    * mixture over the selection's cluster-discounted effective volumes
    * (clusters from the ACCUMULATED index's stored postings, the
    * [[cutBudget]] leg) → epochs over effective supply → shard striping
    * ([[TrainingPrep.runManifestSoftOf]], the same seam the batch t66s
    * feeds). `StreamingSpec` pins ingest ≡ cold like every other cut
    * stage.
    */
  def cutManifestSoft(
      spark: SparkSession, shingleTable: String, outPath: String,
      docsWithSource: DataFrame, evalDocs: DataFrame): DataFrame = {
    // kept feeds two branches (weights join + manifest chain) — g9 pattern
    val decontaminated = decontaminatedOf(
      cutTimeSelectionSoft(spark, shingleTable, outPath),
      docsWithSource.select(col("doc_id"), col("text")), evalDocs)
    val kept = named(spark, "soft manifest kept")(decontaminated.localCheckpoint(false))
    val clusters = Dedup.clustersFromPairs(Dedup.jaccardPairsFromShingles(
      ShingleIndex.shingles(spark, shingleTable, includePlanted = true),
      Dedup.DefaultThreshold, Dedup.DefaultMaxDocFreq))
    TrainingPrep.runManifestSoftOf(
      kept.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("quality_e4"))
        .join(docsWithSource.select(col("doc_id"), col("source")), Seq("doc_id"))
        .join(TrainingPrep.softDedupWeightsOf(kept.select(col("doc_id")), clusters)
          .select(col("doc_id"), col("weight_e4")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("n_tokens * weight_e4 div 10000").as("eff_tokens"),
          col("quality_e4")))
  }

  /** INCREMENTAL survivor-set maintenance — the u5 algebraic-view
    * discipline applied to the cut-time gate chain: instead of
    * recomputing [[cutTimeSelection]] from scratch at every freeze, a
    * materialized state frame (exactly cutTimeSelection's PRE-filter
    * schema: doc_id, shard, n_tokens, quality_e4, dup_frac_e4, one row
    * per decisions-kept doc) is updated after each ingested batch
    * touching ONLY the affected documents:
    *
    *   - new arrivals (the batch itself), and
    *   - existing docs whose segment-duplication stats the batch
    *     actually FLIPPED — dup-ness is binary (≥2 distinct holders),
    *     so only the sole prior holder of a batch hash whose prior
    *     distinct-doc count was exactly 1 can move; holders of
    *     already-duplicated hashes are untouched, which makes the set
    *     batch-bounded even under boilerplate skew (see
    *     [[appendStateFrame]]).
    *
    * The recompute aggregates the touched hashes' full postings to
    * binary flags and rolls the affected docs' own postings up against
    * them ([[stateRowsFrame]] — bit-equal to [[Dedup.segmentDupStats]]
    * restricted to those docs); everything else carries over
    * untouched. The quality/token/fuzzy/semantic legs are per-doc
    * prefix-consistent verdicts (decisions rows never change after
    * arrival), so they need no maintenance. Survivors =
    * `state.filter(dup_frac_e4 <= max)` — the fraction is stored
    * unfiltered so a doc crossing the gate in either direction needs
    * only its own row replaced.
    *
    * State layout is a VERSION LOG (the tombstone/vacuum discipline):
    * each update appends only the touched docs' rows under
    * `v=<version>/` and [[survivorsFromState]] resolves latest-version-
    * wins at read time — so update cost is O(touched), never an O(corpus)
    * state rewrite (the first cut of this operator rewrote the full
    * frame each batch and the rewrite dominated, measured in
    * docs/SCALING.md). The read-side merge is one doc_id window at the
    * freeze — paid once per cut, not per batch — and [[compactState]]
    * folds the log back to one version whenever it grows long
    * (re-runnable: a crash between the merged write and the old-version
    * deletes leaves duplicate lower-version rows the latest-wins reader
    * ignores).
    *
    * `StreamingSpec` pins delta ≡ full-recompute bit-equality after
    * every batch; the measured touched-set / cost ratio vs a full
    * rebuild is in docs/SCALING.md.
    */
  def updateSurvivors(
      spark: SparkSession, shingleTable: String, outPath: String,
      statePath: String, version: Long,
      batchDocs: DataFrame): Unit =
    appendStateFrame(spark, shingleTable, outPath, batchDocs)
      .write.mode("overwrite").parquet(s"$statePath/log/v=$version")

  /** The version-log rows an append batch produces — the frame
    * [[updateSurvivors]] writes, exposed so the flood spec and the plan
    * audit can inspect the DAG and its metrics directly.
    *
    * Dup-ness is BINARY (≥2 distinct holders, [[Dedup.segmentDupStats]]),
    * so an append can only FLIP a hash whose PRIOR distinct-doc count was
    * exactly 1 — and that sole prior holder is the only pre-existing doc
    * whose stats move. Holders of already-duplicated hashes keep their
    * flags (and therefore their fractions) unchanged, so the affected set
    * is provably batch-bounded (≤ |batch| + one prior holder per batch
    * hash) even when a boilerplate hash saturates half the corpus — the
    * all-sharers rule this replaces recomputed every holder of every
    * batch hash, O(corpus) under exactly that skew (flood-spec-pinned).
    * min==max over the batch-excluded postings ⟺ one distinct prior
    * holder (the min≠max discipline — never a countDistinct); the
    * touched-hash semi-join runs BEFORE the batch anti-join so every
    * intermediate is touched-hash-posting-sized.
    */
  private[graft] def appendStateFrame(
      spark: SparkSession, shingleTable: String, outPath: String,
      batchDocs: DataFrame): DataFrame = {
    val bIds = batchDocs.select(col("doc_id"))
    // hashes the batch touched: derived map-only from the batch TEXT —
    // no index read at all for this leg
    val hb = ShingleIndex.segmentHashesOf(
        batchDocs.select(col("doc_id"), col("text")))
      .select(col("h")).distinct()
    val priorSole = ShingleIndex.segments(spark, shingleTable)
      .join(broadcast(hb), Seq("h"), "left_semi")
      .join(broadcast(bIds), Seq("doc_id"), "left_anti")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") === col("mx"))
      .select(col("mn").as("doc_id"))
    val affected0 = priorSole
      .unionByName(bIds) // every arrival needs its own fresh row
      .distinct()
    // feeds three plan branches (g9 pattern)
    val affected = named(spark, "gate arrival affected docs")(affected0.localCheckpoint(false))
    stateRowsFrame(spark, shingleTable, outPath, affected,
      dead = bIds.limit(0))
  }

  /** Takedown maintenance for the survivor log — the delete-side twin of
    * [[updateSurvivors]], run after [[ShingleIndex.delete]](ids): writes
    * the deleted docs' rows DEAD (`alive = false` — the log has no row
    * removal, so death is a versioned fact like everything else) and
    * recomputes the sole remaining holders of the hashes the delete
    * un-duplicated, whose dup fractions can only fall — a doc the
    * duplication gate excluded can rejoin the survivor set here
    * (spec-pinned; see [[deleteStateFrame]] for the flip rule). The
    * deleted docs' own hashes come from the RAW pre-subtraction postings
    * ([[ShingleIndex.segmentsOfDocsRaw]] — the one read that must see
    * them); the recompute reads the tombstone-subtracted accessors, so
    * the new stats already exclude the deleted docs.
    */
  def updateSurvivorsAfterDelete(
      spark: SparkSession, shingleTable: String, outPath: String,
      statePath: String, version: Long,
      deletedIds: DataFrame): Unit =
    deleteStateFrame(spark, shingleTable, outPath, deletedIds)
      .write.mode("overwrite").parquet(s"$statePath/log/v=$version")

  /** The version-log rows a takedown produces — the delete-side twin of
    * [[appendStateFrame]]. The flip rule mirrors the append side: a
    * delete can only flip a hash whose REMAINING distinct-doc count is
    * exactly 1 (it was duplicated — the deleted holders plus one
    * survivor — and is not anymore), and that sole survivor is the only
    * doc whose stats move; a hash that keeps ≥2 survivors stays
    * duplicated and its holders carry over untouched. The postings here
    * are tombstone-subtracted (the delete is already logged), so
    * min==max ⟺ one survivor; deleting a boilerplate holder therefore
    * recomputes nobody (flood-spec-pinned).
    */
  private[graft] def deleteStateFrame(
      spark: SparkSession, shingleTable: String, outPath: String,
      deletedIds: DataFrame): DataFrame = {
    val dIds = deletedIds.select(col("doc_id"))
    val hd = ShingleIndex.segmentsOfDocsRaw(spark, shingleTable, dIds)
      .select(col("h")).distinct()
    val affected0 = ShingleIndex.segments(spark, shingleTable)
      .join(broadcast(hd), Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") === col("mx"))
      .select(col("mn").as("doc_id"))
      .distinct()
    val affected = named(spark, "gate deletion affected docs")(affected0.localCheckpoint(false))
    stateRowsFrame(spark, shingleTable, outPath, affected, dead = dIds)
  }

  /** The shared recompute tail of the two maintenance ops: fresh rows
    * for `affected` (alive) and `dead` (tombstoned) docs — one
    * O(touched) version-log append's worth of rows.
    *
    * The probes read the s-clustered index with filter-at-scan-exit
    * semi-joins: the rows that FLOW (and everything shuffled/aggregated
    * downstream) are touched-sized, while the scans themselves stay
    * corpus-sequential — scattered md5/doc_id key sets defeat parquet
    * min/max pruning, and a >10-value In is not pushed to parquet at
    * all, so a literal variant was measured SLOWER (docs/SCALING.md). At
    * extreme scale the standard move is a doc_id-clustered postings
    * projection to prune the by-doc pass too; the shuffle/write volumes
    * — the terms that dominate a distributed rebuild — are already
    * O(touched).
    *
    * The dup recompute aggregates each touched hash's postings to ONE
    * binary flag (≥2 distinct holders ⟺ min≠max — map-side-combined and
    * riding the table's bucketing on the hash), then rolls the affected
    * docs' own touched-sized postings up against those flags. Bit-equal
    * to [[Dedup.segmentDupStats]] restricted to the affected docs (same
    * ≥2-distinct-docs predicate, same occurrence arithmetic and
    * [[graft.operators.Exact.e]] rounding; the delta ≡ full spec pins
    * it) — but a hash flooding half the corpus contributes one flag row,
    * never its occurrence list, to every join and shuffle downstream
    * (the old shape pushed the full posting slice through the per-doc
    * rollup, O(flood) under exactly that skew).
    */
  private[graft] def stateRowsFrame(
      spark: SparkSession, shingleTable: String, outPath: String,
      affected: DataFrame, dead: DataFrame): DataFrame = {
    val segsA0 = ShingleIndex.segments(spark, shingleTable)
      .join(broadcast(affected), Seq("doc_id"), "left_semi")
    // feeds the flag probe AND the dup rollup
    val segsA = named(spark, "gate affected segments")(segsA0.localCheckpoint(false))
    val flagH = ShingleIndex.segments(spark, shingleTable)
      .join(broadcast(segsA.select(col("h")).distinct()), Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .select(col("h"), (col("mn") =!= col("mx")).as("is_dup"))
    // every segsA hash has a flag row by construction (segsA ⊆ the flag
    // feed), so the inner join is exact
    val dupA = segsA
      .join(flagH, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("is_dup"), lit(1L)).otherwise(lit(0L))).as("n_dup_segments"))
      .select(col("doc_id"),
        graft.operators.Exact.e(
          col("n_dup_segments").cast("double") / col("n_segments").cast("double"), 4)
          .as("dup_frac_e4"))
    val kept = decisions(spark, outPath).filter(col("kept"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("quality_e4"))
    val aliveRows = kept
      .join(affected, Seq("doc_id"), "left_semi")
      .join(dupA, Seq("doc_id"), "left")
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("quality_e4"),
        coalesce(col("dup_frac_e4"), lit(0L)).as("dup_frac_e4"),
        lit(true).as("alive"))
    val deadRows = kept
      .join(broadcast(dead), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("quality_e4"),
        lit(0L).as("dup_frac_e4"), lit(false).as("alive"))
    aliveRows.unionByName(deadRows)
  }

  /** The survivor view over [[updateSurvivors]]' version log — bit-equal
    * to [[cutTimeSelection]] over the same accumulated corpus
    * (spec-pinned). Latest version wins per doc; one doc_id-keyed window
    * at the freeze.
    */
  def survivorsFromState(
      spark: SparkSession, statePath: String,
      maxDupFracE4: Long = TrainingPrep.MaxDupFracE4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("v").desc)
    spark.read.parquet(s"$statePath/log")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "v")
      .filter(col("alive") && col("dup_frac_e4") <= maxDupFracE4)
      .drop("alive")
  }

  /** Fold the survivor version log into the single version `intoVersion`
    * — the vacuum twin: write the latest-wins merge, then drop the older
    * version directories. Re-runnable: a crash after the write leaves
    * duplicate lower-version rows that the latest-wins reader ignores.
    */
  def compactState(
      spark: SparkSession, statePath: String, intoVersion: Long): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("v").desc)
    val merged = spark.read.parquet(s"$statePath/log")
      .filter(col("v") <= intoVersion)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "v")
      // the merge reads the directories the write below replaces
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(s"$statePath/log/v=$intoVersion")
    val root = new org.apache.hadoop.fs.Path(s"$statePath/log")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v=") && n.stripPrefix("v=").toLong < intoVersion)
        fs.delete(st.getPath, true)
    }
  }

  /** Write the ACTUAL training layout at the cut: the t66 manifest's
    * mixture-kept production selection, rank-striped
    * ([[TrainingPrep.shardLayoutOf]]) and materialized as one ordered
    * file per `shard=` directory ([[graft.operators.DataLayout
    * .writeShards]]) with the text payload riding every row — the
    * directories a trainer streams, not just the rollup the manifest
    * reports. Returns the layout frame that was written.
    * `StreamingSpec` pins file-level equality (shard dirs + per-file
    * ordered content) against the batch write over the same ingested
    * corpus.
    */
  def cutShards(
      spark: SparkSession, shingleTable: String, outPath: String,
      docsWithSource: DataFrame, evalDocs: DataFrame, hosts: DataFrame,
      shardsPath: String, quota: Int = Dedup.HostQuota): DataFrame = {
    val kept = cutProduction(spark, shingleTable, outPath,
        docsWithSource.select(col("doc_id"), col("text")), evalDocs, hosts, quota)
      .select(col("doc_id"))
    val meta = docsWithSource.select(
      col("doc_id"), col("source"), col("text"),
      TextAnalysis.nTokensCol(col("text")).cast("bigint").as("n_tokens"))
    val layout = TrainingPrep.shardLayoutOf(kept.join(meta, Seq("doc_id")))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("text"),
        col("skey"), col("shard"), col("shard_pos"))
    graft.operators.DataLayout.writeShards(layout, shardsPath)
    layout
  }

  /** t66b's freeze twin: the PIECE-MEASURED run manifest computed at the
    * cut — [[cutProduction]] → per-survivor trained-piece counts under a
    * BPE vocabulary trained ON THE INGESTED STORE at freeze time
    * ([[graft.operators.Bpe.wordPiecesDfOf]] — the tokenizer a snapshot
    * ships is trained on that snapshot, not on a fixture dir) →
    * mixture/epochs/shards over piece budgets
    * ([[TrainingPrep.runManifestOf]]). Output matches the batch t66b:
    * (shard, doc_count, piece_sum, weighted_piece_sum, max_pos).
    * `StreamingSpec` pins ingest ≡ cold like every other cut stage.
    */
  def cutManifestBpe(
      spark: SparkSession, shingleTable: String, outPath: String,
      docsWithSource: DataFrame, evalDocs: DataFrame, hosts: DataFrame,
      quota: Int = Dedup.HostQuota): DataFrame = {
    // kept feeds the survivor semi-join and the final manifest join —
    // materialize the production-cut chain once (the g9 pattern)
    val production = cutProduction(spark, shingleTable, outPath,
        docsWithSource.select(col("doc_id"), col("text")), evalDocs, hosts, quota)
      .select(col("doc_id"), col("quality_e4"))
    val kept = named(spark, "bpe manifest kept")(production.localCheckpoint(false))
    // takedowns bind in the shipped tokenizer too: the vocabulary is
    // trained on the store MINUS the deletion log, so a taken-down
    // document's text cannot shape the merges a snapshot ships
    // (spec-pinned: deleting the doc changes the trained pieces)
    val wp = graft.operators.Bpe.wordPiecesDfOf(
      ShingleIndex.minusTombstones(spark, shingleTable,
        docsWithSource.select(col("doc_id"), col("text"))))
    val perDoc = docsWithSource
      .join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(wp), Seq("w"), "left")
      .withColumn("np", coalesce(col("np"), length(col("w")).cast("int") + lit(1)))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("np")).cast("long").as("n_tokens"))
    TrainingPrep.runManifestOf(kept.join(perDoc, Seq("doc_id")))
      .select(col("shard"), col("doc_count"),
        col("token_sum").as("piece_sum"),
        col("weighted_token_sum").as("weighted_piece_sum"),
        col("max_pos"))
  }

  def cutTimeSelection(
      spark: SparkSession, shingleTable: String, outPath: String,
      maxDupFracE4: Long = TrainingPrep.MaxDupFracE4): DataFrame = {
    val dup = Dedup.segmentDupStats(ShingleIndex.segments(spark, shingleTable))
      .select(col("doc_id"), col("dup_frac_e4"))
    ShingleIndex.minusTombstones(spark, shingleTable,
        decisions(spark, outPath).filter(col("kept")))
      .join(dup, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("shard"), col("n_tokens"), col("quality_e4"),
        coalesce(col("dup_frac_e4"), lit(0L)).as("dup_frac_e4"))
      .filter(col("dup_frac_e4") <= maxDupFracE4)
  }

  /** Freeze a training snapshot from the accumulated online state — the
    * first-class cut operation a gate-fed pipeline runs when it stops
    * ingesting and ships data:
    *
    *   - `scrub = false` — the t23-equivalent cut: the accumulated kept
    *     set further gated by the duplicated-segment FRACTION over the
    *     full ingested corpus ([[cutTimeSelection]]), still training on
    *     raw text. Composed with the online legs this reproduces the
    *     batch `trainingSelectionFull` gate chain (exact ∧ token ∧
    *     quality ∧ segment-dup ∧ fuzzy ∧ semantic) over the ingested
    *     corpus — `StreamingSpec` pins cut ≡ cold, bit-for-bit.
    *   - `scrub = true` — the t25-equivalent cut: instead of gating on
    *     the fraction, REMOVE every cross-document-duplicated span
    *     (the accumulated index supplies the duplicated hashes via
    *     [[ShingleIndex.duplicatedSegmentHashes]] — the same index-fed
    *     shape as t25i, no second pass through an h-partitioned window)
    *     and re-run the token/quality gates on the CLEANED text, so a
    *     document whose boilerplate made it long or "high-quality"
    *     enough must now pass on its real content. Needs `docs` — the
    *     raw ingested (doc_id, text) store — because the index holds
    *     hashes, not reassemblable text. This form starts from the
    *     IDENTITY survivorship legs (`fuzzy_keep ∧ sem_keep`), not the
    *     composite `kept`: t25's contract is that a document passes on
    *     its cleaned content, and a raw-text verdict can differ in
    *     EITHER direction once boilerplate is removed (an over-long doc
    *     can shrink under the token ceiling), so baking the raw gates in
    *     would silently diverge from the batch t25.
    *
    * Both forms read only the compact index + the decisions frame (plus
    * the raw store for scrub reassembly); nothing re-shingles a byte.
    */
  def cut(
      spark: SparkSession, shingleTable: String, outPath: String,
      docs: DataFrame, scrub: Boolean = false,
      maxDupFracE4: Long = TrainingPrep.MaxDupFracE4,
      minQualityE4: Long = TrainingPrep.MinQualityE4,
      minTokens: Long = TrainingPrep.MinTokens,
      maxTokens: Long = TrainingPrep.MaxTokens): DataFrame =
    if (!scrub) cutTimeSelection(spark, shingleTable, outPath, maxDupFracE4)
    else {
      val scrubbed = Dedup.scrubbedSpansOfDocs(
        docs, ShingleIndex.duplicatedSegmentHashes(spark, shingleTable))
      ShingleIndex.minusTombstones(spark, shingleTable,
          decisions(spark, outPath).filter(col("fuzzy_keep") && col("sem_keep")))
        .select(col("doc_id"), col("shard"))
        .join(scrubbed, Seq("doc_id"))
        .select(
          col("doc_id"), col("shard"), col("clean_text"), col("n_dropped_tokens"),
          TextAnalysis.nTokensCol(col("clean_text")).as("n_tokens"),
          TextAnalysis.qualityE4Col(col("clean_text")).as("quality_e4"))
        .filter(
          col("quality_e4") >= minQualityE4 &&
            col("n_tokens").between(minTokens, maxTokens))
    }
}

/** Persisted exactly-first-seen state over an opaque string identity —
  * factored from the full ingest gate so every at-arrival dedup keyed on
  * a string (canonical URL, perceptual hash, checksum) shares ONE probe
  * and ONE state layout. Per batch: a bloom prefix-filter over the
  * strictly-earlier prefix (an ident missing any bit is definitely new),
  * a bucket-pruned exact confirm (bloom false positives die here), and
  * the min-doc_id first-in-batch rule. State is per-batch idempotent
  * overwrites folded every `compactEvery` batches — see the full gate's
  * scaladoc for the crash-safety argument (unchanged by this factoring;
  * the on-disk layout under `root` is byte-compatible).
  */
private[streaming] object FirstSeen {
  import graft.operators.Sketches

  private def exists(spark: SparkSession, pth: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(pth)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** (doc_id, first_seen) for batch `id`. `keyed` is (doc_id, ident);
    * `idents` must be `keyed`'s distinct idents, materialized (both the
    * probe and the later [[update]] reuse it).
    */
  def probe(
      spark: SparkSession, root: String,
      keyed: DataFrame, idents: DataFrame, id: Long): DataFrame = {
    val bloomRoot = s"$root/bloom"
    val seenRoot = s"$root/seen"
    // bloom pre-filter over the STRICTLY EARLIER prefix: an ident missing
    // any bit is definitely new; only hits go to the exact confirm
    val candidates =
      if (!exists(spark, bloomRoot)) idents.limit(0)
      else {
        val acc = spark.read.parquet(bloomRoot).filter(col("batch_id") < id)
          .groupBy(col("w")).agg(expr("bit_or(bits)").as("bits"))
        Sketches.bloomPositions(idents, "ident")
          .join(broadcast(acc), Seq("w"), "left")
          .select(col("ident"),
            when(coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask")) === col("mask"), 1)
              .otherwise(0).as("hit"))
          .groupBy(col("ident")).agg(min(col("hit")).as("allhit"))
          .filter(col("allhit") === 1).select(col("ident"))
          .localCheckpoint()
      }
    val candBuckets = candidates
      .select(pmod(hash(col("ident")), lit(OnlineGate.SeenBuckets)).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // exact confirm, bucket-pruned to the candidates — bloom FPs die here
    val seenBefore =
      if (candBuckets.isEmpty) idents.limit(0)
      else spark.read.parquet(seenRoot)
        .filter(col("batch_id") < id && col("bucket").isin(candBuckets: _*))
        .join(broadcast(candidates), Seq("ident"), "left_semi")
        .select(col("ident")).distinct()
    val firstInBatch = keyed.groupBy(col("ident")).agg(min(col("doc_id")).as("first_doc"))
    keyed
      .join(broadcast(seenBefore.withColumn("seen", lit(true))), Seq("ident"), "left")
      .join(firstInBatch, Seq("ident"))
      .select(col("doc_id"),
        (col("seen").isNull && col("doc_id") === col("first_doc")).as("first_seen"))
  }

  /** State updates — EVERY arriving ident enters the seen set (kept or
    * rejected: first-seen is about arrival, not admission). Exact rows
    * FIRST, bloom partial second: a bloom bit without its exact rows
    * could mis-confirm a later FP as seen. Every `compactEvery` batches
    * the write folds the whole earlier prefix into this batch's
    * partition and drops the older directories.
    */
  def update(
      spark: SparkSession, root: String,
      idents: DataFrame, id: Long, compactEvery: Long): Unit = {
    val bloomRoot = s"$root/bloom"
    val seenRoot = s"$root/seen"
    val compacting = compactEvery > 0 && id > 0 && id % compactEvery == 0
    val newSeen = idents
      .withColumn("bucket", pmod(hash(col("ident")), lit(OnlineGate.SeenBuckets)))
    val seenOut =
      if (compacting && exists(spark, seenRoot))
        spark.read.parquet(seenRoot).filter(col("batch_id") <= id)
          .select(col("ident"), col("bucket"))
          .unionByName(newSeen).distinct()
          .localCheckpoint() // materialize BEFORE overwriting a source dir
      else newSeen
    seenOut.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$seenRoot/batch_id=$id")
    val newBloom = Sketches.bloomPositions(idents, "ident")
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bits"))
    val bloomOut =
      if (compacting && exists(spark, bloomRoot))
        spark.read.parquet(bloomRoot).filter(col("batch_id") <= id)
          .select(col("w"), col("bits"))
          .unionByName(newBloom)
          .groupBy(col("w")).agg(expr("bit_or(bits)").as("bits"))
          .localCheckpoint()
      else newBloom
    bloomOut.coalesce(1)
      .write.mode("overwrite").parquet(s"$bloomRoot/batch_id=$id")
    if (compacting) Seq(seenRoot, bloomRoot).foreach { r =>
      val rp = new org.apache.hadoop.fs.Path(r)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(rp)) fs.listStatus(rp).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("batch_id=") &&
            nm.stripPrefix("batch_id=").toLongOption.exists(_ < id))
          fs.delete(st.getPath, true)
      }
    }
  }
}

/** The at-arrival MEDIA ingest gate — the multimodal twin of the text
  * gate: every arriving asset is judged ONCE, at arrival, by
  *
  *   - the m8 quality rules (dimension floors, aspect cap, byte floor,
  *     declared-vs-actual size agreement — map-only, shared with the
  *     graded batch query through [[graft.operators.MultimodalOps
  *     .mediaQualityGateOf]]), and
  *   - perceptual first-seen: the m7 fingerprint
  *     ([[graft.operators.MultimodalOps.phashOf]] — the aHash shape) as
  *     the [[FirstSeen]] identity, so a re-crawled or re-encoded copy of
  *     an already-ingested asset is suppressed against the FULL
  *     accumulated history, not just its own micro-batch.
  *
  * kept = quality ∧ first_seen. Decisions are idempotent per-batch
  * overwrites; the state is the factored [[FirstSeen]] store (bloom
  * prefix + bucketed exact confirm, compacted), so crash/replay and
  * state-bounding arguments are inherited, and StreamingSpec pins
  * at-arrival ≡ [[mediaGateCold]] bit-for-bit over multi-batch ingest.
  *
  * Scale shape per batch: the fingerprint is the m7 relational kernel
  * (64-cell bounded partitions), the quality rules are codegen
  * projections, and the probe touches only candidate buckets of the
  * seen store — micro-batch-sized work against O(corpus) state.
  */
object MediaGate {
  import graft.operators.MultimodalOps

  /** Per-asset at-arrival verdicts over a streaming (doc_id, text,
    * n_chars) frame. Output rows (decisions/batch_id=N):
    * (doc_id, phash_hex, pass_quality, first_seen, kept).
    */
  def ingestStream(
      docs: DataFrame, outPath: String, checkpoint: String,
      compactEvery: Long = OnlineGate.CompactEvery): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val b = batch.toDF().localCheckpoint()
        val quality = MultimodalOps.mediaQualityGateOf(MultimodalOps.assetsOf(b))
          .select(col("doc_id"), col("kept").as("pass_quality"))
        val keyed = MultimodalOps.phashOf(b.select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("phash_hex").as("ident"))
          .localCheckpoint()
        val idents = keyed.select(col("ident")).distinct().localCheckpoint()
        val firstSeen = FirstSeen.probe(spark, outPath, keyed, idents, id)
        keyed.select(col("doc_id"), col("ident").as("phash_hex"))
          .join(quality, Seq("doc_id"))
          .join(firstSeen, Seq("doc_id"))
          .withColumn("kept", col("pass_quality") && col("first_seen"))
          .write.mode("overwrite").parquet(s"$outPath/decisions/batch_id=$id")
        FirstSeen.update(spark, outPath, idents, id, compactEvery)
      }
      .start()

  /** Accumulated at-arrival verdicts: one row per ingested asset. */
  def decisions(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(s"$outPath/decisions")

  /** The cold twin: the same verdicts from one batch pass over the full
    * corpus in arrival (doc_id) order — first_seen is the min-doc_id
    * holder of each fingerprint, exactly the accumulated stream rule.
    */
  def mediaGateCold(docs: DataFrame): DataFrame = {
    val quality = MultimodalOps.mediaQualityGateOf(MultimodalOps.assetsOf(docs))
      .select(col("doc_id"), col("kept").as("pass_quality"))
    val keyed = MultimodalOps.phashOf(docs.select(col("doc_id"), col("text")))
    val firstDoc = keyed.groupBy(col("phash_hex"))
      .agg(min(col("doc_id")).as("first_doc"))
    keyed.join(firstDoc, Seq("phash_hex"))
      .select(col("doc_id"), col("phash_hex"),
        (col("doc_id") === col("first_doc")).as("first_seen"))
      .join(quality, Seq("doc_id"))
      .select(col("doc_id"), col("phash_hex"), col("pass_quality"),
        col("first_seen"),
        (col("pass_quality") && col("first_seen")).as("kept"))
  }
}
