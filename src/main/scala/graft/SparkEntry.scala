package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, MultimodalOps, RelationalOps, Similarity, TextAnalysis}
import graft.operators.ImporterPipeline._
import graft.sources.{Fixtures, OracleCtes}

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or one of
  * the large-scale training-data extensions), expressed DataFrame-first;
  * each entry in [[oracleSql]] is the DuckDB twin over the same parquet.
  * Column names and types are aligned on both sides because the driver
  * hash-compares values after sorting columns by name.
  */
object SparkEntry {

  /** Flagship query (reference pipeline end-to-end, SURVEY.md §3.1): events
    * → validate → idempotency anti-join → dimensions for the new instances
    * → dedup → order lookup → PATCH payload. Driver smoke-checks rows>0 on
    * sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val events = Fixtures.importerEvents(spark, dir)
    val newInst = newInstanceEvents(validEvents(events), Fixtures.existingInstances(spark, dir))
    val dims = dedupOptions(validDimensions(projectDimensions(Fixtures.apiDimensions(spark, dir))))
    val forNew = dims.join(newInst.select("instance_id"), Seq("instance_id"), "left_semi")
    optionUpdates(withOrder(forNew, Fixtures.codeLists(spark, dir)), enablePatchNodeId = true)
  }

  private def dimsValid(spark: SparkSession, dir: String): DataFrame =
    validDimensions(projectDimensions(Fixtures.apiDimensions(spark, dir)))

  private def dimsDedup(spark: SparkSession, dir: String): DataFrame =
    dedupOptions(dimsValid(spark, dir))

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * training-data-pipeline extensions.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    importerQueries ++ relationalQueries ++ textQueries ++ dedupQueries ++
      similarityQueries ++ multimodalQueries ++ sourceQueries

  def importerQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- P3: event validation filter ---
    "p3_validate_events" -> ((s, d) => validEvents(Fixtures.importerEvents(s, d))),
    // --- S12: dead-letter side output ---
    "s12_dead_letter" -> ((s, d) => deadLetters(Fixtures.importerEvents(s, d))),
    // --- J2: idempotency left-anti join ---
    "j2_new_instances" -> ((s, d) =>
      newInstanceEvents(validEvents(Fixtures.importerEvents(s, d)), Fixtures.existingInstances(s, d))),
    // --- P1: nested-struct projection API→DB ---
    "p1_project_dimensions" -> ((s, d) => projectDimensions(Fixtures.apiDimensions(s, d))),
    // --- P2: instance projection (array column) ---
    "p2_project_instances" -> ((s, d) => projectInstances(Fixtures.instances(s, d))),
    // --- P6: dimension validation with per-branch error messages ---
    "p6_invalid_dimensions" -> ((s, d) =>
      invalidDimensions(projectDimensions(Fixtures.apiDimensions(s, d)))),
    // --- P9: dimension-name extraction (scalar string fn) ---
    "p9_dimension_names" -> ((s, d) => dimensionNames(dimsValid(s, d))),
    // --- A3: dedup (replaces reference's insert cache) ---
    "a3_dedup_options" -> ((s, d) => dimsDedup(s, d)),
    // --- A1: hash group-by codes per code list ---
    "a1_codes_by_list" -> ((s, d) => codesByList(dimsDedup(s, d))),
    // --- J1: left-outer broadcast order lookup (nullable ord) ---
    "j1_order_lookup" -> ((s, d) => withOrder(dimsDedup(s, d), Fixtures.codeLists(s, d))),
    // --- P8: no-op update filter with EnablePatchNodeID=false ---
    "p8_option_updates_no_nodeid" -> ((s, d) =>
      optionUpdates(withOrder(dimsDedup(s, d), Fixtures.codeLists(s, d)), enablePatchNodeId = false)),
    // --- P7+J3: time-exclusion + edge-construction join ---
    "j3_code_edges" -> ((s, d) => codeEdges(dimsDedup(s, d), Fixtures.codeLists(s, d))),
    // --- S5/S6: graph node sink ---
    "s5_graph_nodes" -> ((s, d) =>
      graphNodes(projectInstances(Fixtures.instances(s, d)), dimsDedup(s, d))),
    // --- S8/A5: per-instance dimension array ---
    "a5_instance_dimensions" -> ((s, d) => instanceDimensions(dimsDedup(s, d))),
    // skew-capped A5: digest bounded at maxDims entries + explicit
    // overflow count — the 100 TB form (one pathological instance can't
    // materialize an unbounded row); cap chosen to EXERCISE the slice on
    // the fixture (some instances overflow at sf>=0.01)
    "a5b_instance_dimensions_bounded" -> ((s, d) =>
      instanceDimensionsBounded(dimsDedup(s, d), maxDims = 10)),
    // --- S9: uniqueness-constraint check (violations on the raw feed) ---
    "s9_unique_violations" -> ((s, d) =>
      uniquenessViolations(dimsValid(s, d), Seq("instance_id", "dimension_id", "option"))),
    // --- S11: completed-event projection ---
    "s11_completed_events" -> ((s, d) =>
      completedEvents(newInstanceEvents(validEvents(Fixtures.importerEvents(s, d)),
        Fixtures.existingInstances(s, d)))),
    // --- S7 graph analytics: code-node degrees over the edges DF ---
    "s7_code_degrees" -> ((s, d) =>
      codeDegrees(codeEdges(dimsDedup(s, d), Fixtures.codeLists(s, d)))),
    // --- graph analytics: integer-arithmetic PageRank (exactly replayable) ---
    "g5_code_pagerank" -> ((s, d) =>
      codePageRank(dimsDedup(s, d), Fixtures.codeLists(s, d))),
    // --- skew tool: two-phase salted aggregation (result == plain agg) ---
    "k1_salted_pricing_by_flag" -> graft.operators.SkewOps.saltedPricingByFlag _,
    // --- flagship end-to-end ---
    "flagship_updates" -> ((s, d) => flagship(s, d)),
  )

  def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> RelationalOps.pricingSummary _,
    "q3_shipping_priority" -> RelationalOps.shippingPriority _,
    "q5_local_supplier_volume" -> RelationalOps.localSupplierVolume _,
    "q18_big_orders" -> RelationalOps.bigOrders _,
    "w1_top_users_per_event" -> RelationalOps.topUsersPerEventType _,
    "w2_running_totals" -> RelationalOps.runningTotals _,
    "g1_daily_event_rollup" -> RelationalOps.dailyEventRollup _,
    "g2_event_type_rollup" -> RelationalOps.eventTypeRollup _,
    "set1_purchasers_minus_errored" -> RelationalOps.purchasersMinusErrored _,
    "set2_signup_and_purchase" -> RelationalOps.signupAndPurchase _,
    "f1_json_props" -> RelationalOps.jsonProps _,
    "j4_exists_urgent_customers" -> RelationalOps.customersWithUrgentOrders _,
    "g3_event_pivot_by_day" -> RelationalOps.eventPivotByDay _,
    "f2_ship_latency" -> RelationalOps.shipLatency _,
    "f3_customer_name_ops" -> RelationalOps.customerNameOps _,
    "f4_median_value_by_type" -> RelationalOps.medianValueByType _,
    "w3_top_parts_by_brand" -> RelationalOps.topPartsByBrand _,
    "w4_sessionize" -> RelationalOps.sessionize _,
    // ordered conversion funnel via per-stage conditional min-aggs (no
    // per-user ordered window over the event log)
    "w8_signup_funnel" -> RelationalOps.signupFunnel _,
    // weekly cohort retention matrix: cohort min-agg + broadcast join +
    // bounded rollup (no window, no self-join)
    "w9_cohort_retention" -> ((s: SparkSession, d: String) =>
      RelationalOps.cohortRetention(s, d)),
    // conversion-latency quantiles per cohort: rides w8's funnel; exact
    // nearest-rank stats over the |converted-users|-bounded frame
    "w10_conversion_latency" -> RelationalOps.conversionLatency _,
    "w11_funnel_dropoff" -> RelationalOps.funnelDropoff _,
    "g4_event_cube" -> RelationalOps.eventCube _,
    "j5_asof_purchase_view" -> graft.operators.TemporalJoins.asOfPurchaseView _,
    "j6_range_purchase_error" -> graft.operators.TemporalJoins.purchaseErrorWithin _,
    // custom Catalyst whole-operator (logical node + strategy + two-phase
    // bounded-heap physical plan)
    "w5_top_events_per_user" -> RelationalOps.topEventsPerUser _,
    "q10_returned_revenue" -> RelationalOps.returnedItemRevenue _,
    "q14_promo_share" -> RelationalOps.promoRevenueShare _,
    // correlated scalar subquery (decorrelated) + EXISTS/NOT-EXISTS shapes
    "q17_small_qty_revenue" -> RelationalOps.smallQuantityRevenue _,
    "q21_waiting_suppliers" -> RelationalOps.waitingSuppliers _,
    // RANGE-frame (value-interval) window, vs w2's ROWS frame
    "w6_moving_hourly_value" -> RelationalOps.movingHourlyValue _,
    // GROUPING SETS (the general form; g2 ROLLUP / g4 CUBE are the fixed ones)
    "g6_event_grouping_sets" -> RelationalOps.eventGroupingSets _,
    // hierarchical ROLLUP (region → nation → total), the k+1-set CUBE subset
    "g8_region_rollup" -> RelationalOps.customerRegionRollup _,
    // gaps-and-islands: longest consecutive-day streak per user
    "w7_longest_daily_streak" -> RelationalOps.longestDailyStreak _,
    // deep 6-table join, all dims broadcast (TPC-H Q8 shape)
    "q8_market_share" -> RelationalOps.marketShare _,
    // NOT IN subquery → null-aware anti join (TPC-H Q16 shape)
    "q16_supplier_counts" -> RelationalOps.supplierCounts _,
    // OR-of-conjunctions predicate across both join sides (TPC-H Q19 shape)
    "q19_disjunctive_revenue" -> RelationalOps.disjunctiveRevenue _,
    // argmin via decorrelated scalar subquery (TPC-H Q2 shape)
    "q2_min_cost_supplier" -> RelationalOps.minCostSupplier _,
    // outer-join count histogram incl. the zero bucket (TPC-H Q13 shape)
    "q13_order_count_distribution" -> RelationalOps.orderCountDistribution _,
    // exact-integer above-average filter + null-safe anti join (Q22 shape)
    "q22_dormant_balances" -> RelationalOps.dormantBalances _,
    // argmax over an aggregate, ties surface (TPC-H Q15 shape)
    "q15_top_revenue_supplier" -> RelationalOps.topRevenueSupplier _,
    // triangle counting on the co-purchase graph (oriented edge joins)
    "g7_part_triangles" -> ((s: SparkSession, d: String) =>
      RelationalOps.partTriangles(s, d)),
    // connected components on g7's co-purchase graph via alternating
    // large/small-star rounds — O(log n) convergence, the same operator
    // d8 clusters with; recursive-CTE oracle
    "g9_part_components" -> ((s: SparkSession, d: String) =>
      graft.operators.GraphOps.partComponents(s, d)),
    // nested IN-subquery chain with a grouped HAVING gate (Q20 shape)
    "q20_bulk_part_suppliers" -> RelationalOps.bulkPartSuppliers _,
    // EXISTS with a non-equi predicate riding the semi-join key (Q4 shape)
    "q4_order_priority_count" -> RelationalOps.orderPriorityCount _,
    // all-pushable scan filters + 1-row aggregate (Q6 shape)
    "q6_forecast_revenue" -> RelationalOps.forecastRevenue _,
    // bidirectional nation-pair volume by year (Q7 shape)
    "q7_volume_shipping" -> RelationalOps.volumeShipping _,
    // nation × year profit over a part-name pattern (Q9 shape, no partsupp)
    "q9_product_type_profit" -> RelationalOps.productTypeProfit _,
    // HAVING vs a global-scalar threshold in exact integers (Q11 shape)
    "q11_important_parts" -> RelationalOps.importantParts _,
    // conditional split counts over a join (Q12 shape)
    "q12_priority_shipping" -> RelationalOps.priorityShipping _,
    // MERGE INTO (update/insert/delete branches) as one full-outer join
    "u1_customer_upsert" -> graft.operators.MergeOps.customerUpsert _,
    // SCD-2 versioned history merge: changed rows close + append, the
    // unchanged branch is the reference's P8 no-op-update rule
    "u2_customer_scd2" -> graft.operators.MergeOps.customerScd2 _,
    // changelog/CDC materialization: last-writer-wins snapshot via ONE
    // max_by groupBy (map-side compaction), tombstones erase keys
    "u3_user_changelog" -> graft.operators.MergeOps.userChangelog _,
    // CDC extraction: diff two snapshots into the minimal change feed
    // (I/U/D, P8 no-ops absent) via the same single full-outer join
    "u4_customer_snapshot_diff" -> graft.operators.MergeOps.customerSnapshotDiff _,
    // incremental view maintenance: merge a late batch's partials into
    // the algebraic rollup — rollup-sized frames only, base never rescanned
    "u5_rollup_maintenance" -> graft.operators.MergeOps.rollupMaintenance _,
    // erasure retraction: opted-out users subtracted from the derived
    // rollup by negated partials; fully-retracted groups disappear
    "u6_erasure_retraction" -> graft.operators.MergeOps.erasureRetraction _,
  )

  def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_token_stats" -> TextAnalysis.tokenStats _,
    "t2_quality_scores" -> TextAnalysis.qualityScores _,
    "t3_lang_id" -> TextAnalysis.langId _,
    "t4_fingerprints" -> TextAnalysis.fingerprints _,
    // rolling-hash winnowing (custom expression) — rows-only
    "t5_winnow_fingerprints" -> TextAnalysis.winnowFingerprints _,
    "t6_winnow_candidates" -> ((s: SparkSession, d: String) => TextAnalysis.winnowCandidates(s, d)),
    // training-data prep
    "t7_normalize" -> graft.operators.TrainingPrep.normalized _,
    "t8_chunks" -> graft.operators.TrainingPrep.chunks _,
    "t9_tfidf_top_terms" -> graft.operators.TrainingPrep.tfidfTopTerms _,
    "t10_stratified_sample" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.stratifiedSample(s, d)),
    // sequence packing via distributed two-phase prefix sum
    "t11_packed_chunks" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.packedChunks(s, d)),
    "t12_balance_weights" -> graft.operators.TrainingPrep.balanceWeights _,
    "t13_contamination" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.contamination(s, d)),
    "t14_hash_split" -> graft.operators.TrainingPrep.hashSplit _,
    // deterministic global shuffle → striped training shards (two-phase
    // prefix-sum global rank, never a single-partition window) + manifest
    "t26_shard_assignment" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.shardAssignment(s, d)),
    "t27_shard_manifest" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.shardManifest(s, d)),
    // hash-bucketed STABLE shards: adding documents never moves existing
    // ones (the incremental-refresh trade-off against t26's exact balance)
    "t28_stable_shards" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.stableShardAssignment(s, d)),
    // same layout widened to 256 shards (2 hex digits) — the knob that
    // sizes per-shard window memory to corpus bytes at 100 TB
    "t28w_stable_shards_wide" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.stableShardAssignment(s, d, hexDigits = 2)),
    // temperature-weighted domain mixture (w_i ∝ p_i^0.5): |sources|-row
    // broadcast rate table, deterministic md5 keep decision, no shuffle
    "t29_mixture_selection" ->
      graft.operators.TrainingPrep.mixtureSelection _,
    // per-source quality-ordered token budget via the two-phase prefix sum
    // (never a one-task-per-source window)
    "t30_curriculum_selection" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.curriculumSelection(s, d)),
    // t30's staged diagnostic twin: the pre-budget-filter frame (r10
    // adjudication — isolates any future driver-side divergence to either
    // the prefix-sum machinery or the final filter/check surface)
    "t30s_curriculum_frame" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.curriculumFrame(s, d)),
    // Gopher-style repetition quality gates (t15 = light 2/3-gram subset;
    // t39 = the full char-weighted Table-A1 family + composed keep gate;
    // the gate is surfaced as INT in both engines — boolean was a
    // canonicalization suspect in the r10 driver-red adjudication)
    "t15_repetition_signals" -> TextAnalysis.repetitionSignals _,
    "t39_gopher_repetition" -> ((s: SparkSession, d: String) =>
      TextAnalysis.gopherRepetition(s, d, plantRepetition = true)
        .withColumn("gopher_keep", col("gopher_keep").cast("int"))),
    // t39's staged diagnostic twin: the per-(doc, n) gram-stat collapse
    "t39s_gopher_stage" -> ((s: SparkSession, d: String) =>
      TextAnalysis.gopherRepetitionStage(s, d, plantRepetition = true)),
    // PII scrubbing; plantPii seeds deterministic emails/phones (the raw
    // corpus has none — same vacuity rule as d1/d2/v5)
    "t16_pii_redaction" -> ((s: SparkSession, d: String) =>
      TextAnalysis.piiRedacted(s, d, plantPii = true)),
    // link-domain census; plantUrls seeds deterministic links (same rule)
    "t17_domain_counts" -> ((s: SparkSession, d: String) =>
      TextAnalysis.domainCounts(s, d, plantUrls = true)),
    // WARC→WET main-content extraction over deterministically wrapped
    // pages (the corpus has no markup — same planting rule), map-only
    "t49_html_extraction" -> TextAnalysis.htmlExtracted _,
    // C4 page-level policy filters: per-rule flags + verdict, map-only
    "t54_c4_policy_filters" -> TextAnalysis.c4PolicyFilters _,
    // tokenizer fertility by language: map-only t21 formulas + ONE
    // lang-bounded groupBy with map-side partial aggregation
    "t47_tokenizer_fertility" -> TextAnalysis.tokenizerFertilityByLang _,
    "t63_diversity_report" -> TextAnalysis.diversityReport _,
    "t64_decontaminated_selection" ->
      graft.operators.TrainingPrep.decontaminatedSelection _,
    "t65_production_selection" ->
      graft.operators.TrainingPrep.productionSelection _,
    // t66: the run manifest — t65 selection → t29 mixture → t51 epochs
    // → t26 shard striping, rolled up per shard (the capstone the
    // t-family composes into; every leg keeps its audited plan)
    "t66_run_manifest" -> graft.operators.TrainingPrep.runManifest _,
    // t66b: the manifest measured in TRAINED BPE PIECES — survivors
    // semi-joined before the word explode, vocab-bounded broadcast
    // word→pieces map, then the same audited manifest composition
    "t66b_run_manifest_bpe" -> graft.operators.TrainingPrep.runManifestBpe _,
    // per-host document quota (C4/RefinedWeb domain cap): TopKPerKey
    // bounded heaps per host, no full-host window sort
    "t55_host_quota_keep" -> Dedup.hostQuotaKeep _,
    // dedup attrition by source: the data-card number next to the
    // mixture weights — one join + one |sources|-bounded groupBy
    "t57_dedup_attrition" -> ((s: SparkSession, d: String) =>
      Dedup.dedupAttritionBySource(s, d)),
    // BPE vocab induction trained on the word histogram (one corpus agg
    // + driver loop on the bounded histogram), fertility rollup per doc
    "t50_bpe_piece_stats" -> ((s: SparkSession, d: String) =>
      graft.operators.Bpe.bpePieceStats(s, d)),
    // the shipped tokenizer artifact: corpus piece histogram under the
    // trained merges (broadcast segmentation table, piece-bounded rollup)
    "t52_bpe_vocab_histogram" -> ((s: SparkSession, d: String) =>
      graft.operators.Bpe.bpeVocabHistogram(s, d)),
    // the BPE-FED token arithmetic (round-15): chunk boundaries and the
    // packing tape measured in trained pieces, not whitespace tokens —
    // the t50 merges actually driving the budget math
    "t8b_bpe_chunks" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.bpeChunks(s, d)),
    "t11b_bpe_packed_docs" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.packedDocsBpe(s, d)),
    // media dedup: 64-segment mean-threshold perceptual fingerprint
    // (aHash shape) + d1-style dup groups; plants exact + one-byte-
    // perturbed copies (the d1/t16 vacuity rule)
    "m7_phash_dup_groups" -> ((s: SparkSession, d: String) =>
      graft.operators.MultimodalOps.phashDupGroups(s, d)),
    // data-constrained epoch scheduling (Muennighoff 2023): one pass per
    // source, extra epochs rationed in quality order under the budget
    "t51_epoch_schedule" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.epochSchedule(s, d)),
    // the composed end-to-end selection gate (dedup ∧ tokens ∧ quality ∧
    // segment-dup fraction) over the UNPLANTED production corpus
    "t20_training_selection" -> graft.operators.TrainingPrep.trainingSelection _,
    // t20 further composed with MinHash near-dup (d4) and SemDeDup (v13)
    // survivorship — the complete pretraining gate
    "t23_training_selection_full" ->
      graft.operators.TrainingPrep.trainingSelectionFull _,
    // scrub-then-select: duplicated spans REMOVED (t24, unplanted), token
    // and quality gates re-run on the cleaned text, then the t23
    // survivorship anti-joins — the composition a pipeline actually ships
    "t25_scrubbed_selection" ->
      graft.operators.TrainingPrep.trainingSelectionScrubbed _,
    // the index-fed twins of t23/t25: segment-dup, scrub-signal and
    // MinHash survivorship legs read from the materialized shingle index
    // (same scoring engines, bit-equal — ScaleOpsSpec pins it), so each
    // reuses its twin's oracle; the inline originals stay graded
    // alongside to carry the amortization comparison
    "t23i_training_selection_full" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.trainingSelectionFullIndexed(
        s, d, graft.operators.IndexStore.shingleTable(s, d))),
    "t25i_scrubbed_selection" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.trainingSelectionScrubbedIndexed(
        s, d, graft.operators.IndexStore.shingleTable(s, d))),
    // BPE-style pre-tokenizer piece counts next to whitespace tokens;
    // plantUrls adds digit/punct runs so the ratio is non-vacuous
    "t21_bpe_tokens" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTokenStats(s, d, plantUrls = true)),
    // corpus-wide stop-gram census: global top-k via TakeOrdered (bounded
    // per-partition heaps), never a full sort
    "t22_top_ngrams" -> ((s: SparkSession, d: String) => TextAnalysis.topNgrams(s, d)),
    // CCNet-style bigram-LM perplexity buckets: model table is
    // vocab-bounded and broadcast; one corpus-sized shuffle (doc groupBy)
    "t31_bigram_lm_ppl" -> graft.operators.LmScore.bigramLmScores _,
    // index-fed twin: scores against the persisted model (trained once
    // per corpus via IndexStore), bit-equal to t31 — same oracle
    "t31i_bigram_lm_ppl" -> ((s: SparkSession, d: String) =>
      graft.operators.LmScore.bigramLmScoresIndexed(
        s, d, graft.operators.IndexStore.lmModelPath(s, d))),
    // DSIR hashed-bigram importance weights: 256-row feature table,
    // broadcast score join, integer log-ratio sums
    "t32_dsir_weights" -> graft.operators.LmScore.dsirWeights _,
    // persisted-features twin: frozen target/raw distributions, bit-equal
    "t32i_dsir_weights" -> ((s: SparkSession, d: String) =>
      graft.operators.LmScore.dsirWeightsIndexed(
        s, d, graft.operators.IndexStore.dsirPath(s, d))),
    // BM25 retrieval per query through the TopKPerKey physical node
    "t33_bm25_topk" -> graft.operators.LmScore.bm25TopK _,
    // trained Naive-Bayes language ID (CCNet's fastText-langid stage):
    // |langs|·|vocab| model broadcast, one-union contribution table, one
    // corpus-sized groupBy + a label-bounded argmin exchange
    "t44_nb_langid" -> graft.operators.LmScore.nbLangScores _,
    // persisted-model twin: classifies against the frozen NB model
    // (trained once per corpus via IndexStore), bit-equal — same oracle
    "t44i_nb_langid" -> ((s: SparkSession, d: String) =>
      graft.operators.LmScore.nbLangScoresIndexed(
        s, d, graft.operators.IndexStore.nbModelPath(s, d))),
    // classifier evaluation: the (labeled, predicted) confusion matrix —
    // one |langs|²-row aggregation over the frozen-model verdicts
    "t45_langid_confusion" -> ((s: SparkSession, d: String) =>
      graft.operators.LmScore.nbLangConfusion(
        s, d, graft.operators.IndexStore.nbModelPath(s, d))),
    // classifier quality report: per-language precision/recall/F1 plus a
    // [macro] row, one label-bounded rollup over the t45 confusion cells
    "t46_langid_quality" -> ((s: SparkSession, d: String) =>
      graft.operators.LmScore.nbLangQuality(
        s, d, graft.operators.IndexStore.nbModelPath(s, d))),
    // GPT-3-style quality classifier: binary NB (curated sources vs the
    // rest) + deterministic md5-lottery pareto keep rule
    "t48_quality_classifier_keep" ->
      graft.operators.LmScore.qualityClassifierKeep _,
    // persisted-model twin (trained once per corpus), bit-equal — same oracle
    "t48i_quality_classifier_keep" -> ((s: SparkSession, d: String) =>
      graft.operators.LmScore.qualityClassifierKeepIndexed(
        s, d, graft.operators.IndexStore.qualityModelPath(s, d))),
    // classifier calibration: fixed-width margin bins × empirical curated
    // fraction / keep rate / mean score — the reliability table
    "t53_quality_calibration" ->
      graft.operators.LmScore.qualityCalibration _,
    // CCNet composition: the t20 gate ∧ LM bucket ≠ tail (one doc_id join)
    "t34_lm_gated_selection" -> graft.operators.LmScore.lmGatedSelection _,
    // interpolated trigram LM (Jelinek–Mercer) — the deeper scoring model
    "t35_trigram_lm_ppl" -> graft.operators.LmScore.trigramLmScores _,
    // reciprocal-rank fusion of the BM25 and tf-idf retrievers
    "t36_rrf_fusion" -> graft.operators.LmScore.rrfFusion _,
    // exact-count per-stratum sampling (fixed quota, md5-ranked)
    "t37_exact_stratified_sample" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.exactStratifiedSample(s, d)),
    // the corpus data card: (source, lang) rollup of doc/token/byte totals
    "t38_data_card" -> graft.operators.TrainingPrep.dataCard _,
    // deequ-style declarative data-quality gate: one aggregation pass of
    // column expectations + one anti-join FK check, long-form report
    "t40_data_expectations" -> graft.operators.Expectations.dataExpectations _,
    // the same gate over the importer feed: the reference's validation
    // matrix (non-empty ids/options, S9 uniqueness, code-list FK) as
    // declarative checks — the raw-feed rows P6/A3 filter make the
    // completeness/uniqueness checks bind, the post-validation FK passes
    "t43_importer_expectations" ->
      graft.operators.Expectations.importerExpectations _,
    // the drift monitor: current corpus vs its previous snapshot (prefix
    // discipline), one conditional-aggregation scan
    "t41_metric_drift" -> ((s: SparkSession, d: String) =>
      graft.operators.Expectations.metricDrift(s, d)),
    // vector-modality drift: per-label centroid shift² in exact fx² units
    "t42_embedding_drift" -> ((s: SparkSession, d: String) =>
      graft.operators.Expectations.embeddingDrift(s, d)),
  )

  def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // plantClones = true on d1/d2/v5: the graded corpora contain no true
    // duplicates, so the benchmark entries seed deterministic clones that
    // the oracle SQL replays; production callers default to planting OFF
    "d1_exact_duplicate_groups" -> ((s: SparkSession, d: String) =>
      Dedup.exactDuplicateGroups(s, d, plantClones = true)),
    "d2_exact_dedup_keep" -> ((s: SparkSession, d: String) =>
      Dedup.exactDedupKeep(s, d, plantClones = true)),
    "d3_ngram_jaccard_pairs" -> ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)),
    "d4_minhash_lsh_pairs" -> ((s: SparkSession, d: String) => Dedup.minhashLshPairs(s, d)),
    "d5_simhash_signatures" -> Dedup.simhashSignatures _,
    // d8 feeds its pair leaf from the materialized shingle index (built
    // once per process by IndexStore) — the clustering engine is unchanged
    // and ScaleOpsSpec pins index-fed pairs bit-equal to inline, so the
    // oracle (which re-derives from the corpus) still applies verbatim
    "d8_duplicate_clusters" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.duplicateClusters(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    // d17/t59 ride the PERSISTED cluster labels (IndexStore, built once
    // per process from the index pairs): the histogram that sizes the
    // dedup decision, and the data-constrained soft-dedup alternative
    // (down-weight members instead of dropping them). Only the first
    // reader pays the closure pass — d8 stays graded on it inline.
    "d17_cluster_size_histogram" -> ((s: SparkSession, d: String) =>
      Dedup.clusterSizeHistogram(s.read.parquet(
        graft.operators.IndexStore.clusterPath(s, d)))),
    "t59_soft_dedup_weights" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.softDedupWeights(s, d,
        s.read.parquet(graft.operators.IndexStore.clusterPath(s, d)))),
    "t62_soft_dedup_budget" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.softDedupBudget(s, d,
        s.read.parquet(graft.operators.IndexStore.clusterPath(s, d)))),
    // t67: the mixture planner actually CONSUMING t62's effective
    // volumes — √-temperature rates over cluster-discounted supply,
    // same per-doc keep hash as t29
    "t67_soft_mixture_selection" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.softMixtureSelection(s, d,
        s.read.parquet(graft.operators.IndexStore.clusterPath(s, d)))),
    // t66s: t67 folded into the capstone — t65 selection → soft mixture
    // (effective-volume rates) → epochs over effective supply → shards
    "t66s_run_manifest_soft" -> ((s: SparkSession, d: String) =>
      graft.operators.TrainingPrep.runManifestSoft(s, d,
        s.read.parquet(graft.operators.IndexStore.clusterPath(s, d)))),
    // d18 rides the STORED 32-perm signatures: the 1-bit sketch estimate
    // graded against the exact verified Jaccard it approximates
    "d18_bbit_minhash_estimate" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.bbitMinhashEstimate(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    // d4b rides the PACKED b-bit columns stored at build (3 longs/doc):
    // banded candidates screened by the 4-bit estimator before any
    // posting-list verify — the b-bit storage claim made real
    "d4b_bbit_screened_pairs" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.bbitScreenedPairs(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    // the index-fed twins of d3/d4/d10/d11: same scoring engines, pairs
    // read from the write-once shingle/segment index instead of
    // re-tokenizing the corpus — the build-once/read-many path a 100 TB
    // pipeline actually runs (the inline originals stay graded alongside
    // so the bench shows both costs)
    "d3i_ngram_jaccard_pairs" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.ngramJaccardPairs(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    "d16i_threshold_sensitivity" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.thresholdSensitivity(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    "d4i_minhash_lsh_pairs" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.minhashLshPairs(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    "d10i_segment_dedup" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.duplicatedSegments(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    "d11i_containment_pairs" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.containmentPairs(
        s, graft.operators.IndexStore.shingleTable(s, d))),
    "d6_simhash_pairs" -> ((s: SparkSession, d: String) => Dedup.simhashPairs(s, d)),
    // cross-corpus (eval×train) fuzzy join on md5-affine MinHash — the
    // portable-hash variant, fully oracle-replayable unlike d4
    "d9_crosscorpus_fuzzy_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.crossCorpusFuzzyPairs(s, d, plantClones = true)),
    // index-fed d9: stored 32-perm signatures sliced to d9's 16 (same
    // affine family), only the planted eval clones derived inline
    "d9i_crosscorpus_fuzzy_pairs" -> ((s: SparkSession, d: String) =>
      graft.operators.ShingleIndex.crossCorpusFuzzyPairs(
        s, graft.operators.IndexStore.shingleTable(s, d), d)),
    // exact 13-gram decontamination (Brown 2020 App. C) — the verbatim
    // complement of d9's fuzzy pass; broadcast eval grams, one shuffle
    "d15_ngram_decontamination" -> ((s: SparkSession, d: String) =>
      Dedup.ngramDecontamination(s, d, plantClones = true)),
    // the per-suite leakage table next to d15's per-doc counts
    "t60_contamination_report" -> ((s: SparkSession, d: String) =>
      Dedup.contaminationReport(s, d, plantClones = true)),
    // dedup threshold sensitivity: pairs-per-jaccard-bucket + cumulative
    // curve from one d3-priced pass — the pre-commit threshold study
    "d16_threshold_sensitivity" -> Dedup.thresholdSensitivity _,
    // segment-level exact-substring dedup + asymmetric containment —
    // plantCopies seeds deterministic PARTIAL copies (first 24 tokens of
    // the first 10 docs), the duplication shape symmetric Jaccard misses
    "d10_segment_dedup" -> ((s: SparkSession, d: String) =>
      Dedup.duplicatedSegments(s, d, plantCopies = true)),
    "d11_containment_pairs" -> ((s: SparkSession, d: String) =>
      Dedup.containmentPairs(s, d, plantCopies = true)),
    // the action d10's signal drives: cross-doc duplicated spans removed,
    // cleaned text + dropped-token count as exact strings
    "t24_span_scrub" -> ((s: SparkSession, d: String) =>
      Dedup.scrubbedSpans(s, d, plantCopies = true)),
    // stride-1 ExactSubstr (Lee 2022 §4.1 faithful): windows at EVERY
    // token offset, intra-doc repeats count, overlapping hits merged into
    // maximal spans — d10 is the token-aligned simplification of this
    "d12_substring_spans" -> ((s: SparkSession, d: String) =>
      Dedup.substringSpans(s, d, plantCopies = true)),
    // quality-aware keeper per d8 cluster (SlimPajama-style): highest
    // t2-quality member survives, not the min id. Reads the stored
    // cluster assignment (built once per process, same amortization as
    // the *i twins — the parquet IS the d8 output, so the d8-derived
    // oracle applies verbatim)
    "d13_cluster_representatives" -> ((s: SparkSession, d: String) =>
      Dedup.clusterRepresentativesFrom(
        s.read.parquet(graft.operators.IndexStore.clusterPath(s, d)),
        TextAnalysis.qualityScores(s, d).select(col("doc_id"), col("quality_e4")))),
    // URL-level dedup (C4/RefinedWeb stage 1): map-only canonicalization,
    // one exchange on the canonical key — the d1/d2 hash-groupBy shape
    "d14_url_dedup" -> Dedup.urlDedup _,
    // domain-blocklist gate (crawl stage 0): bounded suffix explosion
    // into a broadcast rule join, longest-rule-wins
    "t58_domain_blocklist" -> Dedup.domainBlocklistGate _,
  )

  def similarityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v1_embedding_norms" -> Similarity.embeddingNorms _,
    "v2_brute_force_topk" -> Similarity.bruteForceTopK _,
    // two-stage adaptive retrieval: prefix-dim coarse rank over the
    // corpus, full-dim rescore on a constant-size candidate frame
    "v17_adaptive_topk" -> ((s: SparkSession, d: String) => Similarity.adaptiveTopK(s, d)),
    "v18_adaptive_recall" -> Similarity.adaptiveRecall _,
    // 1-bit sign quantization (32× memory): Hamming coarse rank + exact
    // fixed-point rescore on a RerankC-bounded candidate frame
    "v19_binary_hamming_topk" -> ((s: SparkSession, d: String) => Similarity.binaryTopK(s, d)),
    "v20_binary_recall" -> Similarity.binaryRecall _,
    // int8 scalar quantization serving: code-space-cosine coarse rank on
    // the 4x-compressed codes (exact float32 integer arithmetic through
    // the codegen dot kernel), exact fixed-point rerank of C candidates
    "v23_int8_topk" -> ((s: SparkSession, d: String) => Similarity.int8TopK(s, d)),
    // recall@10 of the int8 path vs brute force — the middle rung of the
    // graded compression ladder (float > int8 > PQ > 1-bit)
    "v24_int8_recall" -> Similarity.int8Recall _,
    "v3_lsh_buckets" -> Similarity.lshBuckets _,
    "v4_lsh_ann_topk" -> Similarity.lshAnnTopK _,
    "v5_embedding_near_dups" -> ((s: SparkSession, d: String) =>
      Similarity.embeddingNearDuplicates(s, d, plantClones = true)),
    "v6_ivf_assignments" -> graft.operators.IvfAnn.assignments _,
    // distributed Lloyd refinement: map-only assign → posexplode →
    // K×dim-key partial agg; exact fixed-point sums, never a collect
    "v15_kmeans_refine" -> graft.operators.IvfAnn.kmeansRefine _,
    // cluster-balanced diversity sampling: fixed quota of most-prototypical
    // vectors per cluster via the TopKPerKey node (never a corpus sort)
    "v16_cluster_sample" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.clusterBalancedSample(s, d)),
    "v7_ivf_topk" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.ivfTopK(s, d)),
    // filtered ANN: each query constrained to its label shard — the probe
    // budget doubles (selectivity boost), predicate applied pre-ranking
    "v25_filtered_topk" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.filteredIvfTopK(s, d)),
    "v26_filtered_recall" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.filteredRecall(s, d)),
    // the persisted-index probe path: stored centroids + directory-pruned
    // list scan (IvfBucketingSpec pins it bit-equal to the inline v7, so
    // the same data-dependent oracle applies)
    "v7i_ivf_topk" -> ((s: SparkSession, d: String) => {
      // centroids via IndexStore's per-process cache: the stored geometry
      // is immutable between rebuilds, so only the first probe of a
      // process pays the centroids/ read
      val p = graft.operators.IndexStore.vectorPath(s, d)
      graft.operators.VectorIndex.ivfTopK(
        s, d, p, graft.operators.IndexStore.centroidsFx(s, p))
    }),
    "v8_int8_quant_error" -> Similarity.int8QuantizationError _,
    // product quantization: 4-bit-per-subspace codes + asymmetric-distance
    // top-k — the compression-side ANN path (64× smaller vectors)
    "v9_pq_codes" -> graft.operators.PqAnn.pqCodes _,
    "v10_pq_topk" -> graft.operators.PqAnn.pqTopK _,
    // the production composition: IVF probe lists, then PQ ADC ranking
    "v11_ivfpq_topk" -> graft.operators.PqAnn.ivfPqTopK _,
    // recall@10 of the IVF probe path vs the brute-force ground truth
    "v12_ivf_recall" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.ivfRecall(s, d)),
    // the IVF × 1-bit composition: probe lists scanned via XOR+popcount
    // signatures, exact rescore on a RerankC-bounded frame (v11's sibling)
    "v21_ivf_binary_topk" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.ivfBinaryTopK(s, d)),
    "v22_ivf_binary_recall" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.ivfBinaryRecall(s, d)),
    // recall@10 of BOTH ADC ranking paths (flat PQ, IVF+PQ) vs the same
    // ground truth — the non-circular gate for the codebook-trained family
    "v14_pq_recall" -> ((s: SparkSession, d: String) =>
      graft.operators.PqAnn.pqRecall(s, d)),
    // true IVFADC (Jégou 2011 §IV-A): PQ over RESIDUALS to the coarse
    // centroid — same bit budget, tighter quantization; per-(query,
    // probed-cell) distance tables as query-bounded literals
    "v27_residual_ivfpq_topk" -> graft.operators.PqAnn.residualIvfPqTopK _,
    // the persisted form: stored codebooks + stored codes, the code scan
    // directory-pruned to the probed lists (encode once at build, query
    // reads 4-byte codes — the production IVFADC shape)
    "v27i_residual_ivfpq_topk" -> ((s: SparkSession, d: String) =>
      graft.operators.VectorIndex.residualIvfPqTopK(
        s, d, graft.operators.IndexStore.vectorPqPath(s, d))),
    // residual vs raw recall against the brute-force ground truth;
    // v28 >= v14's ivfpq on the graded corpus is spec-asserted
    "v28_residual_recall" -> ((s: SparkSession, d: String) =>
      graft.operators.PqAnn.residualRecall(s, d)),
    // SemDeDup: cluster on the IVF centroids, drop within-cluster
    // cosine-dups; plantClones seeds the v5 near-dup clones (graded path)
    "v13_semantic_dedup" -> ((s: SparkSession, d: String) =>
      graft.operators.IvfAnn.semanticDedup(s, d, plantClones = true)),
    // the index-fed twin: the corpus-side assignment read from the
    // persisted IVF lists (the full-scan K×dim pass the index already
    // paid at build); clones assigned on the fly against the SAME stored
    // centroids — bit-equal (ScaleOpsSpec), so v13's oracle applies
    "v13i_semantic_dedup" -> ((s: SparkSession, d: String) => {
      val p = graft.operators.IndexStore.vectorPath(s, d)
      graft.operators.IvfAnn.semanticDedupFromIndex(
        s, d, p, graft.operators.IndexStore.centroidsFx(s, p),
        plantClones = true)
    }),
  )

  def sourceQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3/B4: paginated API scan via DataSourceV2 (one partition per page)
    "s3_paged_api_scan" -> ((s, _) =>
      s.read.format("graft-paged-api")
        .option("instanceId", "42").option("totalItems", "1000").option("pageSize", "100")
        .load()),
    // S2+S11: Avro wire-format round trip over the reference's schemas
    "s2_avro_roundtrip" -> ((s, d) => graft.sources.AvroEvents.roundTrip(s, d)),
    // A-HLL: approximate distinct (sketch aggregation; approximate result →
    // rows-only check, no DuckDB oracle)
    "a6_approx_distinct_options" -> ((s, d) =>
      dimsDedup(s, d).groupBy(col("code_list_id"))
        .agg(approx_count_distinct(col("option")).as("approx_options"))),
    // A-HLL bounded-error twin: the HLL estimate itself can't hash-match
    // an exact engine, but its CONTRACT can — the exact distinct rides
    // along and the estimate is asserted within 4×rsd (relative) or ±2
    // (absolute, for sparse-mode small groups). The oracle expects the
    // flag to be 1 for every group, so an HLL drift outside its published
    // error turns the row red instead of hiding behind `no_oracle`.
    "a6x_hll_error_bound" -> ((s, d) =>
      dimsDedup(s, d).groupBy(col("code_list_id"))
        .agg(
          countDistinct(col("option")).as("exact_options"),
          approx_count_distinct(col("option"), 0.05).as("approx"))
        .select(
          col("code_list_id"),
          col("exact_options"),
          when(
            abs(col("approx") - col("exact_options")) <=
              greatest(round(col("exact_options") * lit(4 * 0.05)), lit(2.0)),
            lit(1)).otherwise(lit(0)).as("hll_within_bound"))),
    // A-heavy-hitters: KPS sketch proposes a bounded candidate superset,
    // exact confirm pass removes false positives — result is EXACT, so it
    // oracles green (GROUP BY/HAVING replay), unlike the a6/a7 sketches
    "a8_heavy_hitter_users" -> ((s, d) =>
      graft.operators.SkewOps.heavyHitterUsers(s, d)),
    // A-CMS: count-min sketch on the PortableHash family — the sketch
    // counters and the point estimates replay in DuckDB, so unlike the
    // built-in binary sketches this one is fully oracled
    "a9_cms_user_counts" -> ((s, d) =>
      graft.operators.Sketches.cmsUserEstimates(s, d)),
    // KMV set algebra: union/intersection/Jaccard estimates from two
    // mergeable k-minimum-values sketches, exact counts riding along
    "a11_kmv_set_ops" -> ((s, d) => graft.operators.Sketches.kmvSetOps(s, d)),
    // cross-source overlap matrix: per-source KMV shingle sketches,
    // |sources|²/2 pair algebra on a broadcast frame, exact reference
    "t56_source_overlap_matrix" -> graft.operators.Sketches.sourceOverlapMatrix _,
    // Bloom seen-set membership: the portable membership sketch rounding
    // out the family (CMS=frequency, KMV=cardinality, Bloom=membership);
    // one-sided by construction, FPs reported in-band
    "a12_bloom_membership" ->
      ((s, d) => graft.operators.Sketches.bloomMembership(s, d)),
    // A-KMV: k-minimum-values distinct sketch — the portable counterpart
    // of a6's HLL: same question, but the sketch replays in DuckDB
    // (per-group k smallest PortableHash values), so it oracles green.
    // Exact when a group has fewer than k distinct hashes.
    "a10_kmv_distinct_options" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{KmvAgg, PortableHash}
      val k = KmvAgg.DefaultK
      dimsDedup(s, d)
        .select(
          col("code_list_id"),
          (PortableHash.md5Prefix60(col("option")) % PortableHash.P).as("x"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new KmvAgg(k).toColumn.name("mins"))
        .toDF("code_list_id", "mins")
        .select(
          col("code_list_id"),
          when(size(col("mins")) < k, size(col("mins")).cast("long"))
            .otherwise(expr(s"${(k - 1).toLong * PortableHash.P}L div element_at(mins, $k)"))
            .as("kmv_distinct"))
    }),
    // A-quantile sketch: mergeable approximate percentiles per group (the
    // Greenwald-Khanna sketch behind approx_percentile) — approximate by
    // design → rows-only; ScalaTest bounds the rank error against the
    // exact percentiles (ScaleOpsSpec)
    "a7_approx_value_quantiles" -> ((s, d) =>
      graft.operators.RelationalOps.eventsTable(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)").as("q"))
        .select(
          col("event_type"),
          graft.operators.Exact.e(col("q")(0), 2).as("p50_e2"),
          graft.operators.Exact.e(col("q")(1), 2).as("p95_e2"),
          graft.operators.Exact.e(col("q")(2), 2).as("p99_e2"))),
    // A-quantile bounded-error twin (same pattern as a6x): the exact
    // percentiles oracle green, and each GK estimate is asserted to lie
    // between the exact percentiles at φ±0.01 — 10× the sketch's rank
    // guarantee (accuracy 1000 ⇒ ε ≤ 0.001), so the flag is 1 unless the
    // sketch actually breaks its contract. p99's upper bracket is the max.
    "a7x_gk_error_bound" -> ((s, d) =>
      graft.operators.RelationalOps.eventsTable(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)").as("q"),
          expr("percentile(value, array(0.49, 0.5, 0.51, 0.94, 0.95, 0.96, 0.98, 0.99, 1.0))").as("b"))
        .select(
          col("event_type"),
          graft.operators.Exact.e(col("b")(1), 2).as("p50_e2"),
          graft.operators.Exact.e(col("b")(4), 2).as("p95_e2"),
          graft.operators.Exact.e(col("b")(7), 2).as("p99_e2"),
          when(
            col("q")(0).between(col("b")(0), col("b")(2)) &&
              col("q")(1).between(col("b")(3), col("b")(5)) &&
              col("q")(2).between(col("b")(6), col("b")(8)),
            lit(1)).otherwise(lit(0)).as("gk_within_bound"))),
    // UDAF surface: MinHash signatures via the typed Aggregator. The
    // signature array is digested to an order-stable scalar (the driver's
    // comparator can't sort array columns), same pattern as
    // winnowFingerprints; ScalaTest cross-checks the digest against the
    // minhashSignatures expression path, and since the portable-hash
    // conversion the digest itself replays in DuckDB — fully oracled.
    "d7_minhash_agg_signatures" -> ((s, d) => {
      import s.implicits._
      graft.operators.Dedup.shingles(s, d)
        .as[(Long, String)]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.MinHashAgg(32).toColumn.name("sig"))
        .toDF("doc_id", "sig")
        .select(
          col("doc_id"),
          size(col("sig")).cast("int").as("sig_len"),
          md5(concat_ws(",", col("sig").cast("array<string>")).cast("binary")).as("sig_digest"))
    }),
  )

  def multimodalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_asset_meta" -> MultimodalOps.assetMeta _,
    // LAION-style ingest gate: dimension/aspect/byte floors + declared-
    // vs-actual size agreement, map-only — prunes the decode stage input
    "m8_media_quality_gate" -> MultimodalOps.mediaQualityGate _,
    // the feature vector itself stays a Dataset-level column (asserted in
    // TextMultimodalSpec); the query reports its scalar statistics, which
    // the DuckDB oracle replays byte-for-byte from the text
    "m2_decode_features" -> ((s: SparkSession, d: String) =>
      MultimodalOps.decodeFeatures(s, d).toDF().drop("feat")),
    // resize: integer-factor downsample of payload + metadata dimensions
    "m3_resized_assets" -> ((s: SparkSession, d: String) =>
      MultimodalOps.resizedAssets(s, d)),
    // frame sampling: executor-side sequence+explode fan-out, no driver loop
    "m4_frame_samples" -> ((s: SparkSession, d: String) =>
      MultimodalOps.frameSamples(s, d)),
    // decode → embed → retrieve: cosine top-k over the decoded features
    "m5_feature_topk" -> ((s: SparkSession, d: String) =>
      MultimodalOps.featureTopK(s, d)),
    // the container round-trip: real FrameContainer encode/seek machinery
    // with deterministic per-frame stats, so the index arithmetic the
    // real-codec videoFrameFeatures path relies on is hash-gated
    "m6_container_frames" -> ((s: SparkSession, d: String) =>
      MultimodalOps.containerFrameStats(s, d)),
  )

  private val W = OracleCtes.all

  /** Integer PageRank unrolled to the engine's [[PageRankIterations]]
    * rounds — pure integer division throughout, so DuckDB replays the
    * Spark fixpoint exactly.
    */
  private def codePageRankOracleSql: String = {
    val iters = (1 to PageRankIterations).map { k =>
      s"""pr$k AS (
         |  SELECT nd.node, (SELECT base FROM consts) + (85 * coalesce(s.c, 0)) // 100 AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // od.od) AS c
         |    FROM edges e
         |    JOIN pr${k - 1} p ON p.node = e.src
         |    JOIN outdeg od ON od.src = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""$W, e0 AS (
       |  SELECT concat('option/', d.dimension_id, '/', d.option) AS src,
       |    concat('code/', d.code_list_id, '/', c.code) AS dst
       |  FROM dims_dedup d
       |  JOIN code_lists c
       |    ON d.code_list_id = c.code_list_id AND d.option = c.code
       |  WHERE replace(concat('_', d.dimension_id), concat('_', d.instance_id, '_'), '') <> 'time'),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |consts AS (
       |  SELECT 1000000000 // greatest(1, count(*)) AS init,
       |    (15 * (1000000000 // greatest(1, count(*)))) // 100 AS base
       |  FROM nodes),
       |pr0 AS (SELECT node, (SELECT init FROM consts) AS r FROM nodes),
       |$iters
       |SELECT node, cast(r AS bigint) AS rank_e9 FROM pr$PageRankIterations""".stripMargin
  }

  /** DuckDB oracle for each query; same column names/types as the Spark
    * side. Exactly two queries are intentionally omitted (driver falls
    * back to its rows-only check), each approximate BY DESIGN:
    *   - a6_approx_distinct_options: HLL sketch.
    *   - a7_approx_value_quantiles: Greenwald-Khanna percentile sketch.
    * Each carries a fully-oracled bounded-error twin (a6x/a7x) that
    * asserts the sketch estimate within its published error of the exact
    * answer — the sketch CONTRACT oracles green even though the estimate
    * itself cannot — plus ScalaTest property coverage (ScaleOpsSpec).
    * d4-d7 and t5/t6 were also in this list through round 3 (xxhash64-
    * based signatures); the round-4 portable-hash conversions (md5-affine
    * MinHash/SimHash, mod-P winnowing) made their full pipelines
    * oracle-replayable.
    */
  def oracleSql: Map[String, String] = importerOracle ++ relationalOracle ++
    textOracle ++ dedupOracle ++ similarityOracle ++ multimodalOracle ++
    sourceOracle ++ dataDependentOracle

  def sourceOracle: Map[String, String] = Map(
    // the exact side replays; the bound flag is the CONTRACT — the oracle
    // expects 1 for every group, so a sketch drifting outside its
    // published error hash-mismatches instead of hiding behind no_oracle
    "a6x_hll_error_bound" ->
      s"""$W SELECT code_list_id,
         |  count(DISTINCT option) AS exact_options,
         |  1 AS hll_within_bound
         |FROM dims_dedup GROUP BY code_list_id""".stripMargin,
    "a7x_gk_error_bound" ->
      """SELECT event_type,
        |  cast(floor(quantile_cont(value, 0.5) * 100.0 + 0.5) AS bigint) AS p50_e2,
        |  cast(floor(quantile_cont(value, 0.95) * 100.0 + 0.5) AS bigint) AS p95_e2,
        |  cast(floor(quantile_cont(value, 0.99) * 100.0 + 0.5) AS bigint) AS p99_e2,
        |  1 AS gk_within_bound
        |FROM events GROUP BY event_type""".stripMargin,
    "s3_paged_api_scan" ->
      """SELECT '42' AS instance_id,
        |  concat('42_d', cast(i % 7 AS string)) AS dimension_id,
        |  concat('opt', cast(i % 50 AS string)) AS option,
        |  concat('cl', cast(i % 7 AS string)) AS code_list_id
        |FROM range(0, 1000) AS r(i)""".stripMargin,
    // Avro round trip is lossless → decode(encode(events)) == events
    "s2_avro_roundtrip" ->
      s"""$W SELECT file_url, instance_id FROM ievents""",
    // the engine's sketch-then-confirm path returns the EXACT heavy-hitter
    // set, so the oracle is the plain full aggregation
    "a8_heavy_hitter_users" ->
      s"""SELECT user_id, count(*) AS n FROM events
         |GROUP BY user_id
         |HAVING count(*) > ${graft.operators.SkewOps.DefaultSupport} * (SELECT count(*) FROM events)""".stripMargin,
    // the typed-Aggregator signatures are bit-equal to the expression
    // path, which itself replays in DuckDB via PortableHash
    "d7_minhash_agg_signatures" -> graft.operators.Dedup.minhashAggOracleSql,
    "a9_cms_user_counts" -> graft.operators.Sketches.cmsOracleSql(),
    "a11_kmv_set_ops" -> graft.operators.Sketches.kmvSetOpsOracleSql(),
    "t56_source_overlap_matrix" -> graft.operators.Sketches.sourceOverlapMatrixOracleSql,
    "a12_bloom_membership" -> graft.operators.Sketches.bloomMembershipOracleSql(),
    "a10_kmv_distinct_options" -> {
      val k = graft.functions.KmvAgg.DefaultK
      val p = graft.functions.PortableHash.P
      s"""$W SELECT code_list_id,
         |  cast(CASE WHEN count(*) < $k THEN count(*)
         |            ELSE ${(k - 1).toLong * p} // min(CASE WHEN rn = $k THEN x END)
         |       END AS bigint) AS kmv_distinct
         |FROM (
         |  SELECT code_list_id, x,
         |    row_number() OVER (PARTITION BY code_list_id ORDER BY x) AS rn
         |  FROM (
         |    SELECT DISTINCT code_list_id,
         |      ${graft.functions.PortableHash.duckMd5Prefix60("option")} % $p AS x
         |    FROM dims_dedup))
         |GROUP BY code_list_id""".stripMargin
    },
  )

  def importerOracle: Map[String, String] = Map(
    "p3_validate_events" ->
      s"""$W SELECT file_url, instance_id FROM ievents WHERE length(instance_id) > 0""",
    "s12_dead_letter" ->
      s"""$W SELECT file_url, instance_id,
         |  'unable to process message' AS err_context,
         |  'validation error: instance_id is empty' AS error
         |FROM ievents WHERE length(instance_id) = 0""".stripMargin,
    "j2_new_instances" ->
      s"""$W SELECT DISTINCT file_url, instance_id FROM ievents
         |WHERE length(instance_id) > 0
         |  AND instance_id NOT IN (SELECT instance_id FROM existing)""".stripMargin,
    "p1_project_dimensions" ->
      s"""$W SELECT instance_id, dimension_id, option, node_id, code_list_id FROM dims_raw""",
    "p2_project_instances" ->
      s"""$W SELECT instance_id,
         |  4 AS header_len,
         |  concat('V4_0,time,geography,', o_orderpriority) AS header_csv
         |FROM instances""".stripMargin,
    "p6_invalid_dimensions" ->
      s"""$W SELECT instance_id, dimension_id, option,
         |  CASE WHEN dimension_id = '' AND option = ''
         |         THEN 'dimension invalid: empty dimension_id and option'
         |       WHEN dimension_id = '' THEN 'dimension id is required but was empty'
         |       WHEN option = '' THEN 'dimension value is required but was empty'
         |  END AS validation_error
         |FROM dims_raw WHERE dimension_id = '' OR option = ''""".stripMargin,
    "p9_dimension_names" ->
      s"""$W SELECT DISTINCT dimension_id,
         |  ${graft.operators.ImporterPipeline.getNameSql(
              "concat('_', dimension_id)", "concat('_', instance_id, '_')")} AS name
         |FROM dims_valid""".stripMargin,
    "a3_dedup_options" ->
      s"""$W SELECT instance_id, dimension_id, option, node_id, code_list_id FROM dims_dedup""",
    "a1_codes_by_list" ->
      s"""$W SELECT code_list_id, cast(count(*) AS bigint) AS n_options,
         |  array_to_string(list_sort(list(DISTINCT option)), ',') AS options_csv
         |FROM dims_dedup GROUP BY code_list_id""".stripMargin,
    "j1_order_lookup" ->
      s"""$W SELECT d.instance_id, d.dimension_id, d.option, d.node_id, d.code_list_id, c.ord
         |FROM dims_dedup d
         |LEFT JOIN code_lists c
         |  ON d.code_list_id = c.code_list_id AND d.option = c.code""".stripMargin,
    "p8_option_updates_no_nodeid" ->
      s"""$W SELECT d.instance_id,
         |  replace(concat('_', d.dimension_id), concat('_', d.instance_id, '_'), '') AS name,
         |  d.option, '' AS node_id, c.ord
         |FROM dims_dedup d
         |LEFT JOIN code_lists c
         |  ON d.code_list_id = c.code_list_id AND d.option = c.code
         |WHERE c.ord IS NOT NULL""".stripMargin,
    "j3_code_edges" ->
      s"""$W SELECT concat('option/', d.dimension_id, '/', d.option) AS src,
         |  concat('code/', d.code_list_id, '/', c.code) AS dst,
         |  'usedBy' AS rel_type
         |FROM dims_dedup d
         |JOIN code_lists c
         |  ON d.code_list_id = c.code_list_id AND d.option = c.code
         |WHERE replace(concat('_', d.dimension_id), concat('_', d.instance_id, '_'), '') <> 'time'""".stripMargin,
    "s5_graph_nodes" ->
      s"""$W SELECT concat('instance/', instance_id) AS id, 'Instance' AS label,
         |  concat('V4_0,time,geography,', o_orderpriority) AS props
         |FROM instances
         |UNION ALL
         |SELECT concat('option/', dimension_id, '/', option), 'DimensionOption', node_id
         |FROM dims_dedup""".stripMargin,
    "a5_instance_dimensions" ->
      s"""$W SELECT instance_id, cast(count(*) AS bigint) AS n_dims,
         |  array_to_string(list_sort(list(concat(dimension_id, ':', option))), '|') AS dims_digest
         |FROM dims_dedup GROUP BY instance_id""".stripMargin,
    "a5b_instance_dimensions_bounded" ->
      s"""$W SELECT instance_id, cast(count(*) AS bigint) AS n_dims,
         |  array_to_string(list_sort(list(concat(dimension_id, ':', option)))[1:10], '|') AS dims_digest,
         |  cast(greatest(count(*) - 10, 0) AS int) AS overflow_dims
         |FROM dims_dedup GROUP BY instance_id""".stripMargin,
    "s9_unique_violations" ->
      s"""$W SELECT instance_id, dimension_id, option, cast(count(*) AS bigint) AS n
         |FROM dims_valid GROUP BY instance_id, dimension_id, option
         |HAVING count(*) > 1""".stripMargin,
    "s11_completed_events" ->
      s"""$W SELECT DISTINCT file_url, instance_id FROM ievents
         |WHERE length(instance_id) > 0
         |  AND instance_id NOT IN (SELECT instance_id FROM existing)""".stripMargin,
    "s7_code_degrees" ->
      s"""$W SELECT concat('code/', d.code_list_id, '/', c.code) AS dst,
         |  cast(count(*) AS bigint) AS degree,
         |  cast(count(DISTINCT concat('option/', d.dimension_id, '/', d.option)) AS bigint)
         |    AS distinct_options
         |FROM dims_dedup d
         |JOIN code_lists c
         |  ON d.code_list_id = c.code_list_id AND d.option = c.code
         |WHERE replace(concat('_', d.dimension_id), concat('_', d.instance_id, '_'), '') <> 'time'
         |GROUP BY 1""".stripMargin,
    "g5_code_pagerank" -> codePageRankOracleSql,
    "k1_salted_pricing_by_flag" ->
      """SELECT l_returnflag,
        |  cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS bigint) AS sum_qty_e2
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "flagship_updates" ->
      s"""$W SELECT d.instance_id,
         |  replace(concat('_', d.dimension_id), concat('_', d.instance_id, '_'), '') AS name,
         |  d.option, d.node_id, c.ord
         |FROM dims_dedup d
         |LEFT JOIN code_lists c
         |  ON d.code_list_id = c.code_list_id AND d.option = c.code
         |WHERE d.instance_id IN (
         |  SELECT instance_id FROM ievents
         |  WHERE length(instance_id) > 0
         |    AND instance_id NOT IN (SELECT instance_id FROM existing))
         |  AND (d.node_id <> '' OR c.ord IS NOT NULL)""".stripMargin,
  )

  def relationalOracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum_qty_e2, sum_base_price_e2, sum_disc_price_e4, sum_charge_e6,
        |  cast(floor(sum_qty_e2 * 100.0 / count_order + 0.5) AS bigint) AS avg_qty_e4,
        |  cast(floor(sum_base_price_e2 * 100.0 / count_order + 0.5) AS bigint) AS avg_price_e4,
        |  cast(floor(sum_disc_e2 * 10000.0 / count_order + 0.5) AS bigint) AS avg_disc_e6,
        |  count_order
        |FROM (
        |  SELECT l_returnflag, l_linestatus,
        |    cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS bigint) AS sum_qty_e2,
        |    cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint)) AS bigint) AS sum_base_price_e2,
        |    cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint) AS sum_disc_price_e4,
        |    cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000.0 + 0.5) AS bigint)) AS bigint) AS sum_charge_e6,
        |    cast(sum(cast(floor(l_discount * 100.0 + 0.5) AS bigint)) AS bigint) AS sum_disc_e2,
        |    cast(count(*) AS bigint) AS count_order
        |  FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        |  GROUP BY l_returnflag, l_linestatus)""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, cast(o_orderdate AS date) AS order_date, o_orderpriority,
        |  cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < timestamp '1995-03-15 00:00:00'
        |  AND l_shipdate > timestamp '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority""".stripMargin,
    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint) AS revenue_e4
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,
    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) AS bigint) AS total_qty_e2
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) > 15000)
        |SELECT c_name, o_orderkey,
        |  cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS total_price_e2,
        |  total_qty_e2
        |FROM orders
        |JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "w1_top_users_per_event" ->
      """SELECT event_type, user_id, n, cast(rn AS int) AS rn FROM (
        |  SELECT event_type, user_id, cast(count(*) AS bigint) AS n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY count(*) DESC, user_id) AS rn
        |  FROM events GROUP BY event_type, user_id)
        |WHERE rn <= 3""".stripMargin,
    "w2_running_totals" ->
      """SELECT user_id, event_id,
        |  cast(sum(v_e2) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS running_total_e2,
        |  cast(v_e2 - lag(v_e2, 1, 0) OVER (PARTITION BY user_id ORDER BY event_id) AS bigint) AS delta_e2,
        |  cast(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS int) AS rn
        |FROM (
        |  SELECT user_id, event_id,
        |    cast(floor(value * 100.0 + 0.5) AS bigint) AS v_e2
        |  FROM events WHERE user_id < 50)""".stripMargin,
    "g1_daily_event_rollup" ->
      """SELECT event_type, cast(date_trunc('day', ts) AS date) AS day,
        |  cast(count(*) AS bigint) AS n,
        |  cast(count(DISTINCT user_id) AS bigint) AS n_users,
        |  cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS bigint) AS total_value_e2
        |FROM events GROUP BY 1, 2""".stripMargin,
    "g2_event_type_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type_g,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS bigint) AS total_value_e2
        |FROM events GROUP BY ROLLUP(event_type)""".stripMargin,
    // integer-second window arithmetic (the j6 discipline); the oracle
    // states the naive pair form — the engine's banded aggregate-first
    // plan is the scale-safe equivalent
    "set1_purchasers_minus_errored" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT e.user_id FROM events e JOIN events p
        |  ON e.user_id = p.user_id AND p.event_type = 'purchase'
        |WHERE e.event_type = 'error'
        |  AND cast(floor(epoch(e.ts)) AS bigint)
        |        >= cast(floor(epoch(p.ts)) AS bigint)
        |  AND cast(floor(epoch(e.ts)) AS bigint)
        |        <= cast(floor(epoch(p.ts)) AS bigint) + 3600""".stripMargin,
    "set2_signup_and_purchase" ->
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin,
    "f1_json_props" ->
      """SELECT event_id, cast(json_extract_string(props, '$.k') AS int) AS k
        |FROM events WHERE cast(json_extract_string(props, '$.k') AS int) > 80""".stripMargin,
    "j4_exists_urgent_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,
    "g3_event_pivot_by_day" ->
      """SELECT cast(date_trunc('day', ts) AS date) AS day,
        |  cast(count(*) FILTER (event_type = 'view') AS bigint) AS view,
        |  cast(count(*) FILTER (event_type = 'click') AS bigint) AS click,
        |  cast(count(*) FILTER (event_type = 'purchase') AS bigint) AS purchase,
        |  cast(count(*) FILTER (event_type = 'signup') AS bigint) AS signup,
        |  cast(count(*) FILTER (event_type = 'error') AS bigint) AS error
        |FROM events GROUP BY 1""".stripMargin,
    "f2_ship_latency" ->
      """SELECT o_orderpriority,
        |  cast(min(lat) AS int) AS min_days, cast(max(lat) AS int) AS max_days,
        |  cast(floor(sum(lat) * 10000.0 / count(*) + 0.5) AS bigint) AS avg_days_e4,
        |  cast(count(*) AS bigint) AS n
        |FROM (
        |  SELECT o_orderpriority,
        |    date_diff('day', cast(o_orderdate AS date), cast(l_shipdate AS date)) AS lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin,
    "f3_customer_name_ops" ->
      """SELECT c_custkey, upper(c_name) AS upper_name,
        |  cast(length(c_name) AS bigint) AS name_len,
        |  substr(c_name, 1, 8) AS prefix,
        |  lpad(cast(c_custkey AS string), 9, '0') AS padded_key,
        |  concat_ws('|', c_mktsegment, trim(c_name)) AS tagged
        |FROM customer WHERE c_custkey <= 200""".stripMargin,
    "w4_sessionize" ->
      """SELECT user_id, event_id, cast(session_no AS int) AS session_no FROM (
        |  SELECT user_id, event_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM (
        |    SELECT user_id, event_id, sec,
        |      CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
        |             OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
        |           THEN 1 ELSE 0 END AS is_new
        |    FROM (SELECT user_id, event_id, cast(floor(epoch(ts)) AS bigint) AS sec FROM events)))""".stripMargin,
    "w8_signup_funnel" -> RelationalOps.signupFunnelOracleSql,
    "w11_funnel_dropoff" -> RelationalOps.funnelDropoffOracleSql,
    "w9_cohort_retention" -> RelationalOps.cohortRetentionOracleSql(),
    "w10_conversion_latency" -> RelationalOps.conversionLatencyOracleSql,
    "g4_event_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type_g,
        |  coalesce(cast(day AS string), 'ALL') AS day_g,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(v_e2) AS bigint) AS total_value_e2
        |FROM (
        |  SELECT event_type, cast(date_trunc('day', ts) AS date) AS day,
        |    cast(floor(value * 100.0 + 0.5) AS bigint) AS v_e2
        |  FROM events)
        |GROUP BY CUBE(event_type, day)""".stripMargin,
    "j5_asof_purchase_view" ->
      """SELECT user_id, event_id AS purchase_id, prior_view_id,
        |  sec - prior_view_sec AS gap_sec
        |FROM (
        |  SELECT user_id, event_id, event_type, sec,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id,
        |    last_value(CASE WHEN event_type = 'view' THEN sec END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_sec
        |  FROM (
        |    SELECT user_id, event_id, event_type, cast(floor(epoch(ts)) AS bigint) AS sec
        |    FROM events WHERE event_type IN ('view', 'purchase')))
        |WHERE event_type = 'purchase'""".stripMargin,
    "j6_range_purchase_error" ->
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
        |  e.sec - p.sec AS gap_sec
        |FROM (SELECT user_id, event_id, cast(floor(epoch(ts)) AS bigint) AS sec
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id, cast(floor(epoch(ts)) AS bigint) AS sec
        |      FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND e.sec > p.sec AND e.sec - p.sec <= 86400""".stripMargin,
    "w3_top_parts_by_brand" ->
      """SELECT p_brand, p_partkey, rev_e4, cast(rn AS int) AS rn FROM (
        |  SELECT p_brand, p_partkey, rev_e4,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY rev_e4 DESC, p_partkey) AS rn
        |  FROM (
        |    SELECT p_brand, p_partkey,
        |      cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint) AS rev_e4
        |    FROM lineitem JOIN part ON l_partkey = p_partkey
        |    GROUP BY p_brand, p_partkey))
        |WHERE rn <= 3""".stripMargin,
    "f4_median_value_by_type" ->
      """SELECT event_type,
        |  cast(floor(quantile_cont(value, 0.5) * 100.0 + 0.5) AS bigint) AS median_value_e2,
        |  cast(floor(quantile_cont(value, 0.9) * 100.0 + 0.5) AS bigint) AS p90_value_e2
        |FROM events GROUP BY event_type""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint) AS rev_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
        |  AND o_orderdate < timestamp '1997-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name""".stripMargin,
    "q14_promo_share" ->
      """SELECT promo_e4, total_e4,
        |  cast(floor(promo_e4 * 1000000.0 / total_e4) AS bigint) AS promo_share_e6
        |FROM (
        |  SELECT
        |    cast(sum(CASE WHEN p_type = 'PROMO'
        |      THEN cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)
        |      ELSE 0 END) AS bigint) AS promo_e4,
        |    cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint) AS total_e4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)""".stripMargin,
    "w5_top_events_per_user" ->
      """SELECT user_id, event_id,
        |  cast(floor(value * 100.0 + 0.5) AS bigint) AS value_e2,
        |  cast(rn AS int) AS rn
        |FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |lb AS (
        |  SELECT l_partkey,
        |    cast(floor(l_quantity * 100.0 + 0.5) AS bigint) AS q_e2,
        |    cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) AS ep_e2
        |  FROM lineitem JOIN bp ON p_partkey = l_partkey),
        |pa AS (SELECT l_partkey, sum(q_e2) AS s, count(*) AS c FROM lb GROUP BY l_partkey)
        |SELECT
        |  cast(count(*) AS bigint) AS n_small,
        |  cast(coalesce(sum(lb.ep_e2), 0) AS bigint) AS sum_extprice_e2,
        |  cast(floor(coalesce(sum(lb.ep_e2), 0) * 100.0 / 7.0 + 0.5) AS bigint) AS avg_yearly_e4
        |FROM lb JOIN pa ON pa.l_partkey = lb.l_partkey
        |WHERE 5 * lb.q_e2 * pa.c < pa.s""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, cast(count(*) AS bigint) AS numwait
        |FROM late l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name""".stripMargin,
    "w6_moving_hourly_value" ->
      """SELECT user_id, event_id, sec,
        |  cast(sum(v_e2) OVER w AS bigint) AS hour_sum_e2,
        |  cast(count(*) OVER w AS bigint) AS hour_n
        |FROM (
        |  SELECT user_id, event_id, cast(floor(epoch(ts)) AS bigint) AS sec,
        |    cast(floor(value * 100.0 + 0.5) AS bigint) AS v_e2
        |  FROM events WHERE user_id < 50)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q8_market_share" ->
      """SELECT cast(year(o.o_orderdate) AS int) AS o_year,
        |  cast(sum(CASE WHEN sn.n_name = 'NATION_19' THEN
        |    cast(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS bigint)
        |    ELSE 0 END) AS bigint) AS nation_rev_e4,
        |  cast(sum(cast(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS bigint))
        |    AS bigint) AS total_rev_e4,
        |  cast(floor(cast(sum(CASE WHEN sn.n_name = 'NATION_19' THEN
        |    cast(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS bigint)
        |    ELSE 0 END) AS double) * 1000000.0
        |    / cast(sum(cast(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000.0 + 0.5) AS bigint)) AS double))
        |    AS bigint) AS share_e6
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |GROUP BY 1""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_type, p_size,
        |  cast(count(DISTINCT l_suppkey) AS bigint) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT
        |  cast(sum(cast(floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS bigint)) AS bigint)
        |    AS revenue_e4,
        |  cast(count(*) AS bigint) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 5 AND 25)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)""".stripMargin,
    // Q2 shape: true correlated scalar subquery — DuckDB decorrelates it
    // the same way the engine's explicit argmin join does
    "q2_min_cost_supplier" ->
      """SELECT DISTINCT p_partkey, p_brand, s_name,
        |  cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) AS min_price_e2
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_size < 10
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE cast(floor(l_extendedprice * 100.0 + 0.5) AS bigint) = (
        |  SELECT min(cast(floor(l2.l_extendedprice * 100.0 + 0.5) AS bigint))
        |  FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,
    "q13_order_count_distribution" ->
      """SELECT c_count, cast(count(*) AS bigint) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q22_dormant_balances" ->
      """WITH bal AS (
        |  SELECT c_custkey, c_nationkey,
        |    cast(floor(c_acctbal * 100.0 + 0.5) AS bigint) AS bal_e2,
        |    c_acctbal
        |  FROM customer),
        |stats AS (
        |  SELECT count(*) AS n, cast(sum(bal_e2) AS bigint) AS total_e2
        |  FROM bal WHERE c_acctbal > 0.0)
        |SELECT n_name, cast(count(*) AS bigint) AS numcust,
        |  cast(sum(bal_e2) AS bigint) AS totacctbal_e2
        |FROM bal
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal_e2 * (SELECT n FROM stats) > (SELECT total_e2 FROM stats)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= '__DORMANT_CUTOFF__')
        |GROUP BY n_name""".stripMargin
        .replace("__DORMANT_CUTOFF__", RelationalOps.DormantCutoff),
    "q15_top_revenue_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    cast(sum(cast(floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS bigint)) AS bigint)
        |      AS total_rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev_e4
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)""".stripMargin,
    "q20_bulk_part_suppliers" ->
      s"""SELECT s_suppkey, s_name FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM lineitem
         |  WHERE l_partkey IN (
         |    SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
         |  GROUP BY l_suppkey, l_partkey
         |  HAVING sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) > ${RelationalOps.BulkQtyE2})""".stripMargin,
    "q4_order_priority_count" ->
      """SELECT o_orderpriority, cast(count(*) AS bigint) AS order_count
        |FROM orders
        |WHERE o_orderdate >= timestamp '1996-07-01 00:00:00'
        |  AND o_orderdate < timestamp '1996-10-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  cast(sum(cast(floor(l_extendedprice * l_discount * 10000.0 + 0.5) AS bigint)) AS bigint)
        |    AS revenue_e4,
        |  cast(count(*) AS bigint) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
        |  AND l_shipdate < timestamp '1997-01-01 00:00:00'
        |  AND l_quantity < 24
        |  AND l_discount BETWEEN 0.05 AND 0.07""".stripMargin,
    "q7_volume_shipping" ->
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT supp_nation, cust_nation,
        |  cast(year(l_shipdate) AS int) AS l_year,
        |  cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint)
        |    AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN sn ON l_suppkey = s_suppkey
        |JOIN cn ON o_custkey = c_custkey
        |WHERE supp_nation <> cust_nation
        |  AND l_shipdate >= timestamp '1996-01-01 00:00:00'
        |  AND l_shipdate < timestamp '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q9_product_type_profit" ->
      """SELECT n_name AS nation, cast(year(o_orderdate) AS int) AS o_year,
        |  cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint)
        |    AS profit_e4
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin,
    "q11_important_parts" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    cast(sum(cast(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS bigint)) AS bigint)
        |      AS value_e4
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_3')
        |  GROUP BY l_partkey)
        |SELECT l_partkey, value_e4 FROM v
        |WHERE value_e4 * 1000 > (SELECT sum(value_e4) FROM v)""".stripMargin,
    "q12_priority_shipping" ->
      """SELECT l_returnflag,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
        |  cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS bigint) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'
        |  AND l_shipdate < timestamp '1998-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin,
    "u1_customer_upsert" -> graft.operators.MergeOps.customerUpsertOracleSql,
    "u4_customer_snapshot_diff" -> graft.operators.MergeOps
      .customerSnapshotDiffOracleSql(graft.operators.MergeOps.customerUpsertOracleSql),
    "u2_customer_scd2" -> graft.operators.MergeOps.customerScd2OracleSql,
    "u3_user_changelog" -> graft.operators.MergeOps.userChangelogOracleSql,
    "u5_rollup_maintenance" -> graft.operators.MergeOps.rollupMaintenanceOracleSql,
    "u6_erasure_retraction" -> graft.operators.MergeOps.erasureRetractionOracleSql,
    "g7_part_triangles" ->
      s"""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT x.l_partkey AS pa, y.l_partkey AS pb
        |  FROM lp x JOIN lp y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= ${RelationalOps.TriangleSupport}),
        |tri AS (
        |  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.pa = e1.pb
        |  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
        |corners AS (
        |  SELECT a AS p_partkey FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT p_partkey, cast(count(*) AS bigint) AS n_triangles
        |FROM corners GROUP BY p_partkey""".stripMargin,
    "g9_part_components" -> graft.operators.GraphOps.partComponentsOracleSql,
    "g6_event_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type_g,
        |  coalesce(cast(day AS string), 'ALL') AS day_g,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(v_e2) AS bigint) AS total_value_e2
        |FROM (
        |  SELECT event_type, cast(date_trunc('day', ts) AS date) AS day,
        |    cast(floor(value * 100.0 + 0.5) AS bigint) AS v_e2
        |  FROM events)
        |GROUP BY GROUPING SETS ((event_type, day), (event_type), ())""".stripMargin,
    "g8_region_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_g,
        |  coalesce(n_name, 'ALL') AS nation_g,
        |  cast(count(*) AS bigint) AS n_cust,
        |  cast(sum(cast(floor(c_acctbal * 100.0 + 0.5) AS bigint)) AS bigint) AS acctbal_e2
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    // the anchor date only recenters the island key; any constant works
    "w7_longest_daily_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, cast(date_trunc('day', ts) AS date) AS day
        |  FROM events),
        |islands AS (
        |  SELECT user_id,
        |    datediff('day', DATE '2024-01-01', day)
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, island, cast(count(*) AS bigint) AS streak
        |  FROM islands GROUP BY 1, 2)
        |SELECT user_id, max(streak) AS longest_streak
        |FROM streaks GROUP BY user_id""".stripMargin,
  )

  def textOracle: Map[String, String] = Map(
    // the winnowing rolling hash is mod-P over code points (round 4), so
    // the full fingerprint pipeline replays — SQL generated next to the
    // operators so the polynomial constants can't desync
    "t5_winnow_fingerprints" -> TextAnalysis.winnowFingerprintsOracleSql,
    "t6_winnow_candidates" -> TextAnalysis.winnowCandidatesOracleSql,
    "t1_token_stats" ->
      """SELECT doc_id, n_chars, n_tokens,
        |  cast(floor(cast(n_chars - (n_tokens - 1) AS double) / n_tokens * 10000.0 + 0.5) AS bigint)
        |    AS avg_token_len_e4
        |FROM (
        |  SELECT doc_id, n_chars,
        |    cast(length(text) - length(replace(text, ' ', '')) + 1 AS bigint) AS n_tokens
        |  FROM documents)""".stripMargin,
    "t2_quality_scores" ->
      s"""SELECT doc_id, is_short,
        |  cast(floor(stop_hits / n_tokens * 10000.0 + 0.5) AS bigint) AS stop_ratio_e4,
        |  $qualityE4ExprSql AS quality_e4
        |FROM (${qualityBaseSql(", n_chars < 100 AS is_short")})""".stripMargin,
    "t3_lang_id" ->
      """SELECT doc_id, lang, lang_pred, lang_pred = lang AS agrees FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |         WHEN s_de >= s_fr THEN 'de'
        |         ELSE 'fr' END AS lang_pred
        |  FROM (
        |    SELECT doc_id, lang,
        |      cast((length(p) - length(replace(p, ' the ', ''))) / 5 AS int) +
        |        cast((length(p) - length(replace(p, ' a ', ''))) / 3 AS int) AS s_en,
        |      cast((length(p) - length(replace(p, ' el ', ''))) / 4 AS int) +
        |        cast((length(p) - length(replace(p, ' la ', ''))) / 4 AS int) AS s_es,
        |      cast((length(p) - length(replace(p, ' der ', ''))) / 5 AS int) +
        |        cast((length(p) - length(replace(p, ' und ', ''))) / 5 AS int) AS s_de,
        |      cast((length(p) - length(replace(p, ' le ', ''))) / 4 AS int) +
        |        cast((length(p) - length(replace(p, ' et ', ''))) / 4 AS int) AS s_fr
        |    FROM (SELECT doc_id, lang, concat(' ', text, ' ') AS p FROM documents)))""".stripMargin,
    "t4_fingerprints" ->
      """SELECT doc_id, md5(text) AS md5_full, md5(substr(text, 1, 64)) AS md5_head
        |FROM documents""".stripMargin,
    "t7_normalize" ->
      """SELECT doc_id, md5(norm_text) AS norm_md5,
        |  cast(length(norm_text) AS bigint) AS norm_len
        |FROM (
        |  SELECT doc_id,
        |    trim(replace(replace(replace(lower(text), '.', ''), ',', ''), '  ', ' ')) AS norm_text
        |  FROM documents)""".stripMargin,
    "t8_chunks" -> graft.operators.TrainingPrep.chunksOracleSql,
    // t9's idf uses ln(); JVM and DuckDB libm may differ by 1 ulp, but the
    // score is quantized to a 6 dp integer before ranking/compare, so a
    // flip needs tf·ln(N/df)·10⁶ within one ulp of a rounding boundary —
    // checked stable at sf0.001/0.01/0.1.
    "t9_tfidf_top_terms" ->
      """WITH n AS (SELECT cast(count(*) AS double) AS n FROM documents),
        |terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    cast(floor(tf.tf * ln(n.n / df.df) * 1000000.0 + 0.5) AS bigint) AS score_e6
        |  FROM tf, df, n WHERE tf.term = df.term)
        |SELECT doc_id, term, score_e6, cast(rn AS int) AS rn
        |FROM (
        |  SELECT doc_id, term, score_e6,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_e6 DESC, term) AS rn
        |  FROM scored)
        |WHERE rn <= 5""".stripMargin,
    // t10: hash-gated sampling is engine-portable — md5 replays in DuckDB;
    // SQL derived from the same strata map the operator defaults to
    "t10_stratified_sample" ->
      graft.operators.TrainingPrep.stratifiedSampleOracleSql,
    "t11_packed_chunks" -> graft.operators.TrainingPrep.packedChunksOracleSql(),
    // t26/t27: the md5 permutation key and the striping arithmetic replay
    // verbatim; the engine's two-phase prefix-sum rank equals the oracle's
    // single row_number() by construction
    "t26_shard_assignment" ->
      graft.operators.TrainingPrep.shardAssignmentOracleSql,
    "t27_shard_manifest" -> graft.operators.TrainingPrep.shardManifestOracleSql,
    "t28_stable_shards" ->
      graft.operators.TrainingPrep.stableShardAssignmentOracleSql,
    "t28w_stable_shards_wide" ->
      graft.operators.TrainingPrep.stableShardAssignmentOracleSql(2),
    "t29_mixture_selection" ->
      graft.operators.TrainingPrep.mixtureSelectionOracleSql,
    "t30_curriculum_selection" ->
      graft.operators.TrainingPrep.curriculumSelectionOracleSql,
    "t30s_curriculum_frame" ->
      graft.operators.TrainingPrep.curriculumFrameOracleSql,
    "t13_contamination" -> graft.operators.TrainingPrep.contaminationOracleSql,
    "t14_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
        |       WHEN substr(md5(text), 1, 1) IN ('e', 'f') THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "t12_balance_weights" ->
      """WITH by_lang AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_lang) AS n, count(*) AS l FROM by_lang)
        |SELECT d.doc_id, d.lang,
        |  cast(floor(cast(t.n AS double) / (t.l * b.n_lang) * 1000000.0 + 0.5) AS bigint)
        |    AS weight_e6
        |FROM documents d
        |JOIN by_lang b ON b.lang = d.lang
        |CROSS JOIN tot t""".stripMargin,
    // t31/t32 quantize each ln() to a 6-dp integer in a vocab-bounded
    // model table before any aggregation (integer sums are order-free);
    // t33's per-(doc,term) BM25 score is one double expression over
    // integers written token-identically in both engines, then e6-rounded
    "t31_bigram_lm_ppl" -> graft.operators.LmScore.bigramLmScoresOracleSql,
    "t31i_bigram_lm_ppl" -> graft.operators.LmScore.bigramLmScoresOracleSql,
    "t32_dsir_weights" -> graft.operators.LmScore.dsirWeightsOracleSql,
    "t32i_dsir_weights" -> graft.operators.LmScore.dsirWeightsOracleSql,
    "t33_bm25_topk" -> graft.operators.LmScore.bm25TopKOracleSql,
    "t44_nb_langid" -> graft.operators.LmScore.nbLangScoresOracleSql,
    "t44i_nb_langid" -> graft.operators.LmScore.nbLangScoresOracleSql,
    "t45_langid_confusion" -> graft.operators.LmScore.nbLangConfusionOracleSql,
    "t46_langid_quality" -> graft.operators.LmScore.nbLangQualityOracleSql,
    "t48_quality_classifier_keep" ->
      graft.operators.LmScore.qualityClassifierKeepOracleSql,
    "t48i_quality_classifier_keep" ->
      graft.operators.LmScore.qualityClassifierKeepOracleSql,
    "t53_quality_calibration" ->
      graft.operators.LmScore.qualityCalibrationOracleSql,
    "t34_lm_gated_selection" -> graft.operators.LmScore.lmGatedSelectionOracleSql,
    "t35_trigram_lm_ppl" -> graft.operators.LmScore.trigramLmScoresOracleSql,
    "t36_rrf_fusion" -> graft.operators.LmScore.rrfFusionOracleSql,
    "t37_exact_stratified_sample" ->
      graft.operators.TrainingPrep.exactStratifiedSampleOracleSql,
    "t38_data_card" -> graft.operators.TrainingPrep.dataCardOracleSql,
    "t40_data_expectations" -> graft.operators.Expectations.dataExpectationsOracleSql,
    "t43_importer_expectations" ->
      graft.operators.Expectations.importerExpectationsOracleSql,
    "t41_metric_drift" -> graft.operators.Expectations.metricDriftOracleSql,
    "t42_embedding_drift" -> graft.operators.Expectations.embeddingDriftOracleSql,
    "t39_gopher_repetition" -> TextAnalysis.gopherRepetitionOracleSql,
    "t39s_gopher_stage" -> TextAnalysis.gopherRepetitionStageOracleSql,
    "t15_repetition_signals" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
        |    FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r)
        |  GROUP BY doc_id, bg),
        |bstat AS (SELECT doc_id, sum(c) AS n_bi, max(c) AS top_bi FROM bc GROUP BY doc_id),
        |tstat AS (
        |  SELECT doc_id, count(*) AS n_tri, count(DISTINCT tg) AS d_tri FROM (
        |    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS tg
        |    FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r)
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  cast(n_bi AS bigint) AS n_bigrams,
        |  cast(top_bi AS bigint) AS top_bigram_n,
        |  cast(floor(top_bi * 1000000.0 / n_bi + 0.5) AS bigint) AS top_bigram_share_e6,
        |  cast(floor((n_tri - d_tri) * 1000000.0 / n_tri + 0.5) AS bigint) AS dup_trigram_frac_e6
        |FROM bstat b JOIN tstat t ON t.doc_id = b.doc_id""".stripMargin,
    "t16_pii_redaction" ->
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    text ||
         |    CASE WHEN doc_id % 10 = 0
         |         THEN ' contact user' || cast(doc_id AS varchar) || '@example.com now'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 20 = 0 THEN ' call 555-0147' ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  cast(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.EmailRe}')) AS int)
         |    AS n_emails,
         |  cast(len(regexp_extract_all(text, '${graft.operators.TextAnalysis.PhoneRe}')) AS int)
         |    AS n_phones,
         |  regexp_replace(
         |    regexp_replace(text, '${graft.operators.TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${graft.operators.TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM seeded""".stripMargin,
    "t17_domain_counts" ->
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    text ||
         |    CASE WHEN doc_id % 7 = 0
         |         THEN ' see https://site' || cast(doc_id % 13 AS varchar)
         |              || '.example.org/p/' || cast(doc_id AS varchar)
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 21 = 0 THEN ' via http://cdn.example.net/asset'
         |         ELSE '' END AS text
         |  FROM documents),
         |ex AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(text, '${graft.operators.TextAnalysis.UrlDomainRe}', 2))
         |      AS domain
         |  FROM seeded)
         |SELECT domain,
         |  cast(count(DISTINCT doc_id) AS bigint) AS n_docs,
         |  cast(count(*) AS bigint) AS n_refs
         |FROM ex GROUP BY domain""".stripMargin,
    "t20_training_selection" ->
      graft.operators.TrainingPrep.trainingSelectionOracleSql,
    "t21_bpe_tokens" -> TextAnalysis.bpeTokenStatsOracleSql,
    "t22_top_ngrams" -> TextAnalysis.topNgramsOracleSql,
    "t49_html_extraction" -> TextAnalysis.htmlExtractedOracleSql,
    "t54_c4_policy_filters" -> TextAnalysis.c4PolicyFiltersOracleSql,
    "t47_tokenizer_fertility" -> TextAnalysis.tokenizerFertilityByLangOracleSql,
    "t63_diversity_report" -> TextAnalysis.diversityReportOracleSql,
    "t64_decontaminated_selection" ->
      graft.operators.TrainingPrep.decontaminatedSelectionOracleSql,
    "t55_host_quota_keep" -> Dedup.hostQuotaOracleSql,
    "t57_dedup_attrition" -> Dedup.dedupAttritionOracleSql,
    "t51_epoch_schedule" ->
      graft.operators.TrainingPrep.epochScheduleOracleSql,
  )

  def dedupOracle: Map[String, String] =
    dedupInlineOracle ++ indexFedDedupOracle

  private def dedupInlineOracle: Map[String, String] = Map(
    // both exact-dedup oracles replay the planted-duplicate corpus (the
    // raw corpus has no byte-identical texts — results would be vacuous)
    "d1_exact_duplicate_groups" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + ${Dedup.DupCloneOffset}, text FROM documents
        |  WHERE doc_id < ${Dedup.DupCloneCount})
        |SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |  cast(count(*) AS bigint) AS n_copies
        |FROM corpus GROUP BY md5(text) HAVING count(*) > 1""".stripMargin,
    "d2_exact_dedup_keep" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + ${Dedup.DupCloneOffset}, text, lang, source FROM documents
        |  WHERE doc_id < ${Dedup.DupCloneCount})
        |SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM corpus)
        |WHERE rn = 1""".stripMargin,
    "d3_ngram_jaccard_pairs" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh0 AS (
        |  SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS s
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
        |ok_sh AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= ${Dedup.DefaultMaxDocFreq}),
        |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN ok_sh USING (s)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  cast(floor(cast(common AS double) / (sa.n + sb.n - common) * 10000.0 + 0.5) AS bigint)
        |    AS jaccard_e4
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = pairs.a
        |JOIN sizes sb ON sb.doc_id = pairs.b
        |WHERE cast(common AS double) / (sa.n + sb.n - common) >= ${Dedup.DefaultThreshold}""".stripMargin,
    // connected components over the near-dup pair graph, replayed in
    // DuckDB with a recursive transitive-closure CTE
    "d8_duplicate_clusters" ->
      s"""WITH RECURSIVE $d8ClusterCtes
        |SELECT id AS doc_id, cast(min(r) AS bigint) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin,
    // d13: the d8 component labels joined to the t2 quality score, keeper
    // chosen by a QUALIFY window — shares the cluster CTE chain with d8
    // and the quality formula with t2 (factored vals, not copies, so
    // neither can desync)
    "d13_cluster_representatives" ->
      s"""WITH RECURSIVE $d8ClusterCtes,
        |cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |qual AS (
        |  SELECT doc_id, $qualityE4ExprSql AS quality_e4
        |  FROM (${qualityBaseSql()}))
        |SELECT cast(cl.cluster_id AS bigint) AS cluster_id,
        |  cl.doc_id AS rep_doc_id,
        |  cast(count(*) OVER (PARTITION BY cl.cluster_id) AS bigint) AS n_members,
        |  q.quality_e4 AS rep_quality_e4
        |FROM cl JOIN qual q ON q.doc_id = cl.doc_id
        |QUALIFY row_number()
        |  OVER (PARTITION BY cl.cluster_id ORDER BY q.quality_e4 DESC, cl.doc_id) = 1""".stripMargin,
    // d4-d7 ride the PortableHash md5-affine scheme (since round 4), so
    // their whole signature pipelines replay in DuckDB — SQL generated
    // next to the operators so constants can't desync:
    "d4_minhash_lsh_pairs" -> Dedup.minhashLshOracleSql,
    "d18_bbit_minhash_estimate" -> Dedup.bbitMinhashOracleSql,
    // d4b's stored packed columns equal the inline derivation (pinned by
    // the index build tests), so the inline-replaying oracle applies
    "d4b_bbit_screened_pairs" -> Dedup.bbitScreenOracleSql,
    "d5_simhash_signatures" -> Dedup.simhashSignaturesOracleSql,
    "d6_simhash_pairs" -> Dedup.simhashPairsOracleSql,
    "d9_crosscorpus_fuzzy_pairs" -> Dedup.crossCorpusOracleSql,
    "d15_ngram_decontamination" -> Dedup.ngramDecontaminationOracleSql,
    "t60_contamination_report" -> Dedup.contaminationReportOracleSql,
    "d16_threshold_sensitivity" -> Dedup.thresholdSensitivityOracleSql,
    "d10_segment_dedup" -> Dedup.duplicatedSegmentsOracleSql,
    "d11_containment_pairs" -> Dedup.containmentPairsOracleSql,
    "t24_span_scrub" -> Dedup.scrubbedSpansOracleSql,
    "d12_substring_spans" -> Dedup.substringSpansOracleSql,
    "d14_url_dedup" -> Dedup.urlDedupOracleSql,
    "t58_domain_blocklist" -> Dedup.domainBlocklistOracleSql,
    // d17/t59 share d8's recursive cluster CTE chain (factored, so the
    // three cannot desync on threshold or df cap)
    "d17_cluster_size_histogram" ->
      s"""WITH RECURSIVE $d8ClusterCtes,
        |labels AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |szs AS (SELECT c, count(*) AS cluster_size FROM labels GROUP BY c)
        |SELECT cast(cluster_size AS bigint) AS cluster_size,
        |  cast(count(*) AS bigint) AS n_clusters
        |FROM szs GROUP BY cluster_size""".stripMargin,
    "t59_soft_dedup_weights" ->
      s"""WITH RECURSIVE $d8ClusterCtes,
        |labels AS (SELECT id AS doc_id, min(r) AS c FROM reach GROUP BY id),
        |csz AS (SELECT c, count(*) AS cluster_size FROM labels GROUP BY c)
        |SELECT d.doc_id,
        |  cast(coalesce(csz.cluster_size, 1) AS bigint) AS cluster_size,
        |  cast(10000 // coalesce(csz.cluster_size, 1) AS bigint) AS weight_e4
        |FROM documents d
        |LEFT JOIN labels l ON l.doc_id = d.doc_id
        |LEFT JOIN csz ON csz.c = l.c""".stripMargin,
    "t62_soft_dedup_budget" ->
      s"""WITH RECURSIVE $d8ClusterCtes,
        |labels AS (SELECT id AS doc_id, min(r) AS c FROM reach GROUP BY id),
        |csz AS (SELECT c, count(*) AS cluster_size FROM labels GROUP BY c),
        |w AS (
        |  SELECT d.doc_id, d.source,
        |    cast(length(d.text) - length(replace(d.text, ' ', '')) + 1
        |      AS bigint) AS n_tokens,
        |    cast(10000 // coalesce(csz.cluster_size, 1) AS bigint) AS weight_e4
        |  FROM documents d
        |  LEFT JOIN labels l ON l.doc_id = d.doc_id
        |  LEFT JOIN csz ON csz.c = l.c)
        |SELECT source, cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(n_tokens) AS bigint) AS raw_tokens,
        |  cast(sum(n_tokens * weight_e4 // 10000) AS bigint)
        |    AS effective_tokens,
        |  cast((cast(sum(n_tokens * weight_e4 // 10000) AS bigint) * 10000)
        |    // cast(sum(n_tokens) AS bigint) AS bigint) AS dedup_discount_e4
        |FROM w GROUP BY source""".stripMargin,
    // t67: t62's effective volumes driving t29's tempered rates — the
    // labels/weights CTEs replayed, then the mixture arithmetic over
    // eff_tokens with the same per-doc keep hash
    "t67_soft_mixture_selection" ->
      s"""WITH RECURSIVE $d8ClusterCtes,
        |labels AS (SELECT id AS doc_id, min(r) AS c FROM reach GROUP BY id),
        |csz AS (SELECT c, count(*) AS cluster_size FROM labels GROUP BY c),
        |tok AS (
        |  SELECT d.doc_id, d.source,
        |    cast(length(d.text) - length(replace(d.text, ' ', '')) + 1
        |      AS bigint) AS n_tokens,
        |    cast((cast(length(d.text) - length(replace(d.text, ' ', '')) + 1
        |        AS bigint)
        |      * (10000 // coalesce(csz.cluster_size, 1))) // 10000
        |      AS bigint) AS eff_tokens
        |  FROM documents d
        |  LEFT JOIN labels l ON l.doc_id = d.doc_id
        |  LEFT JOIN csz ON csz.c = l.c),
        |dom AS (SELECT source, sum(eff_tokens) AS toks FROM tok GROUP BY source),
        |tot AS (SELECT sum(toks) AS total,
        |  sum(sqrt(cast(toks AS double))) AS wsum FROM dom),
        |rates AS (
        |  SELECT source,
        |    least(1.0, ${graft.operators.TrainingPrep.MixBudgetFrac}
        |      * (sqrt(cast(toks AS double)) / wsum)
        |      / (cast(toks AS double) / cast(total AS double))) AS rate
        |  FROM dom CROSS JOIN tot)
        |SELECT doc_id, source, n_tokens, eff_tokens
        |FROM tok JOIN rates USING (source)
        |WHERE ${graft.operators.TrainingPrep.hashFracSql("|t29")} < rate"""
        .stripMargin,
  )

  // the quality-formula SQL lives next to its Spark twin
  // (TextAnalysis.qualityE4Col) — see the factoring note there
  private def qualityBaseSql(extraCols: String = ""): String =
    TextAnalysis.qualityBaseSql(extraCols)
  private def qualityE4ExprSql: String = TextAnalysis.qualityE4ExprSql

  /** The near-dup connected-components CTE chain (shingle → df-capped
    * inverted index → verified Jaccard pairs → symmetric edges →
    * recursive reachability) shared by the d8 and d13 oracles — factored
    * so the two can't desync on the threshold or the df cap.
    */
  private def d8ClusterCtes: String =
    s"""toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, concat(t[i], ' ', t[i+1], ' ', t[i+2]) AS s
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r),
      |ok_sh AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= ${Dedup.DefaultMaxDocFreq}),
      |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN ok_sh USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |cpairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |jpairs AS (
      |  SELECT a, b FROM cpairs
      |  JOIN sizes sa ON sa.doc_id = cpairs.a
      |  JOIN sizes sb ON sb.doc_id = cpairs.b
      |  WHERE common * 1.0 / (sa.n + sb.n - common) >= ${Dedup.DefaultThreshold}),
      |edges AS (SELECT a, b FROM jpairs UNION ALL SELECT b, a FROM jpairs),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)""".stripMargin

  /** The `*i` queries are the index-fed twins of d3/d4/d9/d10/d11 —
    * proven bit-equal to the inline derivations (`ScaleOpsSpec`), so each
    * reuses its twin's corpus-re-deriving SQL verbatim. Built by name
    * lookup, not copy, so the twins can't desync.
    */
  private def indexFedDedupOracle: Map[String, String] = {
    val inline = dedupInlineOracle
    Map(
      "d3i_ngram_jaccard_pairs" -> inline("d3_ngram_jaccard_pairs"),
      "d16i_threshold_sensitivity" -> inline("d16_threshold_sensitivity"),
      "d4i_minhash_lsh_pairs" -> inline("d4_minhash_lsh_pairs"),
      "d10i_segment_dedup" -> inline("d10_segment_dedup"),
      "d11i_containment_pairs" -> inline("d11_containment_pairs"),
      "d9i_crosscorpus_fuzzy_pairs" -> inline("d9_crosscorpus_fuzzy_pairs"))
  }

  def similarityOracle: Map[String, String] = Map(
    "v1_embedding_norms" ->
      """SELECT e.vec_id, e.label,
        |  cast(floor(sqrt(sum(cast(e.embedding[i] AS double) * cast(e.embedding[i] AS double))) * 10000.0 + 0.5) AS bigint) AS l2_norm_e4
        |FROM embeddings e, LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) r
        |GROUP BY e.vec_id, e.label""".stripMargin,
    "v2_brute_force_topk" -> Similarity.bruteForceTopKOracleSql,
    "v17_adaptive_topk" -> Similarity.adaptiveTopKOracleSql,
    "v18_adaptive_recall" -> Similarity.adaptiveRecallOracleSql,
    "v19_binary_hamming_topk" -> Similarity.binaryTopKOracleSql,
    "v20_binary_recall" -> Similarity.binaryRecallOracleSql,
    "v23_int8_topk" -> Similarity.int8TopKOracleSql,
    "v24_int8_recall" -> Similarity.int8RecallOracleSql,
    // deterministic hyperplane literals inlined into the oracles
    "v3_lsh_buckets" -> Similarity.lshBucketsOracleSql,
    "v4_lsh_ann_topk" -> Similarity.lshAnnTopKOracleSql,
    "v5_embedding_near_dups" -> Similarity.embeddingNearDupsOracleSql,
    "v8_int8_quant_error" -> Similarity.int8QuantizationOracleSql,
    // v6/v7 oracles inline the trained centroids — data-dependent, see
    // [[dataDependentOracle]].
  )

  /** Oracles whose SQL embeds data-dependent literals (the trained IVF
    * centroids). They can only be generated with a live session pointed at
    * the verify directory — [[Verify]] sets the `graft.sfdir` property
    * before dumping oracle_sql.json. Absent that context (e.g. static
    * inspection of oracleSql), these entries are omitted and the driver
    * falls back to its rows-only check.
    */
  def dataDependentOracle: Map[String, String] =
    (SparkSession.getActiveSession, sys.props.get("graft.sfdir")) match {
      case (Some(s), Some(d)) => Map(
        "v6_ivf_assignments" -> graft.operators.IvfAnn.assignmentsOracleSql(s, d),
        "v15_kmeans_refine" -> graft.operators.IvfAnn.kmeansRefineOracleSql(s, d),
        "v16_cluster_sample" ->
          graft.operators.IvfAnn.clusterBalancedSampleOracleSql(s, d),
        "v7_ivf_topk" -> graft.operators.IvfAnn.ivfTopKOracleSql(s, d),
        // v7i probes the PERSISTED index, whose centroids are the same
        // trained geometry the inline path derives (VectorIndex.build
        // persists IvfAnn.centroidsFx), so the oracle is identical
        "v7i_ivf_topk" -> graft.operators.IvfAnn.ivfTopKOracleSql(s, d),
        "v9_pq_codes" -> graft.operators.PqAnn.pqCodesOracleSql(s, d),
        "v10_pq_topk" -> graft.operators.PqAnn.pqTopKOracleSql(s, d),
        "v11_ivfpq_topk" -> graft.operators.PqAnn.ivfPqTopKOracleSql(s, d),
        "v12_ivf_recall" -> graft.operators.IvfAnn.ivfRecallOracleSql(s, d),
        "v25_filtered_topk" ->
          graft.operators.IvfAnn.filteredIvfTopKOracleSql(s, d),
        "v26_filtered_recall" ->
          graft.operators.IvfAnn.filteredRecallOracleSql(s, d),
        "v21_ivf_binary_topk" -> graft.operators.IvfAnn.ivfBinaryTopKOracleSql(s, d),
        "v22_ivf_binary_recall" -> graft.operators.IvfAnn.ivfBinaryRecallOracleSql(s, d),
        "v14_pq_recall" -> graft.operators.PqAnn.pqRecallOracleSql(s, d),
        "v27_residual_ivfpq_topk" ->
          graft.operators.PqAnn.residualIvfPqTopKOracleSql(s, d),
        // v27i probes the PERSISTED artifact, bit-equal to the inline
        // v27 (same trained geometry — IvfBucketingSpec pins it), so the
        // same oracle applies verbatim (the v7i precedent)
        "v27i_residual_ivfpq_topk" ->
          graft.operators.PqAnn.residualIvfPqTopKOracleSql(s, d),
        "v28_residual_recall" ->
          graft.operators.PqAnn.residualRecallOracleSql(s, d),
        "v13_semantic_dedup" -> graft.operators.IvfAnn.semanticDedupOracleSql(s, d),
        // v13i reads the persisted lists, which hold the inline path's
        // assignment verbatim (build persists it) → same oracle
        "v13i_semantic_dedup" -> graft.operators.IvfAnn.semanticDedupOracleSql(s, d),
        // composes the v13 oracle (centroid literals) → data-dependent too
        "t23_training_selection_full" ->
          graft.operators.TrainingPrep.trainingSelectionFullOracleSql(s, d),
        // the end-to-end production composition rides the t23 oracle
        "t65_production_selection" ->
          graft.operators.TrainingPrep.productionSelectionOracleSql(s, d),
        // the run manifest nests the t65 oracle → data-dependent too
        "t66_run_manifest" ->
          graft.operators.TrainingPrep.runManifestOracleSql(s, d),
        // t66b replays the trained merges as VALUES literals over the
        // nested t65 oracle; t66s additionally nests the d8 cluster CTEs
        "t66b_run_manifest_bpe" ->
          graft.operators.TrainingPrep.runManifestBpeOracleSql(s, d),
        "t66s_run_manifest_soft" ->
          graft.operators.TrainingPrep.runManifestSoftOracleSql(
            s, d, d8ClusterCtes),
        "t25_scrubbed_selection" ->
          graft.operators.TrainingPrep.trainingSelectionScrubbedOracleSql(s, d),
        // the index-fed twins are bit-equal to the inline t23/t25
        // (ScaleOpsSpec), so they replay the same corpus-re-deriving SQL
        "t23i_training_selection_full" ->
          graft.operators.TrainingPrep.trainingSelectionFullOracleSql(s, d),
        "t25i_scrubbed_selection" ->
          graft.operators.TrainingPrep.trainingSelectionScrubbedOracleSql(s, d),
        // inlines the trained word→pieces map (BPE merges are a pure
        // function of the word histogram) → data-dependent
        "t50_bpe_piece_stats" ->
          graft.operators.Bpe.bpePieceStatsOracleSql(s, d),
        "t52_bpe_vocab_histogram" ->
          graft.operators.Bpe.bpeVocabHistogramOracleSql(s, d),
        // the BPE-fed chunk/pack arithmetic replays the same merges table
        "t8b_bpe_chunks" ->
          graft.operators.TrainingPrep.bpeChunksOracleSql(s, d),
        "t11b_bpe_packed_docs" ->
          graft.operators.TrainingPrep.packedDocsBpeOracleSql(s, d))
      case _ => Map.empty
    }

  def multimodalOracle: Map[String, String] = Map(
    "m1_asset_meta" ->
      """SELECT doc_id, 'fake/rgb8' AS format,
        |  cast((n_chars % 64) + 1 AS int) AS width,
        |  cast(floor(n_chars / 64) + 1 AS int) AS height,
        |  n_chars AS n_bytes
        |FROM documents""".stripMargin,
    // m2's stub decoder is pure byte arithmetic over the (ASCII) payload,
    // so DuckDB replays it: histogram of high nibbles via ord(), float
    // normalization, stride-32 frame sampling, mod-997 checksum.
    "m2_decode_features" ->
      """WITH chars AS (
        |  SELECT d.doc_id, i, ord(substr(d.text, i, 1)) AS b
        |  FROM documents d,
        |       LATERAL (SELECT unnest(range(1, len(d.text) + 1)) AS i) r),
        |stats AS (
        |  SELECT doc_id, count(*) AS len, sum(b) AS sumb FROM chars GROUP BY doc_id),
        |hist AS (
        |  SELECT doc_id, b // 16 AS bin, cast(count(*) AS float) AS cnt
        |  FROM chars GROUP BY doc_id, b // 16),
        |nrm AS (
        |  SELECT doc_id, sqrt(sum(cast(cnt AS double) * cast(cnt AS double))) AS nrm
        |  FROM hist GROUP BY doc_id),
        |feat AS (
        |  SELECT h.doc_id, cast(cast(h.cnt AS double) / n.nrm AS float) AS f
        |  FROM hist h JOIN nrm n ON h.doc_id = n.doc_id),
        |fnorm AS (
        |  SELECT doc_id, sqrt(sum(cast(f AS double) * cast(f AS double))) AS fn
        |  FROM feat GROUP BY doc_id),
        |frames AS (
        |  SELECT doc_id, sum(b) % 997 AS checksum, count(*) AS n_frames
        |  FROM chars WHERE (i - 1) % 32 = 0 GROUP BY doc_id)
        |SELECT s.doc_id,
        |  cast(s.len AS bigint) AS n_bytes,
        |  cast(floor(cast(s.sumb AS double) / s.len * 10000.0 + 0.5) AS bigint) AS mean_byte_e4,
        |  cast(floor(fn.fn * 10000.0 + 0.5) AS bigint) AS feat_norm_e4,
        |  cast(fr.n_frames AS int) AS n_frames,
        |  cast(fr.checksum AS bigint) AS frame_checksum
        |FROM stats s
        |JOIN fnorm fn ON fn.doc_id = s.doc_id
        |JOIN frames fr ON fr.doc_id = s.doc_id""".stripMargin,
    "m3_resized_assets" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    ((n_chars % 64) + 1) AS w,
        |    (n_chars // 64 + 1) AS h,
        |    greatest(1, (greatest((n_chars % 64) + 1, n_chars // 64 + 1) + 15) // 16) AS factor
        |  FROM documents),
        |sampled AS (
        |  SELECT f.doc_id, ord(substr(f.text, i, 1)) AS b
        |  FROM f, LATERAL (SELECT unnest(range(1, len(f.text) + 1)) AS i) r
        |  WHERE (i - 1) % f.factor = 0),
        |agg AS (
        |  SELECT doc_id, count(*) AS n, sum(b) % 997 AS ck FROM sampled GROUP BY doc_id)
        |SELECT f.doc_id,
        |  cast(f.factor AS int) AS factor,
        |  cast((f.w + f.factor - 1) // f.factor AS int) AS width_rs,
        |  cast((f.h + f.factor - 1) // f.factor AS int) AS height_rs,
        |  cast(coalesce(a.n, 0) AS bigint) AS n_bytes_rs,
        |  cast(coalesce(a.ck, 0) AS bigint) AS checksum_rs
        |FROM f LEFT JOIN agg a ON a.doc_id = f.doc_id""".stripMargin,
    // the corpus has no empty documents (TESTDATA), so every doc yields
    // frame 0; payload bytes == text chars (pure ASCII)
    "m4_frame_samples" ->
      """SELECT d.doc_id,
        |  cast(r.i AS bigint) AS frame_idx,
        |  cast(r.i * 125 AS bigint) AS ts_ms,
        |  substr(d.text, cast(r.i * 125 + 1 AS int), 1) AS sampled_char,
        |  (r.i % 8 = 0) AS keyframe
        |FROM documents d,
        |  LATERAL (SELECT unnest(range(0, (len(d.text) - 1) // 125 + 1)) AS i) r""".stripMargin,
    "m5_feature_topk" -> MultimodalOps.featureTopKOracleSql(),
    "m6_container_frames" -> MultimodalOps.containerFrameStatsOracleSql,
    "m7_phash_dup_groups" -> MultimodalOps.phashDupGroupsOracleSql,
    "m8_media_quality_gate" -> MultimodalOps.mediaQualityGateOracleSql,
  )
}
