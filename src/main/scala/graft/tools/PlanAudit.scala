package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sweeps EVERY registered query's plan for scale red flags —
  * CartesianProduct / BroadcastNestedLoopJoin in the physical plan, and
  * unpartitioned (whole-corpus) windows in the optimized logical plan —
  * flagging any occurrence that survives the waiver list. The plan-review
  * loop the 100 TB stance requires, run against the whole suite at once
  * instead of one `ExplainDump` at a time.
  *
  * Waivers are PER PATTERN, not per query: a query waived for its benign
  * nested-loop shape (a broadcast ≤8-row stats/query frame joined
  * without a key) still flags if it ever grows a cartesian product or a
  * global window.
  *
  * Enforced two ways: `PlanAuditSpec` runs [[auditAll]] inside `sbt test`
  * (a future query growing an unwaived pattern fails CI), and [[main]]
  * remains the standalone sweep (`runMain graft.tools.PlanAudit [sfDir]`)
  * for ad-hoc use at other scale factors.
  */
object PlanAudit {

  private val Bnlj = "BroadcastNestedLoopJoin"
  private val Cart = "CartesianProduct"
  private val UnbBcast = "UnboundedBroadcast"

  /** Corpus-scale leaf tables: a frame DERIVED from one of these is
    * O(corpus) unless something in between provably bounds it (a
    * limit/sample, or an aggregate onto a bounded key documented in the
    * waiver). An explicit `broadcast()` hint on such a frame is the
    * round-13 w8/w9/w10 scale-killer: at the 100 TB target the frame is
    * 10⁸–10⁹ rows, past Spark's 8 GB broadcast hard limit — the hint
    * forces an OOM that AQE would never choose on its own.
    */
  private val FactTables = Seq("events", "documents", "embeddings", "lineitem")

  /** One audit hit: a red-flag `tag` in `query`'s plan, waived or not. */
  final case class Finding(
      query: String, tag: String, waiver: Option[String]) {
    def waived: Boolean = waiver.isDefined
    override def toString: String = waiver match {
      case Some(reason) => s"ok   $query [$tag] (waived: $reason)"
      case None => s"FLAG $query [$tag]"
    }
  }

  /** (query, pattern) → why that pattern is constant-size there. */
  // lazy: appends UnboundedBroadcastWaivers, declared below (plain vals
  // would read it as null during object init)
  private lazy val Waivers: Map[(String, String), String] = Map(
    ("a11_kmv_set_ops", Bnlj) -> "1-row sketch frames crossed (constant build side)",
    ("q11_important_parts", Bnlj) -> "1-row global-total threshold crossed",
    ("q14_promo_share", Bnlj) -> "1-row aggregate pair",
    ("q15_top_revenue_supplier", Bnlj) -> "1-row max-revenue threshold crossed",
    ("q17_small_qty_revenue", Bnlj) -> "per-part avg broadcast (bounded by part count)",
    ("q22_dormant_balances", Bnlj) -> "1-row avg-balance threshold crossed",
    ("t12_balance_weights", Bnlj) -> "per-class counts broadcast (bounded class count)",
    ("t22_top_ngrams", Bnlj) -> "1-row corpus-total frame crossed",
    ("v12_ivf_recall", Bnlj) -> "8-query ground-truth frame",
    ("v22_ivf_binary_recall", Bnlj) -> "8-query ground-truth frame (v2 composed)",
    ("v14_pq_recall", Bnlj) -> "8-query ground-truth + ADC legs (v2/v10 shapes composed)",
    ("t9_tfidf_top_terms", Bnlj) -> "1-row doc-count frame crossed",
    // the LM-scoring layer crosses 1-row corpus constants (vocab size V,
    // target/raw totals, N+Σdl) into vocab-bounded model tables
    ("t11_packed_chunks", Bnlj) ->
      "1-row doc_id min/max frame crossed in for the deterministic bucket bounds",
    ("t31_bigram_lm_ppl", Bnlj) -> "1-row vocab-size frame crossed into the model table",
    ("t44_nb_langid", Bnlj) ->
      "1-row vocab/doc-total frames + |langs|-row unk frame crossed (bounded label count)",
    ("t44i_nb_langid", Bnlj) ->
      "|langs|-row unk frame crossed into the occurrence tape (bounded label count)",
    ("t45_langid_confusion", Bnlj) ->
      "t44i's |langs|-row unk frame (confusion rides the same scoring plan)",
    ("t46_langid_quality", Bnlj) ->
      "t44i's |langs|-row unk frame (the P/R/F1 rollup rides the confusion plan)",
    ("t48_quality_classifier_keep", Bnlj) ->
      "t44's 1-row vocab/doc-total frames + 2-row (hiq/loq) unk frame crossed",
    ("t48i_quality_classifier_keep", Bnlj) ->
      "2-row (hiq/loq) unk frame crossed into the occurrence tape",
    ("t53_quality_calibration", Bnlj) ->
      "rides the t48 scoring plan (same bounded frames crossed)",
    ("t31i_bigram_lm_ppl", Bnlj) -> "1-row unk-floor frame crossed into the scoring leg",
    ("t34_lm_gated_selection", Bnlj) -> "t31's 1-row vocab-size frame (composed gate keeps the leg plans)",
    ("t35_trigram_lm_ppl", Bnlj) -> "1-row (N, V) frame crossed into the trigram model table",
    ("t36_rrf_fusion", Bnlj) -> "t33's 1-row (N, sumdl) frame on both retriever legs",
    ("t32_dsir_weights", Bnlj) -> "1-row target/raw totals frame crossed into the 256-row feature table",
    ("t33_bm25_topk", Bnlj) -> "1-row (N, sumdl) frame crossed into the scored-terms leg",
    ("g5_code_pagerank", Bnlj) -> "1-row rank-constants frame crossed per iteration",
    ("v2_brute_force_topk", Bnlj) -> "8-query broadcast side (exact baseline by design)",
    ("v17_adaptive_topk", Bnlj) -> "8-query broadcast side on the coarse stage; rescore frame is RefineC-bounded",
    ("v18_adaptive_recall", Bnlj) -> "composes the v2 + v17 shapes (8-query broadcast sides)",
    ("v19_binary_hamming_topk", Bnlj) ->
      "8-query broadcast side on the Hamming stage; rescore frame is RerankC-bounded",
    ("v20_binary_recall", Bnlj) -> "composes the v2 + v19 shapes (8-query broadcast sides)",
    ("v23_int8_topk", Bnlj) ->
      "8-query broadcast side on the code-cosine stage; rescore frame is RerankC-bounded",
    ("v24_int8_recall", Bnlj) -> "composes the v2 + v23 shapes (8-query broadcast sides)",
    ("v26_filtered_recall", Bnlj) ->
      "the filtered ground-truth leg is the v2 shape (8-query broadcast side)",
    ("t56_source_overlap_matrix", Bnlj) ->
      "|sources|-row sketch frames crossed for the pair algebra (broadcast-sized by construction)",
    ("v10_pq_topk", Bnlj) -> "8-query broadcast side, ADC over codes",
    ("m5_feature_topk", Bnlj) -> "8-query broadcast side over decoded features",
    // the t11 offsets window runs over a numPartitions-row side frame
    // (broadcastable by construction — see TrainingPrep.packedChunks)
    ("t11_packed_chunks", "GlobalWindow") -> "window over the per-partition offset table",
    ("t11b_bpe_packed_docs", "GlobalWindow") -> "window over the per-partition offset table",
    ("t11b_bpe_packed_docs", Bnlj) ->
      "1-row doc_id min/max frame crossed in for the deterministic bucket bounds",
    // t66 composes t29/t51/t26: every global window is over a
    // |sources|-row mixture/epoch frame or the ≤64-row offset table
    ("t66_run_manifest", "GlobalWindow") ->
      "windows over the |sources|-row mixture/epoch frames and the offset table",
    ("t66_run_manifest", Bnlj) ->
      "1-row corpus-total frame crossed into the per-source schedule (the t51 shape)",
    // t66b/t66s ride the same manifest machinery (piece-measured / soft
    // volumes change the numbers, not the plan shapes)
    ("t66b_run_manifest_bpe", "GlobalWindow") ->
      "windows over the |sources|-row mixture/epoch frames and the offset table",
    ("t66b_run_manifest_bpe", Bnlj) ->
      "1-row corpus-total frame crossed into the per-source schedule (the t51 shape)",
    ("t66s_run_manifest_soft", "GlobalWindow") ->
      "windows over the |sources|-row mixture/epoch frames and the offset table",
    ("t66s_run_manifest_soft", Bnlj) ->
      "1-row corpus-total frame crossed into the per-source schedule (the t51 shape)",
    ("v28_residual_recall", Bnlj) ->
      "8-query ground-truth + ADC legs (v2/v11/v27 shapes composed)",
    // the cut-time freeze stages (swept by StreamingSpec over accumulated
    // online state) ride the same batch machinery as their graded twins,
    // so they inherit exactly those waiver classes
    ("stream:cut_manifest", "GlobalWindow") ->
      "windows over the |sources|-row mixture/epoch frames and the offset table",
    ("stream:cut_manifest", Bnlj) ->
      "1-row corpus-total frame crossed into the per-source schedule (the t51 shape)",
    ("stream:cut_manifest_soft", "GlobalWindow") ->
      "windows over the |sources|-row mixture/epoch frames and the offset table",
    ("stream:cut_manifest_soft", Bnlj) ->
      "1-row corpus-total frame crossed into the per-source schedule (the t51 shape)",
    ("stream:cut_manifest_bpe", "GlobalWindow") ->
      "windows over the |sources|-row mixture/epoch frames and the offset table",
    ("stream:cut_manifest_bpe", Bnlj) ->
      "1-row corpus-total frame crossed into the per-source schedule (the t51 shape)",
    ("stream:pre_cut_sweep", "GlobalWindow") ->
      "window over the ≤15-row threshold-bucket frame (the d16 shape)",
    // t26/t27 reuse t11's two-phase prefix-sum: the only global window is
    // over the numPartitions-row offset table (TrainingPrep.shardedDocs)
    ("t26_shard_assignment", "GlobalWindow") -> "window over the per-partition offset table",
    ("t27_shard_manifest", "GlobalWindow") -> "window over the per-partition offset table",
    // the t29 totals window runs over the |sources|-row per-source token
    // aggregate (TrainingPrep.mixtureSelection) — constant-size at any sf
    ("t29_mixture_selection", "GlobalWindow") -> "window over the per-source rate table",
    ("t67_soft_mixture_selection", "GlobalWindow") -> "window over the per-source rate table",
    // the t51 ranking window runs over the |sources|-row schedule frame
    ("t51_epoch_schedule", "GlobalWindow") -> "window over the per-source schedule frame",
    // the d16 cumulative window runs over the ≤15-row jaccard-bucket
    // histogram (Dedup.thresholdSensitivity) — constant-size at any sf
    ("d16_threshold_sensitivity", "GlobalWindow") -> "window over the ≤15-row threshold-bucket frame",
    ("d16i_threshold_sensitivity", "GlobalWindow") -> "window over the ≤15-row threshold-bucket frame",
    ("t51_epoch_schedule", Bnlj) -> "1-row corpus-total frame crossed into the per-source frame",
    // the brand-ranking fixture window runs over the ~25-row distinct
    // p_brand frame (Fixtures.codeLists) — constant-size at any sf
    ("flagship_updates", "GlobalWindow") -> "dense_rank over the ~25-row brand fixture frame",
    ("j1_order_lookup", "GlobalWindow") -> "dense_rank over the ~25-row brand fixture frame",
    ("p8_option_updates_no_nodeid", "GlobalWindow") -> "dense_rank over the ~25-row brand fixture frame") ++
    UnboundedBroadcastWaivers

  /** The waived bounded-cardinality broadcast set (round-14, VERDICT r13
    * item 2): every explicit `broadcast()` hint on a corpus-DERIVED frame
    * whose boundedness the static detector cannot prove, with the reason
    * it is in fact constant-or-near-constant-sized at any corpus scale.
    * Anything hinted outside this set fails `PlanAuditSpec`.
    */
  private val ProbeFrame =
    "NumQueries-literal probe frame (vec_id < 8 on unique ids: ≤8 rows)"
  private val VocabModel =
    "UNK-thresholded n-gram model table: vocab-bounded, orders below the " +
      "corpus; LmScore scaladoc records the drop-hint escape hatch for a " +
      "vocab past executor memory"
  private val QueryTermDf =
    "df restricted to the literal query-term set before broadcast " +
      "(≤|query terms| rows; df is term-unique)"
  private val UnboundedBroadcastWaivers: Map[(String, String), String] = Map(
    ("a12_bloom_membership", s"$UnbBcast[agg:w]") ->
      "bloom bit-array words: ≤ filterBits/64 rows (literal sketch size)",
    ("a9_cms_user_counts",
      s"$UnbBcast[agg:_groupingexpression,_groupingexpression]") ->
      "CMS counter cells: depth×width literal sketch dims",
    ("d15_ngram_decontamination", s"$UnbBcast[agg:g]") ->
      "eval-set 13-grams: sized by the benchmark suite, not the corpus",
    ("t60_contamination_report", s"$UnbBcast[agg:g,suite]") ->
      "eval-set (suite, 13-gram) frame: sized by the benchmark suites, not the corpus",
    ("t64_decontaminated_selection", s"$UnbBcast[agg:g]") ->
      "d15's eval-set 13-gram frame (the anti-join rides the same leg)",
    ("t65_production_selection", s"$UnbBcast[agg:g]") ->
      "d15's eval-set 13-gram frame (the production composition rides it)",
    ("t66_run_manifest", s"$UnbBcast[agg:g]") ->
      "d15's eval-set 13-gram frame (the manifest rides the t65 leg)",
    ("stream:cut_decontaminated", s"$UnbBcast[agg:g]") ->
      "frozen eval-suite 13-gram frame: benchmark-bounded, not corpus-bounded",
    ("stream:cut_production", s"$UnbBcast[agg:g]") ->
      "frozen eval-suite 13-gram frame (the quota rides the decontamination leg)",
    ("t66_run_manifest", s"$UnbBcast[agg:source]") ->
      "per-source mixture-rate and epoch tables: |sources| rows each",
    ("t66_run_manifest", s"$UnbBcast[agg:pid]") ->
      "per-bucket offset table: ≤PrefixSumBuckets (64) rows",
    ("m5_feature_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("t11_packed_chunks", s"$UnbBcast[agg:pid]") ->
      "per-bucket offset table: ≤PrefixSumBuckets (64) rows",
    ("t11b_bpe_packed_docs", s"$UnbBcast[agg:pid]") ->
      "per-bucket offset table: ≤PrefixSumBuckets (64) rows",
    ("t26_shard_assignment", s"$UnbBcast[agg:pid]") ->
      "per-bucket offset table: ≤PrefixSumBuckets (64) rows",
    ("t27_shard_manifest", s"$UnbBcast[agg:pid]") ->
      "per-bucket offset table: ≤PrefixSumBuckets (64) rows",
    ("t12_balance_weights", s"$UnbBcast[agg:lang]") ->
      "per-class counts: bounded label count",
    ("t29_mixture_selection", s"$UnbBcast[agg:source]") ->
      "per-source rate table: |sources| rows",
    ("t67_soft_mixture_selection", s"$UnbBcast[agg:source]") ->
      "per-source effective-volume rate table: |sources| rows",
    ("t30_curriculum_selection", s"$UnbBcast[agg:pid,source]") ->
      "per-(bucket,source) offsets: ≤buckets×|sources| rows",
    ("t30s_curriculum_frame", s"$UnbBcast[agg:pid,source]") ->
      "per-(bucket,source) offsets: ≤buckets×|sources| rows",
    ("t32_dsir_weights", s"$UnbBcast[agg:b]") ->
      "DsirBuckets (256)-row hashed-feature table",
    ("t33_bm25_topk", s"$UnbBcast[agg:term]") -> QueryTermDf,
    ("t36_rrf_fusion", s"$UnbBcast[agg:term]") -> QueryTermDf,
    ("t35_trigram_lm_ppl", s"$UnbBcast[agg:tok]") -> VocabModel,
    ("t35_trigram_lm_ppl", s"$UnbBcast[agg:v]") -> VocabModel,
    ("t35_trigram_lm_ppl", s"$UnbBcast[agg:u,v]") -> VocabModel,
    ("t35_trigram_lm_ppl", s"$UnbBcast[agg:v,w]") -> VocabModel,
    ("t35_trigram_lm_ppl", s"$UnbBcast[agg:u,v,w]") -> VocabModel,
    ("t44_nb_langid", s"$UnbBcast[agg:lang]") ->
      "|langs|-row unk-floor frame (bounded label count)",
    ("t48_quality_classifier_keep", s"$UnbBcast[agg:lang]") ->
      "2-row (hiq/loq) unk-floor frame",
    ("t53_quality_calibration", s"$UnbBcast[agg:lang]") ->
      "2-row (hiq/loq) unk-floor frame (rides the t48 scoring plan)",
    ("t56_source_overlap_matrix", s"$UnbBcast[agg:source]") ->
      ("|sources|-row KMV sketch frame"),
    ("t56_source_overlap_matrix", s"$UnbBcast[agg:source,source]") ->
      "|sources|²-row pairwise sketch-intersection frame",
    ("w9_cohort_retention", s"$UnbBcast[agg:cohort_week]") ->
      ("≤weeks-row cohort-size table (the retention plan's one genuinely " +
        "bounded frame; the user-scale cohort frame is joined UNhinted)"),
    ("v2_brute_force_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v4_lsh_ann_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v7_ivf_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v11_ivfpq_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v12_ivf_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v14_pq_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v28_residual_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v17_adaptive_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v18_adaptive_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v19_binary_hamming_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v20_binary_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v21_ivf_binary_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v22_ivf_binary_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v23_int8_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v24_int8_recall", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v25_filtered_topk", s"$UnbBcast[raw]") -> ProbeFrame,
    ("v26_filtered_recall", s"$UnbBcast[raw]") -> ProbeFrame)

  /** Audit ONE built query plan. Pattern detection only — no jobs run
    * (the physical plan here is the pre-execution one; AQE re-plans are
    * out of scope because the red flags below are static shapes).
    */
  def audit(name: String, df: DataFrame): Seq[Finding] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val qe = df.queryExecution
    val physical = qe.executedPlan.toString
    // partitionBy(lit(0)) and other foldable keys constant-fold away,
    // so an EMPTY partitionSpec here is a genuinely global window
    val globalWindows = qe.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    // explicit broadcast hints on corpus-derived frames: by optimization
    // time ResolvedHint folds into Join.hint, so inspect each hinted side
    val unboundedBcastTags = qe.optimizedPlan.collect {
      case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
          case (Some(h), side) if h.strategy.contains(BROADCAST) &&
            !boundedCardinality(side) =>
            s"$UnbBcast[${broadcastShape(side)}]"
        }
    }.flatten.distinct
    val hits =
      Seq(Cart, Bnlj).filter(physical.contains) ++
        (if (globalWindows.nonEmpty) Seq("GlobalWindow") else Nil) ++
        unboundedBcastTags
    hits.map(tag => Finding(name, tag, Waivers.get((name, tag))))
  }

  /** Static cardinality-boundedness of a broadcast-hinted subtree: true
    * iff the frame provably does NOT grow with the corpus. Limits,
    * samples, and grouping-free (1-row) aggregates bound anything below
    * them; joins/unions are bounded when every input is; a scan is
    * bounded unless it reads a corpus-scale fact table ([[FactTables]]).
    * A KEYED aggregate is conservatively unbounded — keys like `lang` or
    * `ngram`-vocab are bounded in practice, but that fact lives in the
    * waiver reason, not in the detector.
    */
  private def boundedCardinality(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: GlobalLimit | _: LocalLimit | _: Sample => true
      // an aggregate never increases cardinality: grouping-free → 1 row;
      // keyed → bounded iff its input is (vocab-keyed aggs over the
      // corpus stay conservative-unbounded and need a waiver)
      case a: Aggregate =>
        a.groupingExpressions.isEmpty || boundedCardinality(a.child)
      // explode multiplies rows by an unbounded per-row factor
      case _: Generate => false
      case j: Join => boundedCardinality(j.left) && boundedCardinality(j.right)
      case u: Union => u.children.forall(boundedCardinality)
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        // a catalog-managed read (saveAsTable) of an IndexStore table is
        // corpus-sized even though its files live under tmp, not the
        // corpus dir — match the table identifier, then the path LEAF
        // (exact `<fact>.parquet` segment, not a substring, so a layout
        // like `.../myevents.parquet-bak/...` cannot false-positive)
        lazy val corpusSizedCatalog = lr.catalogTable.exists(ct =>
          CorpusSizedTable.pattern.matcher(ct.identifier.table).matches())
        lr.relation match {
          case _ if corpusSizedCatalog => false
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            !fs.location.rootPaths.exists(p =>
              FactTables.exists(t => p.getName == s"$t.parquet"))
          case _ => true
        }
      // catalog leaves the optimizer didn't rewrite to LogicalRelation:
      // every catalog table this engine manages is an IndexStore index
      // (corpus-sized), so default them unbounded by name
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        !CorpusSizedTable.pattern.matcher(r.tableMeta.identifier.table).matches()
      case r: org.apache.spark.sql.catalyst.catalog.UnresolvedCatalogRelation =>
        !CorpusSizedTable.pattern.matcher(r.tableMeta.identifier.table).matches()
      case _: LocalRelation | _: OneRowRelation | _: Range =>
        true // literal/fixture relations with driver-known cardinality
      // other leaves (InMemoryRelation of a cached model frame, persisted
      // model/index PARQUET paths under tmp, DSv2 fixtures) stay bounded:
      // the codebase caches/persists frames BECAUSE they are model- or
      // vocab-bounded, and flipping them would bury the detector's signal
      // under waivers restating the same reasons. The corpus-sized
      // catalog tables are the one audited exception, handled above.
      case l if l.children.isEmpty => true
      case u: UnaryNode => boundedCardinality(u.child)
      case _ => false
    }
  }

  /** Catalog tables whose row count tracks the corpus: the IndexStore-
    * managed shingle/segment index family (`graft_shingle_idx_*` today;
    * the prefix/suffix pattern covers future index kinds too).
    */
  private val CorpusSizedTable = "graft_.*_idx_.*".r

  /** Short shape descriptor for an unbounded hinted frame, so waivers pin
    * the SPECIFIC frame (its first keyed aggregate's grouping columns) —
    * re-hinting a different unbounded frame in a waived query still flags.
    */
  private def broadcastShape(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan.collectFirst {
      case a: Aggregate if a.groupingExpressions.nonEmpty =>
        "agg:" + a.groupingExpressions.map {
          case n: org.apache.spark.sql.catalyst.expressions.NamedExpression => n.name
          case e => e.sql
        }.sorted.mkString(",")
    }.getOrElse("raw")
  }

  /** Sweep every registered query at `dir`. Returns (findings, errors):
    * an erroring query is a failure of the audit, not a silent skip.
    */
  def auditAll(
      spark: SparkSession, dir: String): (Seq[Finding], Seq[(String, String)]) = {
    val acc = Seq.newBuilder[Finding]
    val errs = Seq.newBuilder[(String, String)]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        acc ++= audit(name, fn(spark, dir))
        spark.catalog.clearCache()
      } catch {
        case e: Throwable => errs += name -> String.valueOf(e.getMessage)
      }
    }
    (acc.result(), errs.result())
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val (findings, errors) = auditAll(spark, dir)
    findings.foreach(f => println(f.toString))
    errors.foreach { case (n, m) => println(s"ERR  $n: $m") }
    val flagged = findings.count(!_.waived) + errors.size
    println(s"plan audit: ${if (flagged == 0) "CLEAN" else s"$flagged FLAGGED"}")
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
