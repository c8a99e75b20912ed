package graft.tools

/** Records the index-build amortization table: what one shingle/IVF index
  * build costs versus what it saves each dedup/probe pass, measured under
  * THE graded bench engine configuration (shared session builder — a
  * hand-copied config block would drift). The committed sf0.1 table lives
  * in `README.md` ("Index amortization") next to the nprobe curve.
  *
  * Method: every pass timed as min-of-2 (the bench's estimator); builds
  * timed once (a build is a one-off by definition — min-of-2 would charge
  * it the warm second run). Inline passes re-derive from the corpus; the
  * index-fed passes read the freshly built indexes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.AmortizationTable
  */
object AmortizationTable {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")

    def minOf2(f: => Unit): Double =
      (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        f
        val t = (System.nanoTime() - t0) / 1e9
        // cache teardown OUTSIDE the timed window — the Bench estimator
        // this table claims to replicate clears after taking the time
        spark.catalog.clearCache()
        t
      }.min
    def once(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    import graft.operators.{Dedup, IvfAnn, ShingleIndex, TrainingPrep, VectorIndex}
    // warm the base tables so the first timed pass is not charged footer/
    // page-cache init (same rationale as the bench warm-up)
    graft.sources.Fixtures.table(spark, dir, "documents").count()
    graft.sources.Fixtures.table(spark, dir, "embeddings").count()

    val inline = Seq(
      "d3" -> minOf2(Dedup.ngramJaccardPairs(spark, dir).count()),
      "d4" -> minOf2(Dedup.minhashLshPairs(spark, dir).count()),
      "d10" -> minOf2(Dedup.duplicatedSegments(spark, dir, plantCopies = true).count()),
      "d11" -> minOf2(Dedup.containmentPairs(spark, dir, plantCopies = true).count()))

    val idxRoot = java.nio.file.Files.createTempDirectory("amort").toString
    val tbl = "amort_shingle_idx"
    val shingleBuild = once(ShingleIndex.build(spark, dir, s"$idxRoot/shingle", tbl))
    val fed = Seq(
      "d3i" -> minOf2(ShingleIndex.ngramJaccardPairs(spark, tbl).count()),
      "d4i" -> minOf2(ShingleIndex.minhashLshPairs(spark, tbl).count()),
      "d10i" -> minOf2(ShingleIndex.duplicatedSegments(spark, tbl).count()),
      "d11i" -> minOf2(ShingleIndex.containmentPairs(spark, tbl).count()))
    // round-13 addition: d9's cross-corpus decontamination, inline
    // (re-shingle + 16-perm re-derivation) vs fed from the stored
    // 32-perm signatures sliced to the first 16
    val d9 = minOf2(Dedup.crossCorpusFuzzyPairs(spark, dir, plantClones = true).count())
    val d9i = minOf2(ShingleIndex.crossCorpusFuzzyPairs(spark, tbl, dir).count())

    // the composed training gates: their segment-dup / scrub-signal /
    // MinHash legs re-derive inline vs read the just-built index
    val gates = Seq(
      "t23" -> minOf2(TrainingPrep.trainingSelectionFull(spark, dir).count()),
      "t25" -> minOf2(TrainingPrep.trainingSelectionScrubbed(spark, dir).count()))
    val gatesFed = Seq(
      "t23i" -> minOf2(TrainingPrep.trainingSelectionFullIndexed(spark, dir, tbl).count()),
      "t25i" -> minOf2(TrainingPrep.trainingSelectionScrubbedIndexed(spark, dir, tbl).count()))

    val v7 = minOf2(IvfAnn.ivfTopK(spark, dir).count())
    val ivfBuild = once(VectorIndex.build(spark, dir, s"$idxRoot/ivf"))
    val v7i = minOf2(VectorIndex.ivfTopK(spark, dir, s"$idxRoot/ivf").count())
    // the long-lived-process flavor: stored centroids loaded once, probes
    // skip the per-query centroids/ read (the graded v7i path via
    // IndexStore.centroidsFx)
    val cents = VectorIndex.centroidsFx(spark, s"$idxRoot/ivf")
    val v7iCached = minOf2(VectorIndex.ivfTopK(spark, dir, s"$idxRoot/ivf", cents).count())
    // SemDeDup: inline re-assigns the whole corpus per pass; the fed
    // flavor reads the stored per-centroid lists (assignment paid at
    // build) and assigns only the planted clones on the fly
    val v13 = minOf2(IvfAnn.semanticDedup(spark, dir, plantClones = true).count())
    val v13i = minOf2(IvfAnn.semanticDedupFromIndex(
      spark, dir, s"$idxRoot/ivf", cents, plantClones = true).count())

    // the LM scorer: inline re-trains the model per pass; the fed flavor
    // scores against the model persisted once (the CCNet deployment shape)
    import graft.operators.LmScore
    val t31 = minOf2(LmScore.bigramLmScores(spark, dir).count())
    val lmBuild = once(LmScore.buildModel(spark, dir, s"$idxRoot/lm"))
    val t31i = minOf2(LmScore.bigramLmScoresIndexed(spark, dir, s"$idxRoot/lm").count())
    // the NB langid classifier: inline re-counts the model per pass; the
    // fed flavor classifies against the model frozen once (the deployed
    // CCNet-langid shape)
    val t44 = minOf2(LmScore.nbLangScores(spark, dir).count())
    val nbBuild = once(LmScore.buildNbModel(spark, dir, s"$idxRoot/nb"))
    val t44i = minOf2(LmScore.nbLangScoresIndexed(spark, dir, s"$idxRoot/nb").count())

    def f(v: Double) = f"$v%.2f"
    println(s"sf_dir=$dir")
    println("| pass | inline (s) | index-fed (s) |")
    println("|---|---|---|")
    inline.zip(fed).foreach { case ((n, t), (ni, ti)) =>
      println(s"| $n / $ni | ${f(t)} | ${f(ti)} |")
    }
    val inlineSum = inline.map(_._2).sum
    val fedSum = fed.map(_._2).sum
    println(s"| dedup family total | ${f(inlineSum)} | ${f(fedSum)} (+ build ${f(shingleBuild)}) |")
    println(s"| d9 / d9i cross-corpus | ${f(d9)} | ${f(d9i)} |")
    gates.zip(gatesFed).foreach { case ((n, t), (ni, ti)) =>
      println(s"| $n / $ni gate chain | ${f(t)} | ${f(ti)} |")
    }
    println(s"| v7 / v7i IVF probe | ${f(v7)} | ${f(v7i)} (+ build ${f(ivfBuild)}) |")
    println(s"| v7i, centroids cached | n/a | ${f(v7iCached)} |")
    println(s"| v13 / v13i SemDeDup | ${f(v13)} | ${f(v13i)} |")
    println(s"| t31 / t31i bigram LM | ${f(t31)} | ${f(t31i)} (+ build ${f(lmBuild)}) |")
    println(s"| t44 / t44i NB langid | ${f(t44)} | ${f(t44i)} (+ build ${f(nbBuild)}) |")
    println(f"breakeven: shingle build repays after ${shingleBuild / math.max(inlineSum - fedSum, 1e-9)}%.2f four-pass sweeps")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tbl)}")
    spark.stop()
  }
}
