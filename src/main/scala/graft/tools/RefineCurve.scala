package graft.tools

/** Records the adaptive-retrieval candidate-budget operating curve:
  * recall@10 (vs the exact brute-force ground truth) and wall time of the
  * full `adaptiveTopK` pass at RefineC ∈ {10, 25, 50, 100, 200}. The
  * committed sf0.1 table lives in `README.md` ("Adaptive retrieval
  * operating point") so the RefineC knob has a documented recall/cost
  * trade-off before any scale-up — the v17 analogue of the nprobe curve.
  * The synthetic corpus has uniform (non-front-loaded) dimensions, the
  * adversarial case for prefix ranking, so the committed curve is a
  * LOWER bound on what a Matryoshka-trained embedding achieves.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.RefineCurve
  */
object RefineCurve {
  def main(args: Array[String]): Unit = {
    val dir = graft.Bench.sfDir(sys.env.get("SPARK_GRAFT_SF_DIR"))
    // the committed curve must be measured under the graded bench's exact
    // engine configuration — share the builder, never copy it
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // per-query recall@10, macro-averaged (same rationale as NprobeCurve)
    val exactByQ = graft.operators.Similarity.bruteForceTopK(spark, dir)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rows = Seq(10, 25, 50, 100, 200).map { c =>
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.Similarity.adaptiveTopK(spark, dir, refineC = c).count()
        (System.nanoTime() - t0) / 1e9
      }
      val approxByQ = graft.operators.Similarity.adaptiveTopK(spark, dir, refineC = c)
        .select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val recall = exactByQ.iterator.map { case (q, ex) =>
        (approxByQ.getOrElse(q, Set.empty) & ex).size.toDouble / ex.size
      }.sum / exactByQ.size
      (c, recall, times.min)
    }
    println(s"sf_dir=$dir")
    println("| RefineC | recall@10 (mean per-query) | adaptiveTopK wall (s, min of 2) |")
    println("|---|---|---|")
    rows.foreach { case (c, r, t) => println(f"| $c | $r%.3f | $t%.2f |") }
    spark.stop()
  }
}
