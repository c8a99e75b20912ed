package graft.tools

/** Records the IVF probe-count operating curve: recall@10 (vs the exact
  * brute-force ground truth) and wall time of the full `ivfTopK` pass at
  * nprobe ∈ {1, 2, 4, 8}. The committed sf0.1 table lives in
  * `README.md` ("IVF operating point") so the nprobe knob has a
  * documented recall/latency trade-off before any scale-up; monotonicity
  * of the curve is asserted in `IvfBucketingSpec`.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.NprobeCurve
  */
object NprobeCurve {
  def main(args: Array[String]): Unit = {
    val dir = graft.Bench.sfDir(sys.env.get("SPARK_GRAFT_SF_DIR"))
    // THE bench session — the committed curve must be measured under the
    // graded bench's exact engine configuration (AQE changes the
    // post-shuffle plan of ivfTopK), so share the builder, never copy it
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // per-query recall@10, macro-averaged — NOT the pooled micro-average
    // over the unioned (qid, vec_id) pairs, which only coincides with it
    // while every query returns exactly TopK rows (ties / short lists
    // would silently change the pooled metric's meaning)
    val exactByQ = graft.operators.Similarity.bruteForceTopK(spark, dir)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rows = Seq(1, 2, 4, 8).map { nprobe =>
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.IvfAnn.ivfTopK(spark, dir, nprobe).count()
        (System.nanoTime() - t0) / 1e9
      }
      val approxByQ = graft.operators.IvfAnn.ivfTopK(spark, dir, nprobe)
        .select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val recall = exactByQ.iterator.map { case (q, ex) =>
        (approxByQ.getOrElse(q, Set.empty) & ex).size.toDouble / ex.size
      }.sum / exactByQ.size
      (nprobe, recall, times.min)
    }
    println("| nprobe | recall@10 (mean per-query) | ivfTopK wall (s, min of 2) |")
    println("|---|---|---|")
    rows.foreach { case (np, r, t) => println(f"| $np | $r%.3f | $t%.2f |") }
    spark.stop()
  }
}
