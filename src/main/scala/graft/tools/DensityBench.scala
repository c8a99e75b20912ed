package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Measures the dedup families' duplicate-DENSITY scaling — the one
  * super-linear term the doc-frequency / band-bucket caps exist to bound.
  * `ScaleOpsSpec`'s density-stress test asserts the bound binds; this main
  * records the sf0.1 NUMBERS for `docs/SCALING.md` (same graded bench
  * session, min-of-2 per pass).
  *
  * Corpora, all derived from the sf dir's documents via the same planting
  * shape as the spec:
  *   - base:  the corpus unmodified
  *   - dense: 10% of docs cloned 3x each (sub-cap groups — the "10x the
  *     clone rate" ramp)
  *   - ultra: 1% of docs cloned 200x each (group size 201 > cap 128 —
  *     the boilerplate-page pathology the caps decapitate)
  *
  * For each corpus x {d3, d4, d11} x {inline, index-fed}: wall seconds
  * capped, plus the candidate-pair exchange volumes capped AND uncapped.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.DensityBench
  */
object DensityBench {
  def main(args: Array[String]): Unit = {
    val dir = graft.Bench.sfDir(sys.env.get("SPARK_GRAFT_SF_DIR"))
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{Dedup, ShingleIndex}

    val docs = graft.sources.Fixtures.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint()
    def planted(modulo: Int, copies: Int, base: Long): DataFrame =
      docs.unionByName(
        docs.filter(col("doc_id") % modulo === 0)
          .crossJoin(spark.range(copies).toDF("j"))
          .select((lit(base) + col("doc_id") * 1000 + col("j")).as("doc_id"),
            col("text")))
        .localCheckpoint()
    val corpora = Seq(
      "base" -> docs,
      "dense_10pct_x3" -> planted(10, 3, 20000000L),
      "ultra_1pct_x200" -> planted(100, 200, 10000000L))

    def minOf2(f: => Unit): Double =
      (0 until 2).map { _ =>
        val t0 = System.nanoTime(); f
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); t
      }.min

    val out = new StringBuilder("{")
    corpora.zipWithIndex.foreach { case ((cname, c), ci) =>
      val nDocs = c.count()
      val vCap = Dedup.postingPairVolume(c, Dedup.DefaultMaxDocFreq)
      val vRaw = Dedup.postingPairVolume(c, Int.MaxValue)
      val bCap = Dedup.bandPairVolume(c, Dedup.MaxBandBucket)
      val bRaw = Dedup.bandPairVolume(c, Int.MaxValue)
      val inline = Seq(
        "d3" -> minOf2(Dedup.jaccardPairsOf(c).count()),
        "d4" -> minOf2(Dedup.minhashLshPairsOf(c).count()),
        "d11" -> minOf2(Dedup.containmentPairsOf(c).count()))
      val tbl = s"density_bench_idx_$ci"
      val iroot = java.nio.file.Files.createTempDirectory(s"density-$ci").toString
      ShingleIndex.buildFor(spark, c, s"$iroot/sh", tbl)
      val fed = Seq(
        "d3i" -> minOf2(ShingleIndex.ngramJaccardPairs(spark, tbl).count()),
        "d4i" -> minOf2(ShingleIndex.minhashLshPairs(spark, tbl).count()),
        "d11i" -> minOf2(ShingleIndex.containmentPairs(spark, tbl).count()))
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.bandsTable(tbl)}")
      val times = (inline ++ fed)
        .map { case (q, s) => s""""$q":${f"$s%.3f"}""" }.mkString(",")
      if (ci > 0) out.append(",")
      out.append(
        s""""$cname":{"n_docs":$nDocs,"posting_vol_capped":$vCap,""" +
        s""""posting_vol_uncapped":$vRaw,"band_vol_capped":$bCap,""" +
        s""""band_vol_uncapped":$bRaw,"sec":{$times}}""")
    }
    // ---- hot-hash flood (round 13): ONE 16-token window (the cookie-
    // banner shape) at 10⁴–4·10⁵ occurrences — the skew surface of the
    // d10/d12 cross-doc frequency. d10's count-aggregate+join-back and
    // d12's count window are both measured; ScaleOpsSpec asserts the
    // linearity invariants in CI at 10⁴.
    val banner = (1 to 16).map(i => s"bnr$i").mkString(" ")
    def flooded(m: Int): DataFrame = docs.unionByName(
      spark.range(m).select(
        (lit(30000000L) + col("id")).as("doc_id"),
        org.apache.spark.sql.functions.concat(
          lit(banner + " x"), col("id").cast("string"),
          lit(" y"), col("id").cast("string")).as("text")))
      .localCheckpoint()
    val flood = new StringBuilder(""","hot_hash_flood":{""")
    Seq(0, 10000, 100000, 400000).zipWithIndex.foreach { case (m, i) =>
      val c = if (m == 0) docs else flooded(m)
      val t10 = minOf2(Dedup.duplicatedSegmentsOf(c).count())
      val t12 = minOf2(Dedup.substringSpansOf(c).count())
      if (i > 0) flood.append(",")
      flood.append(s""""m_$m":{"d10":${f"$t10%.3f"},"d12":${f"$t12%.3f"}}""")
    }
    flood.append("}")
    out.append(flood.result())
    out.append("}")
    println(out.result())
    spark.stop()
  }
}
