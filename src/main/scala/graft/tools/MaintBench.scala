package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{ShingleIndex, TextAnalysis}
import graft.streaming.OnlineGate

/** Measures the incremental survivor maintenance
  * ([[graft.streaming.OnlineGate.updateSurvivors]]) against a full
  * [[graft.streaming.OnlineGate.cutTimeSelection]] rebuild at a corpus
  * size where the rebuild's corpus-wide dup-stats pass has real cost:
  * the sf docs replicated `k`× with per-copy token prefixes (distinct
  * shingles per copy — no artificial cross-copy duplication), ingested
  * into the shingle index as one large prefix batch plus a small tail,
  * decisions synthesized (the gate verdicts are per-doc and play no part
  * in the maintained computation — only the segment stats and the state
  * merge are under test; `StreamingSpec` pins correctness through the
  * real gate). Both paths materialize the same state parquet. Results in
  * docs/SCALING.md.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_MAINT_K=8 \
  *     SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.MaintBench"
  */
object MaintBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_MAINT_K", "8").toInt
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("maintbench").toString
    val tbl = s"maintbench_idx_${java.util.UUID.randomUUID().toString.take(8)}"
    val docs0 = graft.sources.Fixtures.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val nBase = docs0.count()
    // k copies, each with every token prefixed by a copy tag: identical
    // within-copy duplication structure, zero cross-copy shingle overlap
    val corpus = (0 until k).map { c =>
      docs0.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> concat('c$c', w)), ' ')")
          .as("text"))
    }.reduce(_ unionByName _).orderBy("doc_id").cache()
    val total = corpus.count()
    // fixed-size tail by default: the delta's cost tracks the TAIL, the
    // rebuild's the CORPUS — a proportional tail hides the crossover
    val tailN = sys.env.get("SPARK_GRAFT_MAINT_TAIL").map(_.toLong)
      .getOrElse(math.max(16L, total / 50))
    // split on a doc_id threshold (ids are monotone) — a limit+anti-join
    // split broadcasts a corpus-sized frame and OOMs past ~1M docs
    val thr = corpus.select(col("doc_id")).orderBy(col("doc_id").desc)
      .limit(tailN.toInt).agg(min(col("doc_id"))).head.getLong(0)
    val b1 = corpus.filter(col("doc_id") < thr).cache()
    val b2 = corpus.filter(col("doc_id") >= thr).cache()

    ShingleIndex.buildFor(spark, corpus.limit(0), s"$base/sh", tbl)
    def ingest(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      ShingleIndex.dedupIngestBatch(spark, b, tbl, s"$base/markers", id, s"$base/fz")
    // synthesized composite verdicts: per-doc text gates + t28 shard (the
    // real gate's per-arrival columns; correctness is StreamingSpec's job)
    def writeDecisions(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      b.select(col("doc_id"),
          TextAnalysis.nTokensCol(col("text")).as("n_tokens"),
          TextAnalysis.qualityE4Col(col("text")).as("quality_e4"),
          lit(true).as("kept"),
          (instr(lit("0123456789abcdef"),
            substring(md5(concat(col("doc_id").cast("string"), lit("|t26"))), 1, 1)) - 1)
            .cast("int").as("shard"))
        .write.mode("overwrite").parquet(s"$base/out/decisions/batch_id=$id")

    def timeMs[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1000000L)
    }
    try {
      ingest(b1, 0); writeDecisions(b1, 0)
      OnlineGate.updateSurvivors(spark, tbl, s"$base/out",
        s"$base/st", 1L, b1)
      ingest(b2, 1); writeDecisions(b2, 1)
      val (_, deltaMs) = timeMs {
        OnlineGate.updateSurvivors(spark, tbl, s"$base/out",
          s"$base/st", 2L, b2)
      }
      val (_, fullMs) = timeMs {
        OnlineGate.cutTimeSelection(spark, tbl, s"$base/out")
          .write.mode("overwrite").parquet(s"$base/full")
      }
      val fullRows = spark.read.parquet(s"$base/full").count()
      val incRows = OnlineGate.survivorsFromState(spark, s"$base/st").count()
      require(incRows == fullRows, s"delta $incRows != full $fullRows")
      val segs = ShingleIndex.segments(spark, tbl)
      val touchedIds = segs
        .join(segs.join(b2.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("h")).distinct(), Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
        .unionByName(b2.select(col("doc_id"))).distinct().cache()
      val touched = touchedIds.count()
      // the volume terms that dominate a DISTRIBUTED rebuild: posting
      // rows entering the dup-stat shuffles, and state rows written
      val postingsTotal = segs.count()
      val postingsTouched =
        segs.join(touchedIds, Seq("doc_id"), "left_semi").count()
      val deltaWritten = spark.read.parquet(s"$base/st/log/v=2").count()
      println(s"""{"metric":"survivor_maint","sf_dir":"$dir","k":$k,""" +
        s""""base_docs":$nBase,"docs":$total,"tail_batch":$tailN,""" +
        s""""touched_docs":$touched,"survivors":$fullRows,""" +
        s""""postings_total":$postingsTotal,"postings_touched":$postingsTouched,""" +
        s""""rows_written_delta":$deltaWritten,"rows_written_full":$fullRows,""" +
        s""""delta_ms":$deltaMs,"full_recompute_ms":$fullMs}""")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.tombstonesTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.bandsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS ${ShingleIndex.sigsTable(tbl)}")
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.stop()
    }
  }
}
