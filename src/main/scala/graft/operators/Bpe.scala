package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Fixtures.table

/** t50: BPE tokenizer-vocabulary induction (Sennrich et al. 2016) in the
  * shape every production tokenizer trainer actually uses (HuggingFace
  * tokenizers, sentencepiece): train on the WORD HISTOGRAM, not the raw
  * corpus.
  *
  * The 100 TB decomposition:
  *
  *   1. ONE corpus-sized aggregation builds the (word, count) histogram —
  *      map-side partial aggregation compacts each partition to its
  *      distinct words before the exchange, so the shuffle is
  *      vocab-bounded, not corpus-bounded.
  *   2. The merge loop runs DRIVER-SIDE on the collected histogram — a
  *      deliberate, bounded collect (the IvfAnn-codebook discipline):
  *      real web corpora have ~10⁷ distinct words, which is exactly what
  *      HF/sentencepiece hold in RAM to train; the corpus is never
  *      touched again, however many merge iterations run.
  *   3. Scoring joins the corpus against the broadcast (word → pieces)
  *      map and rolls up per document — the second and last corpus-sized
  *      aggregation.
  *
  * Determinism (the cross-engine contract): pair counts are exact longs;
  * each iteration picks the (count DESC, pair ASC) argmax with full
  * recount — a pure function of the histogram, so the trained merge
  * table is identical on every engine/partitioning/retry, and the oracle
  * inlines the resulting word→pieces map as literals (the IVF
  * centroid-literal precedent).
  *
  * Pair counting uses the standard all-adjacent-positions rule ("aaa"
  * yields (a,a) twice), matching the reference BPE implementations.
  */
object Bpe {

  /** Number of merge operations trained for the graded t50 query. */
  val NumMerges = 16

  /** End-of-word marker appended to every symbol sequence (Sennrich's
    * `</w>` — lets merges distinguish suffixes from infixes).
    */
  val EndMark = "</w>"

  /** One corpus scan → (word, count), deterministically ordered. */
  private def wordHistogram(docs: DataFrame): Seq[(String, Long)] =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq

  /** Train `k` merges on a word histogram. Returns the ranked merge
    * table: (rank, left, right, support-at-merge-time).
    */
  private[graft] def trainMerges(
      hist: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
    var words: Seq[(Vector[String], Long)] =
      hist.map { case (w, c) => (w.map(_.toString).toVector :+ EndMark, c) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), n) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((rank, l, r, n))
        words = words.map { case (syms, c) => (mergeOnce(syms, l, r), c) }
        rank += 1
      }
    }
    out.result()
  }

  /** Left-to-right single-pass application of one merge to a symbol
    * sequence (the standard greedy rule).
    */
  private def mergeOnce(syms: Vector[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Segment one word under a ranked merge list: apply each merge in
    * rank order (the standard apply-time rule), return the pieces.
    */
  private[graft] def pieces(
      word: String, merges: Seq[(Int, String, String, Long)]): Vector[String] = {
    var syms = word.map(_.toString).toVector :+ EndMark
    merges.sortBy(_._1).foreach { case (_, l, r, _) => syms = mergeOnce(syms, l, r) }
    syms
  }

  private[graft] def pieceCount(
      word: String, merges: Seq[(Int, String, String, Long)]): Int =
    pieces(word, merges).length

  /** The trained per-word segmentation for `dir`'s corpus — histogram,
    * merges, pieces — all deterministic. Memoized per (dir, k) so the
    * graded queries and their Verify-time oracle generators share one
    * training pass (the IndexStore convention).
    */
  private val trained = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(String, Vector[String])]]()

  private[graft] def wordSegmentation(
      spark: SparkSession, dir: String, k: Int = NumMerges): Seq[(String, Vector[String])] =
    trained.computeIfAbsent((dir, k), { _ =>
      val hist = wordHistogram(table(spark, dir, "documents"))
      val merges = trainMerges(hist, k)
      hist.map { case (w, _) => (w, pieces(w, merges)) }
    })

  private[graft] def wordPieces(
      spark: SparkSession, dir: String, k: Int = NumMerges): Seq[(String, Int)] =
    wordSegmentation(spark, dir, k).map { case (w, p) => (w, p.length) }

  /** The trained (w, np) word→piece-count map as a broadcastable local
    * DataFrame — the vocab-bounded apply-side artifact every BPE-fed
    * token-arithmetic operator (t50, t8b, t11b) joins against.
    */
  private[graft] def wordPiecesDf(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    wordPieces(spark, dir).toDF("w", "np")
  }

  /** The same trained map over an ARBITRARY (doc_id, text) frame — the
    * seam the cut flow uses to train on the INGESTED store at freeze
    * time ([[graft.streaming.OnlineGate.cutManifestBpe]]): a tokenizer
    * shipped with a frozen snapshot is trained on that snapshot's
    * corpus, not on a fixture directory. Unmemoized — a cut is an
    * explicit, infrequent event; the corpus-bounded histogram collect
    * and the driver merge loop are the same deliberate t50 costs.
    */
  private[graft] def wordPiecesDfOf(docs: DataFrame, k: Int = NumMerges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = wordHistogram(docs)
    val merges = trainMerges(hist, k)
    hist.map { case (w, _) => (w, pieces(w, merges).length) }.toDF("w", "np")
  }

  /** The same map as DuckDB VALUES literals (the centroid-literal
    * precedent) — shared by every oracle that replays the trained merges.
    */
  private[graft] def wordPiecesValuesSql(spark: SparkSession, dir: String): String =
    wordPieces(spark, dir, NumMerges)
      .map { case (w, n) => s"('${w.replace("'", "''")}', $n)" }
      .mkString(",\n    ")

  /** t50: per-document piece statistics under the corpus-trained BPE
    * vocabulary — (doc_id, n_words, n_pieces, pieces_per_word_e4), the
    * fertility report that sizes a token budget before packing (t11) or
    * quota selection (t37). Unseen words (none on the training corpus
    * itself) fall back to character count + 1, the untrained
    * segmentation.
    */
  def bpePieceStats(spark: SparkSession, dir: String, k: Int = NumMerges): DataFrame = {
    val wp = wordPieces(spark, dir, k)
    val spark2 = spark
    import spark2.implicits._
    val wpDf = wp.toDF("w", "np")
    table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(wpDf), Seq("w"), "left")
      .withColumn("np",
        coalesce(col("np"), length(col("w")).cast("int") + lit(1)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("np")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        Exact.e(col("n_pieces").cast("double") / col("n_words").cast("double"), 4)
          .as("pieces_per_word_e4"))
  }

  /** t52: the corpus piece HISTOGRAM under the trained vocabulary — the
    * artifact a tokenizer ships (vocab entries with their corpus
    * frequencies, the table that drives embedding-matrix sizing and
    * rare-piece pruning). One corpus scan: explode words, join the
    * broadcast word→(piece, pos) table (vocab-bounded — every word's
    * segmentation, flattened), explode pieces, and roll up per piece
    * with map-side combine; the reduce side is |pieces|-bounded.
    * Output: (piece, n_words, n_docs, n_occurrences) — distinct words
    * using the piece, documents containing it, and total occurrences.
    */
  def bpeVocabHistogram(spark: SparkSession, dir: String, k: Int = NumMerges): DataFrame = {
    val seg = wordSegmentation(spark, dir, k)
    val spark2 = spark
    import spark2.implicits._
    val wp = seg.flatMap { case (w, ps) => ps.map(p => (w, p)) }.toDF("w", "piece")
    table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(wp), Seq("w"))
      .groupBy(col("piece"))
      .agg(
        countDistinct(col("w")).as("n_words"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
  }

  /** DuckDB oracle for [[bpeVocabHistogram]] — the flattened
    * word→(piece) table inlined as literals (data-dependent).
    */
  def bpeVocabHistogramOracleSql(spark: SparkSession, dir: String): String = {
    val vals = wordSegmentation(spark, dir, NumMerges)
      .flatMap { case (w, ps) =>
        ps.map(p => s"('${w.replace("'", "''")}', '${p.replace("'", "''")}')") }
      .mkString(",\n    ")
    s"""WITH wp(w, piece) AS (VALUES
       |    $vals),
       |occ AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |SELECT piece,
       |  cast(count(DISTINCT o.w) AS bigint) AS n_words,
       |  cast(count(DISTINCT o.doc_id) AS bigint) AS n_docs,
       |  cast(count(*) AS bigint) AS n_occurrences
       |FROM occ o JOIN wp ON wp.w = o.w
       |GROUP BY piece""".stripMargin
  }

  /** DuckDB oracle for [[bpePieceStats]]: the trained word→pieces map
    * inlined as literals (data-dependent, generated at Verify time — the
    * IVF centroid-literal precedent), then the per-doc rollup replayed
    * in full.
    */
  def bpePieceStatsOracleSql(spark: SparkSession, dir: String): String = {
    val vals = wordPiecesValuesSql(spark, dir)
    s"""WITH wp(w, np) AS (VALUES
       |    $vals),
       |occ AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |jo AS (
       |  SELECT o.doc_id, coalesce(wp.np, length(o.w) + 1) AS np
       |  FROM occ o LEFT JOIN wp ON wp.w = o.w)
       |SELECT doc_id,
       |  cast(count(*) AS bigint) AS n_words,
       |  cast(sum(np) AS bigint) AS n_pieces,
       |  cast(floor(cast(sum(np) AS double) / count(*) * 10000.0 + 0.5) AS bigint)
       |    AS pieces_per_word_e4
       |FROM jo GROUP BY doc_id""".stripMargin
  }
}
