package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Lazy, per-process registry of the materialized indexes the `*i` graded
  * queries read ([[ShingleIndex]] for the dedup family, [[VectorIndex]]
  * for the IVF probe path).
  *
  * The graded harness calls each query as an independent
  * `(SparkSession, sfDir) => DataFrame` with no setup hook, so the first
  * index-fed query of a process triggers the build and every later one
  * (including the same query's second bench run) reuses it — exactly the
  * build-once/read-many amortization the indexes exist to demonstrate.
  * Memoization is per JVM: a fresh process rebuilds from the current
  * corpus, so no run can read an index left by older data.
  *
  * Builds land under the process temp dir, never inside the corpus
  * directory (the test data is read-only).
  */
object IndexStore {

  private val built = new ConcurrentHashMap[String, String]()

  private def slug(dir: String): String = {
    // readable prefix + hash of the RAW dir: slug alone collides
    // ('/data/sf0.1' vs '/data/sf0_1' both normalize to data_sf0_1) and a
    // collision would silently point one corpus's queries at the other's
    // index files while the memo map keeps both entries alive
    val readable = dir.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("^_+|_+$", "")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"${readable}_$h"
  }

  private def root(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-index/${slug(dir)}"

  /** The shingle/segment index table for `dir`, building it on first use
    * (graded fixture planting ON — the readers reconstruct each query's
    * exact input, see [[ShingleIndex.shingles]]).
    */
  def shingleTable(spark: SparkSession, dir: String): String =
    built.computeIfAbsent(s"shingle:$dir", { _ =>
      val tbl = s"graft_shingle_idx_${slug(dir)}"
      ShingleIndex.build(spark, dir, s"${root(dir)}/shingle", tbl)
      dirOfTable.put(tbl, dir)
      tbl
    })

  /** Reverse map: managed index table → its corpus dir, so a mutation of
    * the table can find and drop the derived-artifact memo entries keyed
    * by the dir ([[onIndexMutation]]).
    */
  private val dirOfTable = new ConcurrentHashMap[String, String]()

  /** Invalidation hook, called by every content-changing [[ShingleIndex]]
    * mutation (delete/vacuum/append — compact is a pure rewrite and skips
    * it) with the mutated table's name: the
    * persisted cluster labels were derived from the PRE-mutation postings,
    * so their memo entry is dropped and the next reader re-derives (and
    * overwrites) the label frame. No-op for tables this store does not
    * manage — external index owners handle their own derived state.
    */
  def onIndexMutation(tableName: String): Unit = {
    val dir = dirOfTable.get(tableName)
    if (dir != null) built.remove(s"clusters:$dir")
  }

  /** The persisted bigram-LM model path for `dir`, training it on first
    * use (the CCNet shape: one reference model, many scoring passes).
    */
  def lmModelPath(spark: SparkSession, dir: String): String =
    built.computeIfAbsent(s"lm:$dir", { _ =>
      val path = s"${root(dir)}/lm"
      LmScore.buildModel(spark, dir, path)
      path
    })

  /** The persisted Naive-Bayes language-model path for `dir`, training it
    * on first use (the CCNet langid shape: one classifier, many crawls).
    */
  def nbModelPath(spark: SparkSession, dir: String): String =
    built.computeIfAbsent(s"nb:$dir", { _ =>
      val path = s"${root(dir)}/nb"
      LmScore.buildNbModel(spark, dir, path)
      path
    })

  /** The persisted binary quality-classifier path for `dir`, training it
    * on first use (the GPT-3 shape: one classifier, every crawl scored).
    */
  def qualityModelPath(spark: SparkSession, dir: String): String =
    built.computeIfAbsent(s"qclf:$dir", { _ =>
      val path = s"${root(dir)}/qclf"
      LmScore.buildQualityModel(spark, dir, path)
      path
    })

  /** The persisted DSIR feature-table path for `dir`, estimating it on
    * first use (frozen target/raw distributions, many weighting passes).
    */
  def dsirPath(spark: SparkSession, dir: String): String =
    built.computeIfAbsent(s"dsir:$dir", { _ =>
      val path = s"${root(dir)}/dsir"
      LmScore.buildDsirFeatures(spark, dir, path)
      path
    })

  /** The persisted near-dup cluster assignment for `dir`, computed on
    * first use from the shingle index — the connected-components rounds
    * run ONCE per (process, corpus) and downstream consumers (the d13
    * keeper selection, d17, t59) join against the stored
    * (doc_id, cluster_id) frame instead of re-converging per query. The
    * assignment is tiny (near-dup-sized), so this is a cheap read on
    * every reuse.
    */
  def clusterPath(spark: SparkSession, dir: String): String = {
    // resolve the shingle table BEFORE entering computeIfAbsent: a nested
    // computeIfAbsent on the same map from inside the mapping function is
    // a documented-contract violation (recursive update — throws or
    // livelocks when the two keys land in one bin)
    val tbl = shingleTable(spark, dir)
    built.computeIfAbsent(s"clusters:$dir", { _ =>
      val path = s"${root(dir)}/clusters"
      ShingleIndex.duplicateClusters(spark, tbl)
        .write.mode("overwrite").parquet(path)
      path
    })
  }

  /** Evict memo entries for superseded snapshots of the same dir BEFORE
    * entering computeIfAbsent — the CHM contract forbids touching other
    * mappings from inside a mapping function, and a long-lived driver
    * regenerating data must not accumulate stale entries (the
    * codebook-cache discipline, [[PqAnn]]).
    */
  private def evictStaleSnapshots(prefix: String, key: String): Unit = {
    val it = built.keySet.iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k != key && k.startsWith(prefix)) it.remove()
    }
  }

  /** The persisted IVF index path for `dir`, building it on first use.
    *
    * Keyed on the embeddings SNAPSHOT (dir + mtime,
    * [[IvfAnn.snapshotKey]]), with the snapshot stamp in the on-disk
    * path: a regenerated embeddings table at the same dir rebuilds the
    * index instead of silently serving stale geometry — and because the
    * PATH changes per snapshot, the path-keyed [[centroidsFx]] memo is
    * coherent for free (a rebuild at the SAME path would have kept
    * serving the old centroids out of that cache). This keeps the
    * persisted probe paths (v7i/v27i) bit-equal to their inline twins,
    * whose codebook/centroid caches are snapshot-keyed the same way.
    */
  def vectorPath(spark: SparkSession, dir: String): String = {
    val snap = IvfAnn.snapshotKey(dir)
    val key = s"ivf:$snap"
    evictStaleSnapshots(s"ivf:$dir@", key)
    built.computeIfAbsent(key, { _ =>
      val path = s"${root(dir)}/ivf-${snap.split('@').last}"
      VectorIndex.build(spark, dir, path)
      path
    })
  }

  /** The IVF index with its residual-PQ artifact materialized
    * ([[VectorIndex.pqBuild]]) — the v27i probe path. Builds on first
    * use on top of [[vectorPath]] (hoisted OUTSIDE the mapping function,
    * the r15 recursive-computeIfAbsent rule). Snapshot-keyed like
    * [[vectorPath]]: if the embeddings change within a session, the
    * inline v27 retrains its codebooks ([[PqAnn.resCodebooksFor]] is
    * snapshot-keyed), so the persisted codes/codebooks must be rebuilt
    * too or the 'bit-equal to inline v27' contract silently breaks.
    */
  def vectorPqPath(spark: SparkSession, dir: String): String = {
    val base = vectorPath(spark, dir)
    val key = s"ivfpq:${IvfAnn.snapshotKey(dir)}"
    evictStaleSnapshots(s"ivfpq:$dir@", key)
    built.computeIfAbsent(key, { _ =>
      VectorIndex.pqBuild(spark, dir, base)
      base
    })
  }

  private val centroids = new ConcurrentHashMap[String, Array[Array[Long]]]()

  /** The stored centroids for an IndexStore-managed IVF index, loaded once
    * per process: the geometry is immutable between rebuilds and IndexStore
    * builds exactly once per (process, corpus), so every probe after the
    * first skips the centroids/ parquet read — one of the fixed per-query
    * costs that dominate the persisted path at toy scale (the benched v7i
    * crossover; see README). NOT safe for externally-managed index paths,
    * which can be rebuilt under a live process.
    */
  def centroidsFx(spark: SparkSession, path: String): Array[Array[Long]] =
    centroids.computeIfAbsent(path, VectorIndex.centroidsFx(spark, _))
}
