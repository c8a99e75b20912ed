package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star rounds
  * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"),
  * the engine's one connected-components algorithm: d8's near-duplicate
  * clusters ([[Dedup.clustersFromPairs]]) and g9's co-purchase components
  * both run on it. Each large-star round hangs every node's larger
  * neighbors directly off its local minimum and each small-star round
  * re-points the smaller ones, so distances to the component root fall
  * geometrically — O(log n) rounds even on a CHAIN, and a near-duplicate
  * graph (diameter 2-3) converges in a round or two after the union-find
  * prologue.
  *
  * Scale shape per round: two groupBy(min) aggregations (map-side
  * partial-combined) and ONE terminal distinct over an edge set that only
  * ever SHRINKS toward one star edge per non-root node — no corpus joins,
  * no windows, no driver-side adjacency. Convergence costs one
  * map-side-combined checksum aggregate per round — fused into the same
  * job that materializes the round via a LAZY localCheckpoint — plus a
  * single exact set-difference confirm at the detected fixpoint. Every
  * stage is named `connected components …` (input, round k, confirm,
  * labels), so a profile shows how many rounds a query took.
  */
object GraphOps {

  /** Label every vertex of the undirected graph `edgesIn` (columns `a`,
    * `b`; orientation, duplicates, and self-loops are all tolerated) with
    * its component's minimum vertex id. Output: `(id, component)`.
    */
  def connectedComponents(edgesIn: DataFrame, maxIter: Int = 50): DataFrame = {
    val sess = edgesIn.sparkSession
    import sess.implicits._
    // every job (and, under AQE, the shuffle map stages a localCheckpoint
    // runs when it builds its RDD) is named for the step that starts it
    def job[T](name: String)(body: => T): T =
      graft.SparkJobs.named(sess, s"connected components $name")(body)
    // LAZY localCheckpoint: the union-find prologue and the vertex table
    // both read the edges, and every caller passes a derived edge set
    // (co-purchase or Jaccard pairs) whose pipeline would otherwise run
    // twice — the second time at the terminal label join. The first
    // round's job fills the cut; the label job reads it back.
    val edges = job("input")(edgesIn.select(col("a"), col("b")).localCheckpoint(eager = false))
    // canonical large→small orientation; self-loops carry no connectivity
    val canon = edges
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

    // Partition-local union-find pre-contraction (the standard production
    // prologue to the star rounds): each task runs union-find over ITS
    // partition's edges and emits one (node → partition-local min root)
    // star edge per non-root node. Connectivity is exactly preserved —
    // every input edge (a,b) maps to a,b sharing a local root — while
    // (1) the edge set shrinks to ≤ one edge per distinct node in the
    // partition, and (2) every partition-local chain collapses to depth 1
    // BEFORE the first global round, so the O(log n) rounds only pay for
    // structure that spans partitions. Per-task memory is one long↦long
    // map over the partition's nodes — the same footprint a shuffle
    // hash-aggregate over that partition would need; partition count, not
    // corpus size, bounds it. This is the one deliberate mapPartitions in
    // the graph family: union-find is genuinely per-partition imperative.
    val contracted = canon
      .select(col("a").cast("long"), col("b").cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // materialize roots first: find() path-compresses during iteration
        val nodes = parent.keys.toArray
        nodes.iterator.map(n => (n, find(n))).filter(p => p._1 != p._2)
      }
      .toDF("a", "b")

    // vertices from the input edges — star rounds rewrite edges, and a
    // root's own row disappears from the `a` side at the fixpoint
    val verts = edges.select(explode(array(col("a"), col("b"))).as("id")).distinct()

    // large-star: every node u hangs its LARGER neighbors off
    // m(u) = min(N(u) ∪ {u}); m ≤ u < v keeps the orientation canonical.
    // The terminal distinct stays: dropping it (small-star's aggregates
    // are duplicate-tolerant) was A/B-measured in round 14 and did NOT
    // win — the inflated small-star join input costs what the saved
    // shuffle buys back.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("mn"), col("a")).as("m"))
      sym.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }

    // small-star: every node u re-points its SMALLER neighbors (and
    // itself) at m(u); on oriented edges the smaller side is just `b`
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("a")).agg(min(col("b")).as("m"))
      e.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .unionAll(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // localCheckpoint, NOT cache: a star round's plan references
    // the previous round's edges several times (both orientations + the
    // min table + both join sides), so lineage grows EXPONENTIALLY per
    // round — by iteration ~8 merely formatting the plan OOMs the JVM.
    // Checkpointing truncates the logical plan to the materialized
    // blocks each round; on a real cluster prefer reliable checkpoint()
    // so a lost executor can't kill a 45-round run.
    //
    // Convergence probe: ONE map-side-combined aggregate per round
    // (count + two independent bit_xor'd xxhash64 digests — xor cannot
    // overflow under ANSI arithmetic) instead of a count job plus an
    // exceptAll set-difference shuffle every round. Matching checksums
    // on two distinct sets is strong evidence, not a proof, so the
    // first match still pays one exact exceptAll confirm — but that now
    // happens once at the fixpoint, not per round; equal sets always
    // have equal checksums, so convergence is never missed, and a
    // spurious collision merely costs one extra exact check.
    def probe(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        expr("bit_xor(xxhash64(a, b))"),
        expr("bit_xor(xxhash64(b, a, 77))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // LAZY local checkpoint: still truncates the logical plan (the
    // eager/exponential-lineage rationale above), but defers the round's
    // final stage to the probe's aggregate — so the checkpoint costs no
    // job of its own (AQE still runs the round's shuffle map stages when
    // localCheckpoint builds the RDD). Measured round 14 at sf0.1: the
    // per-round fixed stage overhead is the dominant cost, so halving
    // jobs-per-round beats halving probe frequency (probing every 2nd
    // round was tried and LOST — the extra star rounds past the fixpoint
    // cost more than the 1-stage probes they save).
    def round(k: Int, e: DataFrame): (DataFrame, (Long, Long, Long)) =
      job(s"round $k") {
        val cut = e.localCheckpoint(eager = false)
        (cut, probe(cut))
      }
    var (cur, curSig) = round(0, contracted)
    var converged = curSig._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val (next, nextSig) = round(iter + 1, smallStar(largeStar(cur)))
      // both sides are distinct sets: equal checksums gate the one
      // exact equality check (equal size + empty difference ⇒ equal)
      converged = nextSig == curSig &&
        job("confirm")(next.exceptAll(cur).limit(1).count()) == 0L
      cur = next
      curSig = nextSig
      iter += 1
    }
    require(converged, s"star rounds did not converge in $maxIter iterations")
    // fixpoint: every non-root points straight at its root; roots appear
    // only on the `b` side, so they label themselves
    job("labels") {
      verts.join(cur, verts("id") === cur("a"), "left")
        .groupBy(col("id"))
        .agg(min(coalesce(col("b"), col("id"))).as("component"))
        .localCheckpoint()
    }
  }

  /** g9: components of the recurring-co-purchase part graph (g7's edge
    * set) — "which parts sell together, transitively". Long thin
    * chains through popular parts are precisely the star algorithm's
    * home turf; the oracle replays it as a recursive reachability CTE.
    */
  def partComponents(
      spark: SparkSession, dir: String,
      minSupport: Long = RelationalOps.TriangleSupport): DataFrame =
    connectedComponents(
      RelationalOps.coPurchaseEdges(spark, dir, minSupport)
        .select(col("pa").as("a"), col("pb").as("b")))
      .select(col("id").as("p_partkey"), col("component"))

  def partComponentsOracleSql: String =
    s"""WITH RECURSIVE lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (
       |  SELECT x.l_partkey AS pa, y.l_partkey AS pb
       |  FROM lp x JOIN lp y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= ${RelationalOps.TriangleSupport}),
       |sym AS (
       |  SELECT pa AS a, pb AS b FROM e
       |  UNION SELECT pb AS a, pa AS b FROM e),
       |reach AS (
       |  SELECT a AS id, a AS r FROM sym
       |  UNION
       |  SELECT s.a AS id, r.r FROM sym s JOIN reach r ON r.id = s.b)
       |SELECT id AS p_partkey, cast(min(r) AS bigint) AS component
       |FROM reach GROUP BY id""".stripMargin
}
