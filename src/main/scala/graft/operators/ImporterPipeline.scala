package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's hand-coded ETL pipeline (SURVEY.md §3.1) re-expressed as
  * pure `DataFrame => DataFrame` stages. Each stage is one row of the
  * SURVEY.md §2 operator inventory, individually testable and exposed via
  * `SparkEntry.queries`.
  *
  * Scale notes (the 100 TB design stance):
  *   - Every stage is fully declarative — Catalyst pushes the validation
  *     filters below the joins and prunes columns down to the parquet scan.
  *   - `code_lists` is tiny at any scale factor → always a broadcast hash
  *     join (J1/J3); no shuffle of the big dimensions side.
  *   - The only shuffles are the dedup (A3) and the per-instance
  *     aggregations (A1/A5/S9), all keyed on `instance_id`-derived keys —
  *     the same partitioning, so AQE can reuse the exchange.
  *   - Nothing collects to the driver; all sinks are DataFrames.
  *   - Streaming (`ImporterStream`): the dims → updates chain is derived
  *     once per query and each micro-batch semi-joins it to its new
  *     instances, so a batch no longer scans the dimensions source; its
  *     tens of output rows are collected and written from the driver.
  */
object ImporterPipeline {

  // ---- P3: event validation predicate -----------------------------------
  // Reference handler/incoming_instance_handler.go:100-111 — reject events
  // with an empty instance_id.
  def validEvents(events: DataFrame): DataFrame =
    events.filter(length(col("instance_id")) > 0)

  // ---- S12: dead-letter side output -------------------------------------
  // Reference message/kafka_message_receiver.go:44-50 — on validation
  // failure, emit an error-report record instead of dropping silently.
  def deadLetters(events: DataFrame): DataFrame =
    events
      .filter(length(col("instance_id")) === 0)
      .select(
        col("file_url"),
        col("instance_id"),
        lit("unable to process message").as("err_context"),
        lit("validation error: instance_id is empty").as("error"))

  // ---- J2: idempotency anti-join ----------------------------------------
  // Reference handler/incoming_instance_handler.go:72-78, 305-320 — skip
  // events whose instance already exists in the graph. Left-anti join,
  // then distinct to collapse duplicate deliveries (at-least-once input).
  def newInstanceEvents(validEvents: DataFrame, existing: DataFrame): DataFrame =
    validEvents
      .join(existing, Seq("instance_id"), "left_anti")
      .select(col("file_url"), col("instance_id"))
      .distinct()

  // ---- P1: API→DB dimension projection ----------------------------------
  // Reference model/models.go:20-34 — flatten the nested links.code_list.id
  // into code_list_id, drop everything else.
  def projectDimensions(apiDims: DataFrame): DataFrame =
    apiDims.select(
      col("instance_id"),
      col("dimension_id"),
      col("option"),
      col("node_id"),
      col("links.code_list.id").as("code_list_id"))

  // ---- P2: API→DB instance projection -----------------------------------
  // Reference model/models.go:77-87 — instance_id + csv_header array.
  def projectInstances(instances: DataFrame): DataFrame =
    instances.select(
      col("instance_id"),
      size(col("csv_header")).as("header_len"),
      array_join(col("csv_header"), ",").as("header_csv"))

  // ---- P6: dimension row validation -------------------------------------
  // Reference model/models.go:55-69 — per-branch error messages preserved
  // as a validation_error column; invalid rows only.
  def invalidDimensions(dims: DataFrame): DataFrame =
    dims
      .select(
        col("instance_id"), col("dimension_id"), col("option"),
        when(col("dimension_id") === "" && col("option") === "",
          lit("dimension invalid: empty dimension_id and option"))
          .when(col("dimension_id") === "", lit("dimension id is required but was empty"))
          .when(col("option") === "", lit("dimension value is required but was empty"))
          .otherwise(lit(null))
          .as("validation_error"))
      .filter(col("validation_error").isNotNull)

  // ---- P4/P6 keep-side: valid dimensions --------------------------------
  def validDimensions(dims: DataFrame): DataFrame =
    dims.filter(col("dimension_id") =!= "" && col("option") =!= "")

  // ---- P9: dimension-name extraction (scalar string fn) -----------------
  // Reference model/models.go:47-52 — GetName strips "_{instanceID}_" from
  // "_" + dimension_id via Go strings.Replace(s, old, "", 2): at most TWO
  // occurrences, scanned left-to-right, and after a removal the scan
  // resumes AT the seam — it never revisits text before it. That last
  // property matters: on "__a_a_" with old "_a_", resume-at-seam yields
  // "_a_" while a naive second remove-first-from-start would yield "" (the
  // removal can create a new occurrence STARTING before the seam, which Go
  // never sees). [[removeFirstSql]] therefore recurses on the tail after
  // the seam only. Identical SQL text runs on Spark and DuckDB
  // (instr/substring/length/concat/CASE are common), so the oracle replays
  // it exactly; `FunctionsSpec` property-checks it against a JVM port of
  // the Go scan on adversarial 3+-occurrence ids.

  /** SQL for removing the first occurrence of `old` in `s` (both SQL
    * expression strings), leaving anything before/after intact.
    */
  private def removeFirstSql(s: String, old: String): String =
    s"""CASE WHEN instr($s, $old) = 0 THEN $s ELSE concat(
       |  substring($s, 1, instr($s, $old) - 1),
       |  substring($s, instr($s, $old) + length($old), length($s))) END""".stripMargin

  /** SQL for Go's `strings.Replace(s, old, "", 2)` — remove the first
    * occurrence, then the first occurrence in the tail after the seam.
    */
  def getNameSql(s: String, old: String): String = {
    val tail = s"substring($s, instr($s, $old) + length($old), length($s))"
    s"""CASE WHEN instr($s, $old) = 0 THEN $s ELSE concat(
       |  substring($s, 1, instr($s, $old) - 1),
       |  ${removeFirstSql(tail, old)}) END""".stripMargin
  }

  def nameCol =
    expr(getNameSql("concat('_', dimension_id)", "concat('_', instance_id, '_')"))

  def dimensionNames(dims: DataFrame): DataFrame =
    dims.select(col("dimension_id"), nameCol.as("name")).distinct()

  // ---- A3: dedup (replaces the reference's mutex-guarded insert cache) --
  // Reference store/store.go:20 + handler :141-142 — once per distinct
  // option instead of shared mutable state.
  def dedupOptions(validDims: DataFrame): DataFrame =
    validDims.dropDuplicates("instance_id", "dimension_id", "option", "node_id", "code_list_id")

  // ---- A1: group codes per code list ------------------------------------
  // Reference handler/incoming_instance_handler.go:219-223 — map[codeList]
  // []code; here as a hash aggregation with a sorted, hash-stable digest.
  def codesByList(dedup: DataFrame): DataFrame =
    dedup
      .groupBy(col("code_list_id"))
      .agg(
        count(lit(1)).as("n_options"),
        array_join(array_sort(collect_set(col("option"))), ",").as("options_csv"))

  // ---- J1: order lookup join --------------------------------------------
  // Reference store/store.go:21 + handler :226-250 — left-outer broadcast
  // join against the (small) code lists; null ord is meaningful.
  def withOrder(dedup: DataFrame, codeLists: DataFrame): DataFrame =
    dedup.join(
      broadcast(codeLists),
      dedup("code_list_id") === codeLists("code_list_id") &&
        dedup("option") === codeLists("code"),
      "left_outer")
      .select(
        dedup("instance_id"), dedup("dimension_id"), dedup("option"),
        dedup("node_id"), dedup("code_list_id"), codeLists("ord"))

  // ---- P8: no-op update filter + EnablePatchNodeID gate -----------------
  // Reference handler/incoming_instance_handler.go:243-267.
  def optionUpdates(withOrd: DataFrame, enablePatchNodeId: Boolean): DataFrame =
    withOrd
      .withColumn(
        "node_id",
        if (enablePatchNodeId) col("node_id") else lit(""))
      .withColumn("name", nameCol)
      .filter(col("node_id") =!= "" || col("ord").isNotNull)
      .select(col("instance_id"), col("name"), col("option"), col("node_id"), col("ord"))

  /** Iterations of [[codePageRank]]; the DuckDB oracle unrolls the same
    * count, so the two plans cannot drift.
    */
  val PageRankIterations = 3

  /** Integer-arithmetic PageRank over the undirected option↔code graph —
    * graph-analytics depth past degrees (s7) and components (d8). Ranks
    * are e9-scaled integers and every update is integer division
    * (`r div outdeg`, `(85·c) div 100`), so [[PageRankIterations]] rounds
    * are a pure integer fixpoint both engines replay bit-for-bit — no
    * float drift, no convergence nondeterminism.
    *
    * The rounds are UNROLLED into one lazy DAG (the pr0→prN chain the
    * DuckDB oracle uses): zero driver-side actions — even the node count
    * is a 1-row broadcast frame — so the whole computation is a single
    * Spark job, and exchange reuse dedupes the edge/degree shuffles across
    * rounds. The edge list enters that DAG through one LAZY
    * `localCheckpoint`, named `pagerank edges`: every round references the
    * edges, and without the cut the logical plan re-inlined the whole
    * codeEdges/dedup subtree into each branch — Catalyst analysis alone
    * cost ~1.0 s of g5's 3.0 s at sf0.1 (r17 QueryProfile: plan=1.00 s →
    * 0.07 s after). Under AQE the cut runs its plan's shuffle map stages
    * at the call, so the name is in force there.
    */
  def codePageRank(dedup: DataFrame, codeLists: DataFrame): DataFrame = {
    val e0 = graft.SparkJobs.named(dedup.sparkSession, "pagerank edges")(
      codeEdges(dedup, codeLists).select(col("src"), col("dst")).localCheckpoint(false))
    val edges = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    // every node of the symmetric edge set is the src of some edge
    val nodes = outdeg.select(col("src").as("node"))
    // each edge carries its source's out-degree; the rounds join only ranks
    val weighted = edges.join(outdeg, "src")
    // rank constants as a 1-row broadcast frame instead of a driver count():
    // keeps the whole computation one job with no eager materialization
    val consts = nodes.agg(
      expr("1000000000L div greatest(1L, count(1))").as("init"),
      expr("(15 * (1000000000L div greatest(1L, count(1)))) div 100").as("base"))
    var ranks = nodes.crossJoin(broadcast(consts))
      .select(col("node"), col("init").as("r"))
    for (_ <- 1 to PageRankIterations) {
      val contrib = weighted
        .join(ranks, weighted("src") === ranks("node"))
        .select(col("dst"), expr("r div od").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .crossJoin(broadcast(consts))
        .select(
          col("node"),
          (col("base") + expr("(85 * coalesce(csum, 0L)) div 100")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_e9"))
  }

  // ---- P7 + J3: time-exclusion filter + edge-construction join ----------
  // Reference handler/incoming_instance_handler.go:294-302 — no code
  // relationship for the "time" dimension ("temp hack"); inner broadcast
  // join resolves the code node.
  def codeEdges(dedup: DataFrame, codeLists: DataFrame): DataFrame =
    dedup
      .withColumn("name", nameCol)
      .filter(col("name") =!= "time")
      .join(
        broadcast(codeLists),
        dedup("code_list_id") === codeLists("code_list_id") &&
          dedup("option") === codeLists("code"),
        "inner")
      .select(
        concat(lit("option/"), dedup("dimension_id"), lit("/"), dedup("option")).as("src"),
        concat(lit("code/"), dedup("code_list_id"), lit("/"), codeLists("code")).as("dst"),
        lit("usedBy").as("rel_type"))

  // ---- S5/S6: graph node sink (instance + option nodes) -----------------
  // Reference store/store.go:16,20 — bulk DataFrame append instead of
  // point inserts; props flattened to a string for cross-engine comparison.
  def graphNodes(projectedInstances: DataFrame, dedup: DataFrame): DataFrame = {
    val instanceNodes = projectedInstances.select(
      concat(lit("instance/"), col("instance_id")).as("id"),
      lit("Instance").as("label"),
      col("header_csv").as("props"))
    val optionNodes = dedup.select(
      concat(lit("option/"), col("dimension_id"), lit("/"), col("option")).as("id"),
      lit("DimensionOption").as("label"),
      col("node_id").as("props"))
    instanceNodes.unionAll(optionNodes)
  }

  // ---- S8/A5: bulk-attach dimensions to instance ------------------------
  // Reference store/store.go:17 + model/models.go:90-92 — per-instance
  // dimension array via collect_list; digest kept sorted for stability.
  // Skew note for the 100 TB path: collect_list builds ONE row per
  // instance holding every dimension — a pathological instance (millions
  // of options) concentrates its whole array in a single aggregation
  // buffer/row. That is the reference's own semantics (the bulk-attach
  // ships the full array), so this form keeps parity; use
  // [[instanceDimensionsBounded]] when instance fan-out is unbounded.
  def instanceDimensions(dedup: DataFrame): DataFrame =
    dedup
      .groupBy(col("instance_id"))
      .agg(
        count(lit(1)).as("n_dims"),
        array_join(
          array_sort(collect_list(concat(col("dimension_id"), lit(":"), col("option")))),
          "|").as("dims_digest"))

  /** Skew-capped [[instanceDimensions]]: the digest keeps only the first
    * `maxDims` sorted entries per instance plus an explicit overflow
    * count, so one pathological instance can no longer materialize an
    * unbounded row — the buffer is still built by collect_list, but the
    * emitted row (what downstream sinks ship, shuffle and PATCH) is
    * bounded, and the overflow is visible instead of silently truncated.
    * `n_dims` stays the TRUE count; rows at or under the cap are
    * byte-identical to the unbounded form (spec-pinned).
    */
  def instanceDimensionsBounded(dedup: DataFrame, maxDims: Int = 100000): DataFrame =
    dedup
      .groupBy(col("instance_id"))
      .agg(
        count(lit(1)).as("n_dims"),
        array_sort(collect_list(concat(col("dimension_id"), lit(":"), col("option"))))
          .as("all_dims"))
      .select(
        col("instance_id"),
        col("n_dims"),
        array_join(slice(col("all_dims"), 1, maxDims), "|").as("dims_digest"),
        greatest(size(col("all_dims")) - maxDims, lit(0)).as("overflow_dims"))

  // ---- S9: unique-observation constraint as a validation operator -------
  // Reference store/store.go:15 — Spark has no DDL constraints; the
  // uniqueness invariant becomes an aggregation returning violations.
  def uniquenessViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  // ---- S7 analytics: degree of each code node in the edge table ---------
  // The graph-output model is queryable: per code node, how many distinct
  // dimension options use it (a GraphFrames-style degree computation).
  def codeDegrees(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("dst"))
      .agg(
        count(lit(1)).as("degree"),
        countDistinct(col("src")).as("distinct_options"))

  // ---- S11: completed-event projection ----------------------------------
  // Reference message/producer.go:26-34 — same schema as the input event.
  def completedEvents(newEvents: DataFrame): DataFrame =
    newEvents.select(col("file_url"), col("instance_id"))
}
