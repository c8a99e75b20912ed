package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.ImporterPipeline._

/** Behavioral port of the reference's handler choreography tests
  * (`handler/incoming_instance_handler_test.go`): the same fixtures
  * (instance 1234567890, code list myCodeList, England/Wales/Scotland with
  * orders 0/1/null) asserted as expected output tables instead of
  * mock-call counts.
  */
class ImporterPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def links(codeList: String) =
    struct(struct(lit(codeList).as("id")).as("code_list")).as("links")

  lazy val apiDims: DataFrame = Seq(
    ("1234567890", "1234567890_Geography", "England", "n1"),
    ("1234567890", "1234567890_Geography", "Wales", "n2"),
    ("1234567890", "1234567890_Geography", "Scotland", "n3"))
    .toDF("instance_id", "dimension_id", "option", "node_id")
    .withColumn("links", links("myCodeList"))
    .unionAll(
      Seq(("1234567890", "1234567890_time", "2017", "n4"))
        .toDF("instance_id", "dimension_id", "option", "node_id")
        .withColumn("links", links("time")))

  lazy val codeLists: DataFrame = Seq(
    ("myCodeList", "England", Some(0)),
    ("myCodeList", "Wales", Some(1)),
    ("myCodeList", "Scotland", None))
    .toDF("code_list_id", "code", "ord")

  test("P1 projection flattens nested links.code_list.id") {
    val got = projectDimensions(apiDims).select("dimension_id", "code_list_id")
      .as[(String, String)].collect().toSet
    assert(got === Set(
      ("1234567890_Geography", "myCodeList"),
      ("1234567890_time", "time")))
  }

  test("P9 name extraction strips the instance prefix (models.go:47-52)") {
    val got = dimensionNames(projectDimensions(apiDims))
      .as[(String, String)].collect().toMap
    assert(got("1234567890_Geography") === "Geography")
    assert(got("1234567890_time") === "time")
  }

  test("J1+P8 nullable order tri-state (handler_test.go:738-828)") {
    val dims = dedupOptions(validDimensions(projectDimensions(apiDims)))
    val withOrd = withOrder(dims, codeLists)

    // Scotland has no defined order -> ord is null but the update survives
    // because node_id is set (partial PATCH).
    val updates = optionUpdates(withOrd, enablePatchNodeId = true)
      .select("option", "node_id", "ord")
      .as[(String, String, Option[Int])].collect().toSet
    assert(updates.contains(("England", "n1", Some(0))))
    assert(updates.contains(("Wales", "n2", Some(1))))
    assert(updates.contains(("Scotland", "n3", None)))

    // With node-id patching disabled the Scotland row is a no-op and drops.
    val noNode = optionUpdates(withOrd, enablePatchNodeId = false)
      .select("option").as[String].collect().toSet
    assert(noNode === Set("England", "Wales"))
  }

  test("P7 time dimension excluded from code edges (handler :294-302)") {
    val dims = dedupOptions(validDimensions(projectDimensions(apiDims)))
    val timeList = Seq(("time", "2017", Some(9))).toDF("code_list_id", "code", "ord")
    val edges = codeEdges(dims, codeLists.unionAll(timeList))
    val srcs = edges.select("src").as[String].collect()
    assert(srcs.length === 3)
    assert(!srcs.exists(_.contains("_time")))
  }

  test("J2 idempotent skip for existing instances (handler_test.go:939-968)") {
    val events = Seq(
      ("/1/2/3", "1234567890"),
      ("/4/5/6", "999"))
      .toDF("file_url", "instance_id")
    val existing = Seq("1234567890").toDF("instance_id")
    val got = newInstanceEvents(validEvents(events), existing)
      .select("instance_id").as[String].collect().toSeq
    assert(got === Seq("999"))
  }

  test("P3/S12 invalid events route to dead letters, not silently dropped") {
    val events = Seq(
      ("/ok", "42"),
      ("/bad", ""))
      .toDF("file_url", "instance_id")
    assert(validEvents(events).count() === 1)
    val dead = deadLetters(events).select("file_url", "error").as[(String, String)].collect()
    assert(dead.length === 1)
    assert(dead.head._1 === "/bad")
    assert(dead.head._2.contains("instance_id is empty"))
  }

  test("P6 validation labels each failure branch (models.go:55-69)") {
    val bad = Seq(
      ("i", "", "x", "n", "cl"),
      ("i", "d", "", "n", "cl"),
      ("i", "", "", "n", "cl"))
      .toDF("instance_id", "dimension_id", "option", "node_id", "code_list_id")
    val errs = invalidDimensions(bad).select("validation_error").as[String].collect()
    assert(errs.count(_.contains("id is required")) === 1)
    assert(errs.count(_.contains("value is required")) === 1)
    assert(errs.count(_.contains("empty dimension_id and option")) === 1)
  }

  test("S9 uniqueness check finds duplicate observations") {
    val dup = Seq(
      ("i", "d", "x"), ("i", "d", "x"), ("i", "d", "y"))
      .toDF("instance_id", "dimension_id", "option")
    val v = uniquenessViolations(dup, Seq("instance_id", "dimension_id", "option"))
    val rows = v.as[(String, String, String, Long)].collect()
    assert(rows.toSeq === Seq(("i", "d", "x", 2L)))
  }

  test("flagship end-to-end returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Options of one code list across 8 dimensions of instance `i`:
    * dimension `dj` holds options 0 to 5+6j, so code `ok` is shared by
    * 1 to 8 options and the out-degrees differ. 216 rows over 4
    * partitions.
    */
  private val sharedCodeRows = (0 until 8).map(j => 6 + 6 * j).sum

  private def sharedCodeDims: DataFrame =
    spark.range(0L, 400L, 1L, 4)
      .select((col("id") % 8).as("j"), (col("id") / 8).cast("long").as("k"))
      .filter(col("k") <= lit(5) + lit(6) * col("j"))
      .select(
        lit("i").as("instance_id"),
        concat(lit("i_d"), col("j").cast("string")).as("dimension_id"),
        concat(lit("o"), col("k").cast("string")).as("option"),
        lit("cl").as("code_list_id"))

  private def sharedCodeLists: DataFrame =
    (0 until 50).map(k => ("cl", s"o$k", Option(k))).toDF("code_list_id", "code", "ord")

  test("g5 PageRank equals a driver-side integer PageRank over the code edges") {
    val dims = sharedCodeDims
    val got = codePageRank(dims, sharedCodeLists)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the same e9 integer arithmetic, over the collected edge rows
    val e0 = codeEdges(dims, sharedCodeLists).select("src", "dst")
      .as[(String, String)].collect().toSeq
    val edges = e0 ++ e0.map(_.swap)
    val od = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val init = 1000000000L / math.max(1L, od.size.toLong)
    val base = 15L * init / 100L
    val expected = (1 to PageRankIterations).foldLeft(od.map { case (n, _) => n -> init }) {
      (r, _) =>
        val c = edges.groupMapReduce(_._2) { case (s, _) => r(s) / od(s) }(_ + _)
        od.map { case (n, _) => n -> (base + 85L * c.getOrElse(n, 0L) / 100L) }
    }
    assert(got.nonEmpty)
    assert(got === expected)
    // every node keeps at least the base (teleport) mass
    assert(got.values.forall(_ > 0L))
  }

  test("g5 PageRank evaluates each dimension row once") {
    // the unrolled plan reads the edge list from several stages of one
    // job; its one cut must keep the dimension pipeline from re-running.
    // A nondeterministic tap counts the rows the input produced.
    val reads = spark.sparkContext.longAccumulator("dimension rows read")
    val tap = udf { () => reads.add(1L); true }.asNondeterministic()
    val ranks = codePageRank(sharedCodeDims.filter(tap()), sharedCodeLists).collect()
    assert(reads.value === sharedCodeRows.toLong,
      "the dimension input was evaluated more than once")
    assert(ranks.length === sharedCodeRows + 48) // option nodes + codes o0..o47
  }

  test("g5 plan reads its edge list through the cut") {
    // the code-list join sits inside the cut; without it the analyzed
    // plan re-inlines that join into every branch of every iteration
    val plan = codePageRank(sharedCodeDims, sharedCodeLists).queryExecution.analyzed
    assert(plan.collect { case r: LogicalRDD => r }.nonEmpty, "no edge cut in the plan")
    val codeJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "code")) => j
    }
    assert(codeJoins.isEmpty, s"${codeJoins.size} code-list joins outside the cut")
  }

  test("A5 bounded variant caps a skewed instance's digest and surfaces the overflow") {
    // one pathological instance with 50 dims, one ordinary with 2
    val rows = (1 to 50).map(i => ("big", f"d$i%03d", "x")) ++
      Seq(("small", "d001", "y"), ("small", "d002", "z"))
    val df = rows.toDF("instance_id", "dimension_id", "option")
    val bounded = instanceDimensionsBounded(df, maxDims = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    val big = bounded("big")
    assert(big.getLong(1) === 50L, "n_dims must stay the TRUE count")
    assert(big.getString(2).split('|').length === 10, "digest capped at maxDims")
    assert(big.getInt(3) === 40, "overflow must be visible, not silent")
    // at or under the cap the bounded form is byte-identical to A5
    val small = bounded("small")
    val a5 = instanceDimensions(df).collect()
      .map(r => r.getString(0) -> r).toMap.apply("small")
    assert(small.getLong(1) === a5.getLong(1))
    assert(small.getString(2) === a5.getString(2))
    assert(small.getInt(3) === 0)
  }
}
