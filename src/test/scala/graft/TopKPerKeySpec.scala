package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** The custom whole-operator plan: logical node + strategy + two-phase
  * bounded-heap physical execution. Semantics must equal the window
  * formulation on a total order; the plan must be one exchange, no sort.
  */
class TopKPerKeySpec extends SparkSuite {
  import spark.implicits._

  private def synthetic = spark.range(0, 10000)
    .select(
      (col("id") % 37).as("k"),
      ((col("id") * 2654435761L) % 1000).as("s"),
      col("id"))
    .repartition(13) // force multi-partition partial phase

  test("matches the window formulation exactly on a total order") {
    val df = synthetic
    val custom = TopKPerKey(df, Seq(col("k")), Seq(col("s").desc, col("id")), 5)
      .select("k", "s", "id", "rn")
      .as[(Long, Long, Long, Int)].collect().toSet
    val w = Window.partitionBy("k").orderBy(col("s").desc, col("id"))
    val window = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(custom === window)
    assert(custom.size === 37 * 5)
  }

  test("cardinality flush in the partial phase preserves exact results") {
    // force the map-side heap map to flush every 3 distinct keys: several
    // partial heaps per key reach the final phase, which must merge them
    spark.conf.set("graft.topk.maxKeys", "3")
    try {
      val df = synthetic
      val custom = TopKPerKey(df, Seq(col("k")), Seq(col("s").desc, col("id")), 5)
        .select("k", "s", "id", "rn")
        .as[(Long, Long, Long, Int)].collect().toSet
      val w = Window.partitionBy("k").orderBy(col("s").desc, col("id"))
      val window = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .as[(Long, Long, Long, Int)].collect().toSet
      assert(custom === window)
    } finally spark.conf.unset("graft.topk.maxKeys")
  }

  test("k larger than the group returns the whole group, fully ranked") {
    val df = Seq((1L, 10L), (1L, 30L), (2L, 20L)).toDF("k", "s").repartition(3)
    val out = TopKPerKey(df, Seq(col("k")), Seq(col("s").desc), 100)
      .as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 30L, 1), (1L, 10L, 2), (2L, 20L, 1)))
  }

  test("ascending order and string keys work") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("k", "s").repartition(2)
    val out = TopKPerKey(df, Seq(col("k")), Seq(col("s")), 2)
      .as[(String, Int, Int)].collect().toSet
    assert(out === Set(("a", 1, 1), ("a", 2, 2), ("b", 9, 1)))
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(Long, Long)].toDF("k", "s")
    assert(TopKPerKey(df, Seq(col("k")), Seq(col("s")), 3).count() === 0)
  }

  test("GraftExtensions registers the strategy at session-builder time") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, Descending, NullsLast, SortOrder}
    import org.apache.spark.sql.types.IntegerType
    val prior = spark // force the shared session into existence first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      assert(s2 ne prior)
      // build the logical node directly — NOT via TopKPerKey.apply, whose
      // own extension check would fail first. If the builder-time strategy
      // were missing, planning throws "No plan for TopKPerKeyNode".
      val df = s2.range(10).selectExpr("id % 3 AS k", "id AS v")
      val analyzed = df.queryExecution.analyzed
      val node = graft.plans.TopKPerKeyNode(
        Seq(analyzed.output.find(_.name == "k").get),
        Seq(SortOrder(analyzed.output.find(_.name == "v").get,
          Descending, NullsLast, Seq.empty)),
        2,
        AttributeReference("rn", IntegerType, nullable = false)(),
        analyzed)
      val out = org.apache.spark.sql.graftshim.Bridge.ofRows(s2, node)
      assert(out.count() === 6) // 3 keys × top 2

      // injected SQL functions: pure-SQL results must bit-match the
      // Column-API expression path
      val viaSql = s2.sql(
        """SELECT graft_simhash64(array('a', 'b', 'c')) AS sh,
          |  graft_winnow('the quick brown fox jumps over the lazy dog') AS wn,
          |  graft_dot_f(cast(array(1.0, 2.0) AS array<float>),
          |              cast(array(3.0, 4.0) AS array<float>)) AS dp,
          |  graft_l2norm_f(cast(array(3.0, 4.0) AS array<float>)) AS nm,
          |  graft_hilbert16(7, 200) AS hb,
          |  graft_gopher_fracs('a b a b a b a b a b') AS gf""".stripMargin).head()
      assert(viaSql.getLong(0) ===
        graft.functions.SimHashUtil.compute(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
            Array("a", "b", "c").map(
              org.apache.spark.unsafe.types.UTF8String.fromString))))
      assert(viaSql.getSeq[Long](1) ===
        graft.functions.WinnowingUtil.fingerprint(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            "the quick brown fox jumps over the lazy dog"),
          graft.functions.Winnowing.K, graft.functions.Winnowing.W)
          .toLongArray().toSeq)
      assert(viaSql.getDouble(2) === 11.0)
      assert(viaSql.getDouble(3) === 5.0)
      assert(viaSql.getLong(4) === graft.functions.HilbertUtil.xy2d(7L, 200L))
      assert(viaSql.getSeq[Long](5) ===
        graft.functions.GopherUtil.fracs(
          org.apache.spark.unsafe.types.UTF8String.fromString("a b a b a b a b a b"))
          .toLongArray().toSeq)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("the shared session is the bench session, extensions installed") {
    assert(spark.sql("SELECT graft_hilbert16(7, 200)").head().getLong(0) ===
      graft.functions.HilbertUtil.xy2d(7L, 200L))
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ===
      Bench.MinCoalescedPartition)
  }

  test("TopKPerKey.apply fails at the call on a session without GraftExtensions") {
    import org.apache.spark.sql.SparkSession
    val prior = spark // force the shared session into existence first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val bare = SparkSession.builder().master("local[2]").getOrCreate()
      assert(bare ne prior)
      val df = bare.range(10).selectExpr("id % 3 AS k", "id AS v")
      val e = intercept[IllegalArgumentException](
        TopKPerKey(df, Seq(col("k")), Seq(col("v").desc), 2))
      assert(e.getMessage.contains("graft.plans.GraftExtensions"), e.getMessage)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }

  test("key-only filter is pushed through the node into the parquet scan") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("user_id", "event_id", "value")
    val keys = Seq(col("user_id"))
    val ord = Seq(col("value").desc, col("event_id"))
    val q = TopKPerKey(ev, keys, ord, 3).filter(col("user_id") < 10)
    q.collect()
    // PushFilterThroughTopK moves the group filter below the node; the
    // standard rules then carry it into the scan
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("PushedFilters: [IsNotNull(user_id), LessThan(user_id,10)"), plan)
    // and filtering groups before vs after ranking is equivalent
    val pre = TopKPerKey(ev.filter(col("user_id") < 10), keys, ord, 3)
    assert(q.collect().toSet === pre.collect().toSet)
    assert(q.count() > 0)
  }

  test("projection prunes unused columns through the node down to the scan") {
    // full-width table, no manual pre-selection: the pruning rule must
    // carry the 3 needed columns (key, sort, sort-tiebreak) into the scan
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val q = TopKPerKey(ev, Seq(col("user_id")), Seq(col("value").desc, col("event_id")), 3)
      .select("user_id", "event_id", "rn")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val readSchema = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(readSchema.isDefined, plan)
    val cols = readSchema.get.split(",").map(_.split(":")(0)).toSet
    assert(cols === Set("user_id", "event_id", "value"), s"scan reads $cols:\n$plan")
  }

  test("filters on ranked values are NOT pushed through (stay above the node)") {
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
      .select("user_id", "event_id", "value")
    val q = TopKPerKey(ev, Seq(col("user_id")), Seq(col("value").desc, col("event_id")), 3)
      .filter(col("value") > 50.0)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // pushing a value filter would change which rows rank in the top k
    assert(!plan.contains("PushedFilters: [IsNotNull(value)"), plan)
  }

  test("plan is partial → single key exchange → final, with no sort") {
    val df = synthetic
    val q = TopKPerKey(df, Seq(col("k")), Seq(col("s").desc, col("id")), 5)
    q.collect()
    // AQE wraps stages, so assert on the final plan text (its toString
    // also echoes the pre-AQE initial plan — cut at that marker)
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("PartialTopKPerKey"), plan)
    assert(plan.contains("FinalTopKPerKey"), plan)
    // exactly one hash exchange (the repartition(13) in the fixture is
    // round-robin) and the partial phase sits below it
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(plan.indexOf("PartialTopKPerKey") > plan.indexOf("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Sort "), s"unexpected sort:\n$plan")
  }

  test("w1 and w3 run through the plan node: two-phase bounded heaps, no sort") {
    // the graded ranking queries use the node (not a window, not a typed
    // Aggregator): partial heaps below the key exchange, final above, no
    // full sort of any partition anywhere in either plan
    for (q <- Seq(
        graft.operators.RelationalOps.topUsersPerEventType(spark, sf0001),
        graft.operators.RelationalOps.topPartsByBrand(spark, sf0001))) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("PartialTopKPerKey"), plan)
      assert(plan.contains("FinalTopKPerKey"), plan)
      assert(plan.indexOf("PartialTopKPerKey") > plan.indexOf("FinalTopKPerKey"), plan)
      assert(!plan.contains("Sort "), s"unexpected sort:\n$plan")
      assert(!plan.contains("ObjectHashAggregate"), s"typed-Aggregator path:\n$plan")
    }
  }
}
