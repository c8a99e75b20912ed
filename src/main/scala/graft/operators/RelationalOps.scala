package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Fixtures.table

/** General relational operator coverage on the TPC-H-ish tables: scan +
  * filter + aggregate, multi-way joins, windows, set ops, rollup, JSON
  * extraction. The reference needs none of these directly (SURVEY.md §2.7)
  * but a complete engine does; each query is oracle-checked against DuckDB.
  *
  * Floating aggregates are rounded on both engines — double summation order
  * is nondeterministic under parallel aggregation, so unrounded sums are
  * not hash-comparable.
  */
object RelationalOps {

  private def tsNtz(s: String) = lit(s).cast("timestamp_ntz")

  /** The events table with `ts` normalized to the session TimestampType.
    * The generator has written two physical shapes across rounds: µs
    * timestamps (declared TIMESTAMP_NTZ) and raw int64 nanos (read as a
    * long, see [[graft.sources.Fixtures.events]]; a TIMESTAMP(NANOS)
    * column reads so only under `spark.sql.legacy.parquet.nanosAsLong=true`,
    * which Bench/Verify/SparkSuite still set — inert for µs files).
    * Normalize BOTH to TimestampType so every downstream derivation is
    * schema-agnostic; the sessions pin UTC, so the NTZ→LTZ cast preserves
    * the wall clock and epoch math matches the DuckDB oracle's naive
    * reading of the same file. The nanos branch uses integer division —
    * a double division would lose precision above 2^53 ns.
    */
  def eventsTable(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.sources.Fixtures.events(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** [[eventsTable]] plus integer epoch seconds — `floor(epoch)`, exactly
    * the oracles' `cast(floor(epoch(ts)) AS bigint)` (a TimestampType→long
    * cast floor-divides the micros).
    */
  def secEvents(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir).withColumn("sec", col("ts").cast("long"))

  /** TPC-H Q1-style pricing summary: full scan + hash aggregate. At scale
    * this is a map-side partial agg into a 4-group reduce — no meaningful
    * shuffle. Filter is pushed to the parquet scan.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import Exact.{e, sumE}
    val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= tsNtz("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumE(col("l_quantity"), 2).as("sum_qty_e2"),
        sumE(col("l_extendedprice"), 2).as("sum_base_price_e2"),
        sumE(discPrice, 4).as("sum_disc_price_e4"),
        sumE(discPrice * (lit(1) + col("l_tax")), 6).as("sum_charge_e6"),
        sumE(col("l_discount"), 2).as("sum_disc_e2"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("sum_qty_e2"), col("sum_base_price_e2"),
        col("sum_disc_price_e4"), col("sum_charge_e6"),
        // averages from the exact integer sums → identical doubles → exact scaling
        e(col("sum_qty_e2").cast("double") / col("count_order"), 2).as("avg_qty_e4"),
        e(col("sum_base_price_e2").cast("double") / col("count_order"), 2).as("avg_price_e4"),
        e(col("sum_disc_e2").cast("double") / col("count_order"), 4).as("avg_disc_e6"),
        col("count_order"))
  }

  /** TPC-H Q3-style: selective filters on both join sides, then join +
    * aggregate. customer is the small side → broadcast; lineitem↔orders
    * shuffles on the join key only after both filters prune.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = tsNtz("1995-03-15 00:00:00")
    val c = table(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = table(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
    val l = table(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue_e4"))
      .select(
        col("l_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_orderpriority"),
        col("revenue_e4"))
  }

  /** TPC-H Q5-style local-supplier volume: 6-way join with two tiny
    * broadcast dims (nation, region) and the customer-nation = supplier-
    * nation co-location predicate.
    */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(table(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(table(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(table(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue_e4"))

  /** TPC-H Q18-style: aggregate subquery feeding a semi-join filter. */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(Exact.sumE(col("l_quantity"), 2).as("total_qty_e2"))
      .filter(col("total_qty_e2") > 150 * 100)
    table(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(table(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_name"), col("o_orderkey"),
        Exact.e(col("o_totalprice"), 2).as("total_price_e2"),
        col("total_qty_e2"))
  }

  /** TPC-H Q17-style: correlated scalar subquery (per-part average
    * quantity) decorrelated into an aggregate + join — the plan Spark
    * produces for the subquery form, written directly. The brand filter is
    * semi-applied BEFORE the per-part aggregate, so at scale the average
    * is computed only over the ~1/25 of lineitem that can match, not the
    * whole table. The "below 20% of average" comparison is pure integer
    * arithmetic (5·q·count < sum at e2 scale), never a float threshold.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val qE2 = floor(col("l_quantity") * 100.0 + 0.5).cast("bigint")
    val brandParts = table(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
    val lBrand = table(spark, dir, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(
        col("l_partkey"), qE2.as("q_e2"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("bigint").as("ep_e2"))
    val partAvg = lBrand.groupBy(col("l_partkey").as("pa_partkey"))
      .agg(sum(col("q_e2")).as("sum_q_e2"), count(lit(1)).as("cnt"))
    lBrand.join(partAvg, col("l_partkey") === col("pa_partkey"))
      .filter(col("q_e2") * lit(5L) * col("cnt") < col("sum_q_e2"))
      .agg(
        count(lit(1)).as("n_small"),
        coalesce(sum(col("ep_e2")), lit(0L)).as("sum_extprice_e2"))
      .select(
        col("n_small"), col("sum_extprice_e2"),
        floor(col("sum_extprice_e2") * 100.0 / 7.0 + 0.5).cast("bigint").as("avg_yearly_e4"))
  }

  /** TPC-H Q21-style: EXISTS + NOT EXISTS as left-semi and left-anti
    * joins. "Late" is shipping more than 90 days after the order date
    * (this schema carries no receipt/commit dates); a supplier "kept an
    * order waiting" when it was late on a finalized multi-supplier order
    * on which NO other supplier was late. The late set is derived once
    * and reused for both the probe side and the anti side.
    */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = l
      .join(
        table(spark, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val waited = late.as("l1")
      .join(l.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"),
        "left_semi")
      .join(late.as("l3"),
        col("l1.l_orderkey") === col("l3.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l3.l_suppkey"),
        "left_anti")
    waited
      .join(broadcast(table(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** Window top-k: top 3 users per event type by activity; integer counts
    * with explicit tie-break make the ranking deterministic across engines.
    */
  def topUsersPerEventType(spark: SparkSession, dir: String): DataFrame = {
    val counts = eventsTable(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    // the TopKPerKey plan node, not a window: bounded k-row heaps on the
    // map side and a top-k-only exchange, vs shuffling and fully sorting
    // every (event_type, user) count to rank it (same result — the DuckDB
    // oracle stays the row_number formulation)
    graft.plans.TopKPerKey(
        counts, Seq(col("event_type")), Seq(col("n").desc, col("user_id")), 3)
      .select(col("event_type"), col("user_id"), col("n"), col("rn"))
  }

  /** Analytic windows: running total + lag delta per user ordered by
    * event_id. Deterministic frame order makes float results reproducible.
    */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    eventsTable(spark, dir)
      .filter(col("user_id") < 50)
      .select(
        col("user_id"), col("event_id"),
        // per-row exact cents, then integer window sum — order-independent
        sum(Exact.e(col("value"), 2)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .as("running_total_e2"),
        (Exact.e(col("value"), 2) - lag(Exact.e(col("value"), 2), 1, 0L).over(w)).as("delta_e2"),
        row_number().over(w).cast("int").as("rn"))
  }

  /** RANGE-frame window: per-user trailing 1-hour moving sum/count over
    * event time — the frame is bounded by a VALUE interval, not a row
    * count, so ties and gaps behave differently from w2's ROWS frame (a
    * row's frame includes ALL events in (t-3600s, t], however many).
    * Computed on integer epoch seconds and e2 cents — both engines agree
    * exactly. Same one-shuffle-per-user-partition profile as any window.
    */
  def movingHourlyValue(spark: SparkSession, dir: String): DataFrame = {
    val base = secEvents(spark, dir)
      .filter(col("user_id") < 50)
      .select(
        col("user_id"), col("event_id"), col("sec"), Exact.e(col("value"), 2).as("v_e2"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-3599L, 0L)
    base.select(
      col("user_id"), col("event_id"), col("sec"),
      sum(col("v_e2")).over(w).as("hour_sum_e2"),
      count(lit(1)).over(w).as("hour_n"))
  }

  /** Date-bucketed rollup with distinct aggregation. */
  def dailyEventRollup(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).cast("date").as("day"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.sumE(col("value"), 2).as("total_value_e2"))

  /** ROLLUP grouping-sets aggregation (super-aggregate row labeled ALL). */
  def eventTypeRollup(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("total_value_e2"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type_g"),
        col("n"), col("total_value_e2"))

  /** Attribution window for [[purchasersMinusErrored]], integer seconds
    * (one hour) — also the time-band width, so a banded pair is at most
    * one bucket apart.
    */
  private val ErrWindowSec = 3600L

  /** Set operation (EXCEPT): users who purchased and never hit an error
    * in the hour FOLLOWING any of their purchases — the attribution
    * window makes the subtrahend selective (an unconditioned "ever
    * errored" set swallows every purchaser in the synthetic corpus, so
    * the EXCEPT would grade on 0 rows at every scale factor; a spec pins
    * this result non-empty).
    *
    * The subtrahend needs only EXISTENCE of a (purchase ≤ error ≤
    * purchase + window) pair per user, so it never enumerates pairs: both
    * sides aggregate to per-(user, hour-bucket) min/max seconds first,
    * and existence is decided bucket-locally — an error matches a
    * purchase in its own bucket (∃ iff min_p ≤ max_e; same-bucket pairs
    * are within the window by construction, bucket width = window) or the
    * previous one (∃ iff max_p ≥ min_e − window; ordering is implied by
    * the bucket order). The naive interval self-join is
    * |errors_u|·|purchases_u| intermediate rows per user — quadratic
    * under power-user skew at 100× (the w8 flood class); this form's
    * intermediate is bounded by distinct (user, bucket), i.e. linear in
    * the input, and `SkewBench`-style flood-tested in `ScaleOpsSpec`.
    * Window arithmetic is integer epoch seconds (the j6 discipline), so
    * both engines compare identical longs.
    */
  def purchasersMinusErrored(spark: SparkSession, dir: String): DataFrame = {
    val ev = secEvents(spark, dir)
    // FLOOR division, not `div` (which truncates toward zero): a negative
    // epoch second (pre-1970 timestamp) must not collapse into a
    // double-width bucket 0, or the same-bucket "within the window by
    // construction" invariant breaks and the banded form diverges from
    // the exact pair predicate. pmod is nonnegative, so sec − pmod(sec,w)
    // is the exact floor multiple in pure long arithmetic.
    val bucketExpr = expr(
      s"(sec - pmod(sec, $ErrWindowSec)) div $ErrWindowSec")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("sec"))
    val pb = purchases
      .withColumn("bucket", bucketExpr)
      .groupBy(col("user_id"), col("bucket"))
      .agg(min(col("sec")).as("min_p"), max(col("sec")).as("max_p"))
    val eb = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("sec"))
      .withColumn("bucket", bucketExpr)
      .groupBy(col("user_id"), col("bucket"))
      .agg(min(col("sec")).as("min_e"), max(col("sec")).as("max_e"))
    val sameBucket = pb.join(eb, Seq("user_id", "bucket"))
      .filter(col("min_p") <= col("max_e"))
      .select(col("user_id"))
    val nextBucket = pb.withColumn("bucket", col("bucket") + 1)
      .join(eb, Seq("user_id", "bucket"))
      .filter(col("max_p") >= col("min_e") - ErrWindowSec)
      .select(col("user_id"))
    purchases.select(col("user_id"))
      .except(sameBucket.union(nextBucket))
  }

  /** Set operation: users who both signed up and purchased (INTERSECT). */
  def signupAndPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTable(spark, dir)
    ev.filter(col("event_type") === "signup").select(col("user_id"))
      .intersect(ev.filter(col("event_type") === "purchase").select(col("user_id")))
  }

  /** JSON extraction from the string props column. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 80)

  /** Correlated-EXISTS shape: customers holding at least one URGENT order —
    * planned as a left-semi join, no row duplication.
    */
  def customersWithUrgentOrders(spark: SparkSession, dir: String): DataFrame = {
    val urgent = table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    table(spark, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** PIVOT: per-day event counts spread across event-type columns. */
  def eventPivotByDay(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .select(date_trunc("DAY", col("ts")).cast("date").as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Date arithmetic: shipping latency stats per order priority. */
  def shipLatency(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_orderpriority"),
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).as("lat"))
      .groupBy(col("o_orderpriority"))
      .agg(
        min(col("lat")).as("min_days"),
        max(col("lat")).as("max_days"),
        sum(col("lat").cast("long")).as("sum_days"),
        count(lit(1)).as("n"))
      .select(
        col("o_orderpriority"), col("min_days"), col("max_days"),
        Exact.e(col("sum_days").cast("double") / col("n"), 4).as("avg_days_e4"),
        col("n"))

  /** String-function battery over customer names (scalar fn coverage). */
  def customerNameOps(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .filter(col("c_custkey") <= 200)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        length(col("c_name")).cast("bigint").as("name_len"),
        substring(col("c_name"), 1, 8).as("prefix"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("padded_key"),
        concat_ws("|", col("c_mktsegment"), trim(col("c_name"))).as("tagged"))

  /** Top-3 parts by exact revenue per brand through the [[graft.plans
    * .TopKPerKey]] plan node — two-phase bounded heaps with whole-stage
    * codegen on the partial phase (the earlier `groupByKey` +
    * `TopKPayloadAgg` formulation was equally bounded and mergeable, but
    * the typed-Aggregator path breaks the codegen span around the partial
    * aggregation). Result is identical to the window formulation (the
    * DuckDB oracle uses row_number), ties broken by part key.
    */
  def topPartsByBrand(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Exact
    val revPerPart = table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("rev_e4"))
    graft.plans.TopKPerKey(
        revPerPart, Seq(col("p_brand")), Seq(col("rev_e4").desc, col("p_partkey")), 3)
      .select(col("p_brand"), col("p_partkey"), col("rev_e4"), col("rn"))
  }

  /** TPC-H Q10 shape: returned-item revenue per customer over a date
    * window — 3-way broadcast-dim join into one aggregate.
    */
  def returnedItemRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(table(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("rev_e4"))

  /** TPC-H Q14 shape: promo revenue share. Both sums are scaled-integer
    * aggregates and the percentage is integer division — exact in any
    * engine at any partitioning.
    */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = Exact.e(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0L))).as("promo_e4"),
        sum(rev).as("total_e4"))
      .select(
        col("promo_e4"), col("total_e4"),
        // the e4 sums fit doubles exactly (< 2^53); the share is then one
        // double multiply+divide+floor — bit-identical in any IEEE engine
        // (promo_e4 * 10^6 would overflow int64 at larger sf)
        floor(col("promo_e4") * lit(1000000.0) / col("total_e4"))
          .cast("long").as("promo_share_e6"))
  }

  /** Top-3 events per user by value through the custom whole-operator
    * [[graft.plans.TopKPerKey]] (logical node → strategy → two-phase
    * bounded-heap physical plan): the exchange carries at most k rows per
    * user per input partition instead of every event, and nothing is
    * sorted. Columns are pruned before the operator — generic ColumnPruning
    * cannot see through a library-defined logical node.
    */
  def topEventsPerUser(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    graft.plans.TopKPerKey(ev, Seq(col("user_id")), Seq(col("value").desc, col("event_id")), 3)
      .select(
        col("user_id"), col("event_id"),
        Exact.e(col("value"), 2).as("value_e2"), col("rn"))
  }

  /** Gaps-and-islands sessionization: a new session starts after a >30 min
    * silence per user. Works on integer epoch seconds (exact cross-engine);
    * session number = running count of session-start flags.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val raw = secEvents(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    raw
      .withColumn("prev_sec", lag(col("sec"), 1).over(w))
      .withColumn(
        "is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1L).otherwise(0L))
      .withColumn(
        "session_no",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(
        col("user_id"), col("event_id"),
        col("session_no").cast("int").as("session_no"))
  }

  /** Conversion window for each funnel hop (w8) — a day, matching the
    * corpus's hours-apart event spacing (the j6 BandSec reasoning).
    */
  val FunnelHopSec = 86400L

  /** w8: ordered conversion funnel signup → click → purchase, each hop
    * required to land within [[FunnelHopSec]] of the previous stage's
    * event (the product-analytics staple). Output: one row per signed-up
    * user with the first qualifying timestamp of each reached stage and
    * the funnel depth (1–3).
    *
    * Scale shape: NO per-user ordered window over the event log (that
    * form routes every user's full history through one task and sorts
    * it — a 10⁷-event power user is one unsplittable straggler).
    * Instead, one conditional min-aggregation per stage — each is a
    * pushed-down-filtered scan with map-side partial merge — where each
    * later stage equi-joins the previous stage's frame on `user_id`.
    * Those frames are user-cardinality, i.e. O(corpus) at a 100 TB event
    * log (10⁸–10⁹ users) — far past Spark's 8 GB broadcast hard limit —
    * so they are deliberately NOT broadcast-hinted: the joins shuffle on
    * `user_id` (AQE still demotes to broadcast when a stage is genuinely
    * small at runtime), and consecutive stages reuse the same hash
    * partitioning so the later joins add no extra exchange of the stage
    * frames. Stages beyond the first scan only their own event type's
    * partition of the corpus (pushed-down filter); hop windows keep each
    * stage's frame a shrinking subset of users.
    */
  def signupFunnel(spark: SparkSession, dir: String): DataFrame =
    signupFunnelOf(secEvents(spark, dir))

  /** [[signupFunnel]] over any (user_id, event_type, sec) frame — the
    * skew-measurement seam ([[graft.tools.SkewBench]] floods one power
    * user through it next to the per-user-window anti-pattern).
    */
  private[graft] def signupFunnelOf(ev: DataFrame): DataFrame = {
    val s = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("signup_sec"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, "user_id")
      .filter(col("sec") > col("signup_sec") &&
        col("sec") <= col("signup_sec") + FunnelHopSec)
      .groupBy(col("user_id")).agg(min(col("sec")).as("click_sec"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("sec") > col("click_sec") &&
        col("sec") <= col("click_sec") + FunnelHopSec)
      .groupBy(col("user_id")).agg(min(col("sec")).as("purchase_sec"))
    // assembly: all three frames are already hash-partitioned by user_id
    // from their groupBys, so these sort-merge joins are exchange-free
    s.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_sec"), col("click_sec"), col("purchase_sec"),
        (lit(1) + when(col("click_sec").isNotNull, 1).otherwise(0)
          + when(col("purchase_sec").isNotNull, 1).otherwise(0)).cast("int").as("stage"))
  }

  /** w11: the funnel DROP-OFF table — the 3-row summary a dashboard
    * renders from w8's per-user frame: users reaching each stage and the
    * conversion rate from the previous stage (e4 integer division, both
    * engines on identical integers). One grouping-free aggregate over
    * the funnel frame, then a 3-row stack — output is constant-size at
    * any corpus scale.
    */
  def funnelDropoff(spark: SparkSession, dir: String): DataFrame =
    signupFunnel(spark, dir)
      .agg(
        count(lit(1)).as("n1"),
        count(col("click_sec")).as("n2"),
        count(col("purchase_sec")).as("n3"))
      .selectExpr(
        """stack(3,
          |  1, n1, cast(10000 AS bigint),
          |  2, n2, if(n1 = 0, cast(null AS bigint), n2 * 10000 div n1),
          |  3, n3, if(n2 = 0, cast(null AS bigint), n3 * 10000 div n2))
          |  AS (stage, n_users, conv_from_prev_e4)""".stripMargin)

  def funnelDropoffOracleSql: String =
    s"""WITH f AS ($signupFunnelOracleSql),
       |c AS (
       |  SELECT cast(count(*) AS bigint) AS n1,
       |    cast(count(click_sec) AS bigint) AS n2,
       |    cast(count(purchase_sec) AS bigint) AS n3
       |  FROM f)
       |SELECT 1 AS stage, n1 AS n_users,
       |  cast(10000 AS bigint) AS conv_from_prev_e4 FROM c
       |UNION ALL
       |SELECT 2, n2,
       |  CASE WHEN n1 = 0 THEN NULL ELSE cast(n2 * 10000 // n1 AS bigint) END
       |FROM c
       |UNION ALL
       |SELECT 3, n3,
       |  CASE WHEN n2 = 0 THEN NULL ELSE cast(n3 * 10000 // n2 AS bigint) END
       |FROM c""".stripMargin

  def signupFunnelOracleSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, cast(floor(epoch(ts)) AS bigint) AS sec
       |  FROM events),
       |s AS (SELECT user_id, min(sec) AS signup_sec FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |c AS (SELECT e.user_id, min(e.sec) AS click_sec
       |  FROM ev e JOIN s ON s.user_id = e.user_id
       |  WHERE e.event_type = 'click' AND e.sec > s.signup_sec
       |    AND e.sec <= s.signup_sec + $FunnelHopSec
       |  GROUP BY 1),
       |p AS (SELECT e.user_id, min(e.sec) AS purchase_sec
       |  FROM ev e JOIN c ON c.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.sec > c.click_sec
       |    AND e.sec <= c.click_sec + $FunnelHopSec
       |  GROUP BY 1)
       |SELECT s.user_id, s.signup_sec, c.click_sec, p.purchase_sec,
       |  cast(1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
       |         + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS int) AS stage
       |FROM s
       |LEFT JOIN c ON c.user_id = s.user_id
       |LEFT JOIN p ON p.user_id = s.user_id""".stripMargin

  /** w9: weekly cohort retention — users grouped by their first-signup
    * week, each cohort's share still PURCHASING k weeks later (the
    * product-analytics retention matrix next to w8's funnel). Output:
    * (cohort_week, week_offset, n_active, cohort_n, retention_e4).
    *
    * Scale shape: one conditional min-aggregation for cohorts (map-side
    * partials), an equi-join of the cohort frame onto the
    * pushed-down-filtered activity scan (the cohort frame is
    * user-cardinality — O(corpus) at 100 TB — so it is NOT
    * broadcast-hinted; the join shuffles on `user_id` and AQE demotes to
    * broadcast when genuinely small), a distinct on (cohort, user,
    * offset) — cardinality ≤ users × weeks — and a ≤weeks²-row rollup
    * whose `sizes` side IS a bounded broadcast (≤weeks rows).
    * No window, no self-join; the event log is scanned twice (signups
    * partition, activity partition), both pruned at the parquet scan.
    */
  def cohortRetention(spark: SparkSession, dir: String,
      activityType: String = "purchase"): DataFrame = {
    val ev = eventsTable(spark, dir)
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
      .select(col("user_id"),
        date_trunc("week", col("s_ts")).cast("date").as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_n"))
    val active = ev.filter(col("event_type") === activityType)
      .join(cohorts, "user_id")
      .select(col("cohort_week"), col("user_id"),
        expr("cast(datediff(cast(date_trunc('week', ts) AS date), cohort_week) div 7 AS int)")
          .as("week_offset"))
      .filter(col("week_offset") >= 0)
      .distinct()
    active.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .selectExpr("cast(cohort_week AS string) AS cohort_week", "week_offset",
        "n_active", "cohort_n",
        "cast((n_active * 10000 + cohort_n div 2) div cohort_n AS bigint) AS retention_e4")
  }

  def cohortRetentionOracleSql(activityType: String = "purchase"): String =
    s"""WITH firstsignup AS (
       |  SELECT user_id, min(ts) AS s_ts FROM events
       |  WHERE event_type = 'signup' GROUP BY 1),
       |cohorts AS (
       |  SELECT user_id, cast(date_trunc('week', s_ts) AS date) AS cohort_week
       |  FROM firstsignup),
       |sizes AS (SELECT cohort_week, count(*) AS cohort_n FROM cohorts GROUP BY 1),
       |active AS (
       |  SELECT DISTINCT c.cohort_week, e.user_id,
       |    cast(date_diff('day', c.cohort_week,
       |      cast(date_trunc('week', e.ts) AS date)) // 7 AS int) AS week_offset
       |  FROM events e JOIN cohorts c ON c.user_id = e.user_id
       |  WHERE e.event_type = '$activityType'),
       |ret AS (
       |  SELECT cohort_week, week_offset, count(*) AS n_active FROM active
       |  WHERE week_offset >= 0 GROUP BY 1, 2)
       |SELECT cast(r.cohort_week AS varchar) AS cohort_week, r.week_offset,
       |  cast(r.n_active AS bigint) AS n_active,
       |  cast(s.cohort_n AS bigint) AS cohort_n,
       |  cast((r.n_active * 10000 + s.cohort_n // 2) // s.cohort_n AS bigint)
       |    AS retention_e4
       |FROM ret r JOIN sizes s USING (cohort_week)""".stripMargin

  /** w10: funnel conversion-latency distribution — for every user who
    * completed w8's signup→click→purchase funnel, the signup→purchase
    * latency, rolled up per signup-week cohort into exact nearest-rank
    * quantiles (min / lower-median / p90 / max). Rank-based quantiles on
    * INTEGER seconds, not percentile interpolation, so both engines
    * compute the identical element — the number a growth dashboard
    * ships next to the w9 retention matrix.
    *
    * Scale shape: rides the w8 funnel (conditional min-aggregations,
    * |users|-bounded frames, broadcast assembly); the ranking windows
    * run over the CONVERTED-users frame partitioned by cohort week —
    * cohort-sized partitions of an already user-bounded frame, never
    * the event log (the 10⁷-event power user costs one row here).
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val conv = signupFunnel(spark, dir)
      .filter(col("purchase_sec").isNotNull)
      .select(col("user_id"),
        floor(col("signup_sec") / lit(604800L)).as("cohort_week"),
        (col("purchase_sec") - col("signup_sec")).as("latency_sec"))
    val byCohort = Window.partitionBy(col("cohort_week"))
    val ranked = conv
      .withColumn("rn", row_number().over(
        byCohort.orderBy(col("latency_sec"), col("user_id"))).cast("bigint"))
      .withColumn("n", count(lit(1)).over(byCohort))
    ranked.groupBy(col("cohort_week"))
      .agg(
        count(lit(1)).as("n_converted"),
        min(col("latency_sec")).as("min_sec"),
        max(when(col("rn") === floor((col("n") + lit(1)) / lit(2)),
          col("latency_sec"))).as("median_sec"),
        max(when(col("rn") === ceil(col("n") * lit(9) / lit(10.0)),
          col("latency_sec"))).as("p90_sec"),
        max(col("latency_sec")).as("max_sec"))
  }

  def conversionLatencyOracleSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, cast(floor(epoch(ts)) AS bigint) AS sec
       |  FROM events),
       |s AS (SELECT user_id, min(sec) AS signup_sec FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |c AS (SELECT e.user_id, min(e.sec) AS click_sec
       |  FROM ev e JOIN s ON s.user_id = e.user_id
       |  WHERE e.event_type = 'click' AND e.sec > s.signup_sec
       |    AND e.sec <= s.signup_sec + $FunnelHopSec
       |  GROUP BY 1),
       |p AS (SELECT e.user_id, min(e.sec) AS purchase_sec
       |  FROM ev e JOIN c ON c.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.sec > c.click_sec
       |    AND e.sec <= c.click_sec + $FunnelHopSec
       |  GROUP BY 1),
       |conv AS (
       |  SELECT s.user_id, s.signup_sec // 604800 AS cohort_week,
       |    p.purchase_sec - s.signup_sec AS latency_sec
       |  FROM s JOIN p ON p.user_id = s.user_id),
       |ranked AS (
       |  SELECT cohort_week, latency_sec,
       |    row_number() OVER (PARTITION BY cohort_week
       |      ORDER BY latency_sec, user_id) AS rn,
       |    count(*) OVER (PARTITION BY cohort_week) AS n
       |  FROM conv)
       |SELECT cohort_week, count(*) AS n_converted,
       |  min(latency_sec) AS min_sec,
       |  max(CASE WHEN rn = (n + 1) // 2 THEN latency_sec END) AS median_sec,
       |  max(CASE WHEN rn = ceil(n * 9 / 10.0) THEN latency_sec END) AS p90_sec,
       |  max(latency_sec) AS max_sec
       |FROM ranked GROUP BY cohort_week""".stripMargin

  /** CUBE grouping sets over (event_type, day). */
  def eventCube(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .withColumn("day", date_trunc("DAY", col("ts")).cast("date"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("total_value_e2"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type_g"),
        coalesce(col("day").cast("string"), lit("ALL")).as("day_g"),
        col("n"), col("total_value_e2"))

  /** Exact interpolated median (percentile) of value per event type. */
  def medianValueByType(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        Exact.e(expr("percentile(value, 0.5)"), 2).as("median_value_e2"),
        Exact.e(expr("percentile(value, 0.9)"), 2).as("p90_value_e2"))

  /** GROUPING SETS — the general form behind g2's ROLLUP and g4's CUBE:
    * only the requested grouping combinations are computed, so at 100 TB
    * you pay for exactly the marginals you ask for (a cube of k columns
    * pays for 2^k). Spark's Expand operator replicates each input row once
    * per set in the same pass — one scan, one shuffle, no per-set rescan.
    */
  def eventGroupingSets(spark: SparkSession, dir: String): DataFrame =
    eventsTable(spark, dir)
      .withColumn("day", date_trunc("DAY", col("ts")).cast("date"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("event_type")), Seq.empty),
        col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("total_value_e2"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type_g"),
        coalesce(col("day").cast("string"), lit("ALL")).as("day_g"),
        col("n"), col("total_value_e2"))

  /** Hierarchical ROLLUP over a dimension hierarchy (region → nation →
    * grand total) — the ordered-prefix subset of CUBE: k+1 grouping sets
    * instead of 2^k, the right operator when the drill path is a genuine
    * hierarchy. Both dimension tables broadcast (25/5 rows at any sf), so
    * the only shuffle is the Expand'd aggregation — same one-pass Expand
    * shape as g4/g6.
    */
  def customerRegionRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(table(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), Exact.sumE(col("c_acctbal"), 2).as("acctbal_e2"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_g"),
        coalesce(col("n_name"), lit("ALL")).as("nation_g"),
        col("n_cust"), col("acctbal_e2"))

  /** TPC-H Q8-shape market share: what fraction of the revenue flowing to
    * one region's customers was supplied by one nation, per order year. A
    * six-table join tree where every dimension (nation twice, region,
    * supplier, customer) broadcasts, so the only big-table work is the
    * lineitem⋈orders key join and one agg shuffle on year — the deep-join
    * plan you want at 100 TB: fact tables never shuffle twice.
    * Share reported as integer parts-per-million of exact e4-cent sums
    * (bigint-safe through sf where total_rev_e4 < 9.2e12).
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = Exact.e(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    val custNation = table(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val suppNation = table(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))
    table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), col("c_nationkey") === col("cn_key"))
      .join(
        broadcast(table(spark, dir, "region").filter(col("r_name") === "EUROPE")),
        col("cn_region") === col("r_regionkey"))
      .join(broadcast(table(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("sn_name") === "NATION_19", rev).otherwise(lit(0L))).as("nation_rev_e4"),
        sum(rev).as("total_rev_e4"))
      .select(
        col("o_year"), col("nation_rev_e4"), col("total_rev_e4"),
        // double multiply like q14: nation_rev_e4 * 10^6 would overflow
        // int64 past ~sf0.2; the double path is identical IEEE math in
        // both engines
        floor(col("nation_rev_e4") * lit(1000000.0) / col("total_rev_e4"))
          .cast("long").as("share_e6"))
  }

  /** TPC-H Q16-shape supplier census, written as SQL over parquet-path
    * tables on purpose: the `NOT IN (subquery)` predicate exercises
    * Catalyst's null-aware anti-join planning (a left-anti join is only
    * equivalent when the keys are provably non-null — the SQL form makes
    * the optimizer prove it). Distinct-count per 3-column group is a
    * two-shuffle aggregate; the exclusion list broadcasts.
    */
  def supplierCounts(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM parquet.`$dir/lineitem.parquet`
         |JOIN parquet.`$dir/part.parquet` ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#13'
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM parquet.`$dir/supplier.parquet`
         |    WHERE s_acctbal < 2000)
         |GROUP BY p_brand, p_type, p_size""".stripMargin)

  /** TPC-H Q19-shape disjunctive-predicate revenue: an OR of conjunctions
    * across both join sides. Catalyst extracts the common join key and
    * pushes each side's disjunct residuals below the join (part-side
    * disjunction prunes the broadcast build; lineitem-side quantity bounds
    * reach the scan), so the OR does not defeat pushdown.
    */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = Exact.e(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    val band1 = col("p_brand") === "Brand#13" &&
      col("p_size").between(1, 15) && col("l_quantity").between(5, 25)
    val band2 = col("p_brand") === "Brand#20" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 40)
    table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .filter(band1 || band2)
      .agg(sum(rev).as("revenue_e4"), count(lit(1)).as("n"))
  }

  /** Gaps-and-islands: longest run of consecutive active days per user.
    * The island key (day index minus per-user row_number) turns
    * consecutiveness into group equality, so the whole query is a window
    * plus two aggregations, all hash-partitioned by user_id — one shuffle
    * end-to-end and no self-join, which is what makes streak detection
    * tractable over a 100 TB event log.
    */
  def longestDailyStreak(spark: SparkSession, dir: String): DataFrame = {
    val activeDays = eventsTable(spark, dir)
      .select(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("day"))
      .distinct()
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    activeDays
      .withColumn("island",
        datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(byDay))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak"))
      .groupBy(col("user_id"))
      .agg(max(col("streak")).as("longest_streak"))
  }

  /** TPC-H Q2-shape argmin join (this corpus has no partsupp, so lineitem
    * plays the part×supplier price relation): for each small part, the
    * supplier rows achieving the part's minimum price. The correlated
    * scalar subquery (`price = (SELECT min ... WHERE same part)`)
    * decorrelates to a per-part aggregate joined back on key AND value —
    * the argmin shape. Part subset and supplier attributes broadcast;
    * the only data-sized shuffle is the per-part min.
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val priced = table(spark, dir, "lineitem")
      .join(
        broadcast(table(spark, dir, "part").filter(col("p_size") < 10)),
        col("l_partkey") === col("p_partkey"))
      .select(
        col("p_partkey"), col("p_brand"), col("l_suppkey"),
        Exact.e(col("l_extendedprice"), 2).as("price_e2"))
    val mins = priced.groupBy(col("p_partkey"))
      .agg(min(col("price_e2")).as("min_price_e2"))
    priced
      .join(mins, Seq("p_partkey"))
      .filter(col("price_e2") === col("min_price_e2"))
      .join(
        broadcast(table(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("min_price_e2"))
      .distinct()
  }

  /** TPC-H Q13-shape order-count distribution: LEFT OUTER join with the
    * exclusion filter INSIDE the join's right side (so zero-order
    * customers survive), per-customer counts counting only matched rows,
    * then the histogram of counts. Two shuffles (custkey, then c_count);
    * the outer join is the part a naive GROUP BY on orders alone gets
    * wrong — it loses the zero bucket.
    */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Triangle participation counts on the recurring-co-purchase graph
    * (part pairs appearing together in at least `minSupport` orders),
    * the third graph primitive next to PageRank (g5) and connected
    * components (d8):
    *
    *   1. EDGES: per-order part lists → ordered pairs emitted map-side
    *      from the sorted list (the shingle-postings technique — one
    *      shuffle on the order key, no order×order self-join), kept when
    *      the pair recurs ≥ minSupport times. The support gate is both
    *      semantics (a once-in-the-corpus pairing is basket noise, not a
    *      co-purchase relationship) and the fan-out guard: the wedge
    *      intermediate of step 2 is Σ deg², and support-1 edges on this
    *      corpus are 300× the support-2 set for triangles that are
    *      almost all coincidence. Orientation a < b counts every
    *      triangle exactly once.
    *   2. TRIANGLES: e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) — two key-partitioned
    *      joins over the oriented edge set. At 100 TB scale the standard
    *      further refinement is degree-based orientation (low-degree
    *      node first) to cap fan-out on hot vertices; same plan shape,
    *      different orientation key.
    *   3. PARTICIPATION: explode the 3 corners, count per part.
    */
  /** Default co-occurrence support for [[partTriangles]], interpolated
    * into the g7 oracle so the two derivations can't desync.
    */
  val TriangleSupport = 2L

  /** The recurring-co-purchase part graph shared by g7 (triangles) and
    * g9 (connected components): parts are linked when they appear in at
    * least `minSupport` common orders. Posting-list pair emission per
    * order, support gate = semantics + Σdeg² fan-out guard.
    */
  private[operators] def coPurchaseEdges(
      spark: SparkSession, dir: String, minSupport: Long): DataFrame =
    table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      // no .distinct() prologue: collect_set dedupes per order, and the
      // partial (map-side) collect_set shuffles the same distinct pairs a
      // distinct would — dropping it removes one full corpus Exchange
      // (3 → 2 exchanges before the pair explosion)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("docs"))
      .select(explode(expr(Dedup.OrderedPairsExpr)).as("p"))
      .groupBy(col("p.a").as("pa"), col("p.b").as("pb"))
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= minSupport)
      .select(col("pa"), col("pb"))

  def partTriangles(
      spark: SparkSession, dir: String, minSupport: Long = TriangleSupport): DataFrame = {
    val edges = coPurchaseEdges(spark, dir, minSupport).cache()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e2.pa") === col("e1.pb"))
      .join(edges.as("e3"),
        col("e3.pa") === col("e1.pa") && col("e3.pb") === col("e2.pb"))
      .select(col("e1.pa").as("a"), col("e1.pb").as("b"), col("e2.pb").as("c"))
    val out = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_triangles"))
      // materialize before dropping the cache: edges feeds three join
      // branches, and leaving it pinned for the driver's lifetime leaks
      // executor storage
      .localCheckpoint()
    edges.unpersist()
    out
  }

  /** TPC-H Q15-shape top supplier: revenue per supplier over a shipping
    * quarter, then the argmax rows (suppliers tying the maximum all
    * surface — the reason Q15 can't be a LIMIT 1). Exact-integer revenue
    * so the max comparison replays; the 1-row max broadcasts.
    */
  def topRevenueSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Exact.e(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    val quarter = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1996-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("total_rev_e4"))
    val best = quarter.agg(max(col("total_rev_e4")).as("max_rev_e4"))
    quarter
      .crossJoin(broadcast(best))
      .filter(col("total_rev_e4") === col("max_rev_e4"))
      .join(broadcast(table(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
  }

  /** Threshold for [[bulkPartSuppliers]]: shipped quantity per
    * (supplier, part) above this marks a bulk supply line (exact e2
    * integers — summed doubles would be order-dependent).
    */
  val BulkQtyE2 = 8000L

  /** TPC-H Q20-shape nested-subquery chain, written as SQL on purpose
    * (like q16): supplier IN (grouped lineitem HAVING a quantity
    * threshold, itself filtered by part IN (name-prefix parts)). Catalyst
    * rewrites both IN levels to semi joins with the aggregate between
    * them — three joins, no correlated re-execution.
    */
  def bulkPartSuppliers(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT s_suppkey, s_name FROM parquet.`$dir/supplier.parquet`
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM parquet.`$dir/lineitem.parquet`
         |  WHERE l_partkey IN (
         |    SELECT p_partkey FROM parquet.`$dir/part.parquet`
         |    WHERE p_name LIKE 'red%')
         |  GROUP BY l_suppkey, l_partkey
         |  HAVING sum(cast(floor(l_quantity * 100.0 + 0.5) AS bigint)) > $BulkQtyE2)""".stripMargin)

  /** The "recent" cutoff for [[dormantBalances]] — on this corpus every
    * customer has SOME order, so dormancy is "no order since the cutoff"
    * (Q22's spirit; its literal no-orders-ever form is vacuous here).
    */
  val DormantCutoff = "1999-01-01"

  /** TPC-H Q22-shape dormant balances: customers above the average
    * positive balance with no RECENT orders (anti join against the
    * filtered order set), rolled up by nation. The global average is
    * compared in exact integer cross-multiplied form (bal_e2 · n >
    * total_e2) — a double `avg` threshold would be summation-order-
    * dependent and flake the oracle on borderline rows. The 1-row stats
    * aggregate broadcasts; the date filter pushes to the orders scan
    * before the anti join.
    */
  def dormantBalances(spark: SparkSession, dir: String): DataFrame = {
    val balE2 = Exact.e(col("c_acctbal"), 2)
    val c = table(spark, dir, "customer").withColumn("bal_e2", balE2)
    val stats = c.filter(col("c_acctbal") > 0.0)
      .agg(count(lit(1)).as("n"), sum(col("bal_e2")).as("total_e2"))
    val rich = c.crossJoin(broadcast(stats))
      .filter(col("bal_e2") * col("n") > col("total_e2"))
    rich
      .join(
        table(spark, dir, "orders")
          .filter(col("o_orderdate") >= tsNtz(s"$DormantCutoff 00:00:00")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_e2")).as("totacctbal_e2"))
  }

  /** TPC-H Q4-shape order-priority count: orders in one quarter that had
    * at least one LATE line — shipped more than 90 days after the order
    * date (the corpus has no commit/receipt dates, so lateness vs
    * o_orderdate stands in for Q4's l_commitdate < l_receiptdate). EXISTS
    * = left-semi join; the non-equi lateness predicate rides the equi
    * orderkey, so at scale this is one shuffle with the quarter filter
    * pushed to the orders scan and lineitem pruned to two columns.
    */
  def orderPriorityCount(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .filter(col("o_orderdate") >= tsNtz("1996-07-01 00:00:00") &&
        col("o_orderdate") < tsNtz("1996-10-01 00:00:00"))
    val l = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q6 forecast revenue: scan + filter + one-row aggregate. Every
    * predicate is scan-pushable (shipdate window, quantity bound, the
    * discount band compares raw stored doubles — both engines parse the
    * same literals to the same IEEE values), so at scale only row groups
    * overlapping the window are read. Revenue sums at exact e4 integers.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1997-01-01 00:00:00") &&
        col("l_quantity") < 24 &&
        col("l_discount").between(0.05, 0.07))
      .agg(
        Exact.sumE(col("l_extendedprice") * col("l_discount"), 4).as("revenue_e4"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q7-shape volume shipping: revenue flowing between two nations
    * in both directions, by ship year. Supplier/customer sides are
    * pre-filtered to the two nations and broadcast, so the joins ARE the
    * nation filters; the only big shuffle is lineitem↔orders on orderkey.
    */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val n = table(spark, dir, "nation").filter(col("n_name").isin(pair: _*))
    val sn = table(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cn = table(spark, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1998-01-01 00:00:00"))
      .join(table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue_e4"))
  }

  /** TPC-H Q9-shape product profit: supplier-nation × order-year revenue
    * over parts matching a name pattern (the corpus has no partsupp /
    * supplycost, so profit = discounted revenue). The filtered part list
    * and the supplier→nation map broadcast; lineitem↔orders is the one
    * big shuffle, already pruned by the broadcast part semi-filter.
    */
  def productTypeProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "part")
      .filter(col("p_name").like("%widget%")).select(col("p_partkey"))
    val sn = table(spark, dir, "supplier")
      .join(broadcast(table(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    table(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(table(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("profit_e4"))
  }

  /** TPC-H Q11-shape important parts: per-part revenue from one nation's
    * suppliers, kept when above 0.1% of that nation's total. The global
    * total is a 1-row aggregate riding a broadcast cross join, and the
    * threshold is exact integer cross-multiplication
    * (value_e4 · 1000 > total_e4) — never a float fraction.
    */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val sn = table(spark, dir, "supplier")
      .join(broadcast(table(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3")
      .select(col("s_suppkey"))
    val value = table(spark, dir, "lineitem")
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(Exact.sumE(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("value_e4"))
    val total = value.agg(sum(col("value_e4")).as("total_e4"))
    value.crossJoin(broadcast(total))
      .filter(col("value_e4") * lit(1000L) > col("total_e4"))
      .select(col("l_partkey"), col("value_e4"))
  }

  /** TPC-H Q12-shape shipping buckets: lineitem↔orders join grouped by
    * l_returnflag (the corpus has no l_shipmode), splitting order counts
    * into urgent/high priority vs the rest as conditional sums. One
    * shuffle on orderkey; the ship-year filter pushes to the lineitem
    * scan and both tables prune to two columns.
    */
  def priorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= tsNtz("1997-01-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1998-01-01 00:00:00"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(table(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }
}
