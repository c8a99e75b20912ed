package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures the funnel family's USER-skew scaling — the w8 scale claim
  * made falsifiable (the round-13 hot-hash flood methodology applied to
  * the event log): plant m extra click/purchase events on ONE power user
  * over the sf0.1 corpus and time
  *
  *   - the SHIPPED shape ([[graft.operators.RelationalOps.signupFunnelOf]]):
  *     one conditional min-aggregation per stage, map-side partial
  *     merged — a 10⁶-event user contributes 10⁶ rows to a combinable
  *     aggregate, never one task's sort; and
  *   - the WINDOW anti-pattern (chained full-partition windows per user):
  *     every window routes the power user's entire history through ONE
  *     unsplittable WindowExec partition — the shape the w8 scaladoc
  *     rejects.
  *
  * Both shapes produce bit-identical rows (`ScaleOpsSpec` pins it at
  * small m); this main records the sf0.1 wall-clock numbers for
  * `docs/SCALING.md` (min-of-2 per point, same session config as Bench).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.SkewBench
  */
object SkewBench {

  /** The per-user-window form of the funnel — deliberately the
    * anti-pattern: three chained whole-partition window aggregates over
    * the raw event log. Kept in tools (not the library) so nothing can
    * ship it; the bench and the equality spec are its only callers.
    */
  private[graft] def signupFunnelWindowed(ev: DataFrame): DataFrame = {
    import graft.operators.RelationalOps.FunnelHopSec
    val wAll = Window.partitionBy(col("user_id"))
    val withS = ev.withColumn("signup_sec",
      min(when(col("event_type") === "signup", col("sec"))).over(wAll))
    val withC = withS.withColumn("click_sec",
      min(when(col("event_type") === "click" &&
        col("sec") > col("signup_sec") &&
        col("sec") <= col("signup_sec") + FunnelHopSec, col("sec"))).over(wAll))
    val withP = withC.withColumn("purchase_sec",
      min(when(col("event_type") === "purchase" &&
        col("sec") > col("click_sec") &&
        col("sec") <= col("click_sec") + FunnelHopSec, col("sec"))).over(wAll))
    withP.filter(col("signup_sec").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        min(col("signup_sec")).as("signup_sec"),
        min(col("click_sec")).as("click_sec"),
        min(col("purchase_sec")).as("purchase_sec"))
      .select(col("user_id"), col("signup_sec"), col("click_sec"), col("purchase_sec"),
        (lit(1) + when(col("click_sec").isNotNull, 1).otherwise(0)
          + when(col("purchase_sec").isNotNull, 1).otherwise(0)).cast("int").as("stage"))
  }

  /** The flood fixture: the base (user_id, event_type, sec, event_id)
    * frame plus m synthetic click/purchase events on `powerUser`, spread
    * hours apart AFTER its first signup so they join the funnel scans.
    */
  private[graft] def flooded(
      base: DataFrame, powerUser: Long, m: Int): DataFrame = {
    val spark = base.sparkSession
    val start = base
      .filter(col("user_id") === powerUser && col("event_type") === "signup")
      .agg(min(col("sec"))).head().getLong(0)
    val extra = spark.range(m.toLong).toDF("j")
      .select(
        lit(powerUser).as("user_id"),
        when(col("j") % 2 === 0, lit("click")).otherwise(lit("purchase"))
          .as("event_type"),
        (lit(start) + lit(10L) + col("j")).as("sec"),
        (lit(900000000L) + col("j")).as("event_id"))
    base.unionByName(extra)
  }

  def main(args: Array[String]): Unit = {
    val dir = graft.Bench.sfDir(sys.env.get("SPARK_GRAFT_SF_DIR"))
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.RelationalOps

    val base = RelationalOps.secEvents(spark, dir)
      .select(col("user_id"), col("event_type"), col("sec"), col("event_id"))
      .localCheckpoint()
    val powerUser = base.filter(col("event_type") === "signup")
      .agg(min(col("user_id"))).head().getLong(0)

    def minOf2(f: => Unit): Double =
      (0 until 2).map { _ =>
        val t0 = System.nanoTime(); f
        (System.nanoTime() - t0) / 1e9
      }.min

    val out = new StringBuilder("{")
    Seq(0, 10000, 100000, 400000).zipWithIndex.foreach { case (m, i) =>
      val ev = (if (m == 0) base else flooded(base, powerUser, m)).localCheckpoint()
      val agg = minOf2(RelationalOps.signupFunnelOf(ev).count())
      val win = minOf2(signupFunnelWindowed(ev).count())
      if (i > 0) out.append(",")
      out.append(f""""m_$m":{"agg_sec":$agg%.3f,"window_sec":$win%.3f}""")
    }
    out.append("}")
    println(out.result())
    spark.stop()
  }
}
