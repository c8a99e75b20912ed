package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry

/** One timed query: wall seconds of each layer call and the output digest. */
final case class QueryRun(
    name: String, pass: Int, build: Span, plan: Span, exec: Span,
    exchanges: Int, digest: Option[Digest], error: Option[String]) {
  def seconds: Double = build.seconds + plan.seconds + exec.seconds
}

/** A closed loop with one client over a fixed query list. Each query is
  * timed as three calls into the program, in order:
  *   - build: `SparkEntry.queries(name)(spark, sfDir)` — DataFrame
  *     construction, including the eager jobs iterative operators run;
  *   - plan: `df.queryExecution.executedPlan` — Catalyst and graft.plans;
  *   - exec: the action, which runs that plan and digests every column.
  */
final class QueryLoop(spark: SparkSession, sfDir: String, names: Seq[String]) {
  private val registry = SparkEntry.queries
  names.foreach(n => require(registry.contains(n), s"query $n is not in SparkEntry.queries"))

  def runOne(name: String, pass: Int, tracer: Tracer): QueryRun = {
    val request = s"$name#$pass"
    val (run, _) = tracer.span("query", request) { parent =>
      var error: Option[String] = None
      def guarded[A](body: => A): Option[A] =
        if (error.nonEmpty) None
        else try Some(body) catch {
          case scala.util.control.NonFatal(e) =>
            error = Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
            None
        }
      val (df, build) = tracer.span("build", request, parent)(_ => guarded(registry(name)(spark, sfDir)))
      val (plan, planSpan) = tracer.span("plan", request, parent)(_ => df.flatMap(d => guarded(d.queryExecution.executedPlan)))
      val (digest, exec) = tracer.span("exec", request, parent)(_ => df.flatMap(d => guarded(ContentHash.of(d))))
      QueryRun(name, pass, build, planSpan, exec, plan.map(QueryLoop.exchanges).getOrElse(0), digest, error)
    }
    // caches are per-query scratch, as in graft.Bench
    spark.catalog.clearCache()
    run
  }

  /** One pass over every query in a seeded order. */
  def pass(pass: Int, rng: scala.util.Random, tracer: Tracer): Seq[QueryRun] =
    rng.shuffle(names).map(runOne(_, pass, tracer))

  /** `n` passes in a row, numbered from `firstPass`. The count is fixed
    * before the first pass starts, so a faster program does not get more
    * (and warmer) passes than a slower one.
    */
  def passes(n: Int, firstPass: Int, rng: scala.util.Random, tracer: Tracer): Seq[QueryRun] =
    (firstPass until firstPass + n).flatMap(pass(_, rng, tracer))
}

object QueryLoop {
  /** The importer-family queries: the paper's own relational core. */
  val Importer: Seq[String] = Seq(
    "p1_project_dimensions", "p2_project_instances", "p3_validate_events",
    "p6_invalid_dimensions", "p8_option_updates_no_nodeid", "p9_dimension_names",
    "a1_codes_by_list", "a3_dedup_options", "a5_instance_dimensions",
    "a5b_instance_dimensions_bounded", "j1_order_lookup", "j2_new_instances",
    "j3_code_edges", "s2_avro_roundtrip", "s3_paged_api_scan", "s5_graph_nodes",
    "s7_code_degrees", "s9_unique_violations", "s11_completed_events",
    "s12_dead_letter", "flagship_updates")

  /** Nominal length of one pass over `Importer` on sf0.1 (about 20 s on
    * 4 vCPUs): `--seconds` asks for that many seconds' worth of passes.
    */
  val NominalPassS = 20.0

  /** Exchange nodes in a physical plan, looking through adaptive wrappers,
    * query stages and subqueries.
    */
  def exchanges(plan: SparkPlan): Int = {
    def count(p: SparkPlan): Int = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => count(a.executedPlan)
        case s: QueryStageExec => count(s.plan)
        case _: Exchange => 1
        case _ => 0
      }
      val children = p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec => 0
        case _ => p.children.map(count).sum
      }
      self + children + p.subqueries.map(count).sum
    }
    count(plan)
  }
}
