package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProductF, GopherFracsExpr, Hilbert16, L2NormF, SimHash64, WinnowingFingerprint}

/** Builder-time registration of the graft Catalyst surface — the
  * `SparkSessionExtensions` injection point, so a deployment enables the
  * whole-operator extension with configuration instead of code:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * // or in code, on the session builder (as graft.Bench.session() does):
  * builder.withExtensions(new GraftExtensions)
  * }}}
  *
  * Injects:
  *  - the [[TopKPerKeyStrategy]] planner strategy and the
  *    [[PushFilterThroughTopK]] optimizer rule (filter pushdown + column
  *    pruning through [[TopKPerKeyNode]]);
  *  - the custom codegen expressions as SQL functions, so pure-SQL users
  *    (spark-sql shell, JDBC/Thrift, `spark.sql(...)`) reach them without
  *    the Scala Column API: `graft_simhash64`, `graft_winnow`,
  *    `graft_dot_f`, `graft_l2norm_f`, `graft_hilbert16`,
  *    `graft_gopher_fracs`.
  *
  * `graft.Bench.session()`, the one session every graft main and test
  * uses, installs it. On a session created without it, `TopKPerKey.apply`
  * fails at the call, naming this class; the Column API wrappers build
  * their expressions directly and work on any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  /** `eval()` a foldable literal argument to Int (e.g. winnow's k/w —
    * construction-time parameters of the expression, not runtime inputs).
    */
  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    extensions.injectOptimizerRule(_ => PushFilterThroughTopK)

    extensions.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of an array<string>"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    extensions.injectFunction((
      FunctionIdentifier("graft_winnow"),
      info("graft_winnow",
        "graft_winnow(text[, k, w]) - winnowing fingerprint positions (k-gram, window w)"),
      (args: Seq[Expression]) => args match {
        case Seq(t) => WinnowingFingerprint(t, graft.functions.Winnowing.K,
          graft.functions.Winnowing.W)
        case Seq(t, k, w) =>
          WinnowingFingerprint(t, litInt(k, "k"), litInt(w, "w"))
        case _ => throw new IllegalArgumentException(
          "graft_winnow takes (text) or (text, k, w)")
      }))
    extensions.injectFunction((
      FunctionIdentifier("graft_dot_f"),
      info("graft_dot_f", "graft_dot_f(a, b) - dot product of two array<float>"),
      (args: Seq[Expression]) => DotProductF(args(0), args(1))))
    extensions.injectFunction((
      FunctionIdentifier("graft_l2norm_f"),
      info("graft_l2norm_f", "graft_l2norm_f(a) - L2 norm of an array<float>"),
      (args: Seq[Expression]) => L2NormF(args.head)))
    extensions.injectFunction((
      FunctionIdentifier("graft_gopher_fracs"),
      info("graft_gopher_fracs",
        "graft_gopher_fracs(text) - the 9 Gopher repetition e6-fractions " +
          "[top2, top3, top4, dup5..dup10] of a document, one map-only pass"),
      (args: Seq[Expression]) => GopherFracsExpr(args.head)))
    extensions.injectFunction((
      FunctionIdentifier("graft_hilbert16"),
      info("graft_hilbert16",
        "graft_hilbert16(x, y) - order-8 Hilbert curve index of two 8-bit buckets"),
      (args: Seq[Expression]) => Hilbert16(args(0), args(1))))
  }
}
