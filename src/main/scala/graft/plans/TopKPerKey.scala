package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Descending, Expression,
  GenericInternalRow, JoinedRow, NullOrdering, NullsFirst, NullsLast,
  SortDirection, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.IntegerType

/** Whole-operator Catalyst extension: per-key top-k as a first-class plan
  * node — logical [[TopKPerKeyNode]], planner [[TopKPerKeyStrategy]], and a
  * two-phase physical pair ([[PartialTopKPerKeyExec]] →
  * [[FinalTopKPerKeyExec]]).
  *
  * The equivalent window query (`row_number().over(partitionBy(keys)
  * .orderBy(...)) <= k`) must shuffle EVERY row to its key's reducer and
  * fully sort each key's partition before discarding all but k rows. This
  * operator keeps a bounded k-row buffer per key on the map side, so the
  * exchange carries at most k·distinct-keys rows per input partition, and
  * nothing is ever fully sorted — the same partial-aggregation shape Spark
  * gives `groupBy().agg(...)`, applied to ranking. At 100 TB that exchange
  * is the difference between shuffling the corpus and shuffling the answer.
  *
  * Interface: [[TopKPerKey.apply]] — rank rows per key by `order`, keep the
  * first k, append a 1-based `rn` column (row_number semantics; supply a
  * total order via tie-break columns for determinism, exactly as with a
  * window). The input's session must have [[GraftExtensions]] installed,
  * which plans the node; `apply` fails at the call otherwise.
  */
object TopKPerKey {

  def apply(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      k: Int,
      rnName: String = "rn"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // case-insensitive like Spark's default resolver: a case-variant
    // collision would otherwise surface as AMBIGUOUS_REFERENCE later
    require(!df.columns.exists(_.equalsIgnoreCase(rnName)),
      s"input already has a column named '$rnName' — pass a different rnName")
    val spark = df.sparkSession
    require(Bridge.plannerStrategies(spark).contains(TopKPerKeyStrategy),
      s"TopKPerKey needs ${classOf[GraftExtensions].getName} installed on the session " +
        "(graft.Bench.session() installs it; or set spark.sql.extensions)")

    // Column trees carry lazily-converted node wrappers that only standard
    // Dataset operators resolve. Bare column references resolve directly to
    // the child's attributes (which keeps them visible to
    // [[PushFilterThroughTopK]]); computed key/sort expressions are routed
    // through a helper projection so the node is built from fully-analyzed
    // catalyst attributes. Sort direction/null-ordering come off the
    // Column's node via the shim.
    val parts: Seq[(Column, SortDirection, NullOrdering)] = order.map { c =>
      val (value, desc, nullsLast) = Bridge.sortSpec(c)
      (value, if (desc) Descending else Ascending, if (nullsLast) NullsLast else NullsFirst)
    }
    def slot(c: Column, tag: String, i: Int): Either[String, (Column, String)] =
      Bridge.attributeName(c) match {
        case Some(n) if df.columns.contains(n) => Left(n)
        case _                                 => Right((c, s"__graft_topk_$tag$i"))
      }
    val keySlots = keys.zipWithIndex.map { case (c, i) => slot(c, "k", i) }
    val sortSlots = parts.zipWithIndex.map { case ((c, _, _), i) => slot(c, "s", i) }
    val helpers = (keySlots ++ sortSlots).collect { case Right((c, n)) => c.as(n) }
    val prepared =
      if (helpers.isEmpty) df else df.select(df.columns.toSeq.map(df.col) ++ helpers: _*)
    val analyzed = prepared.queryExecution.analyzed
    def attrOf(s: Either[String, (Column, String)]): Attribute = {
      val name = s.fold(identity, _._2)
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"cannot resolve $name among ${analyzed.output}"))
    }
    val keyAttrs = keySlots.map(attrOf)
    val sortOrders = sortSlots.zip(parts).map { case (s, (_, dir, no)) =>
      SortOrder(attrOf(s), dir, no, Seq.empty)
    }
    val rnAttr = AttributeReference(rnName, IntegerType, nullable = false)()
    Bridge.ofRows(spark, TopKPerKeyNode(keyAttrs, sortOrders, k, rnAttr, analyzed))
      .select((df.columns.toSeq :+ rnName).map(org.apache.spark.sql.functions.col): _*)
  }
}

/** Optimizer rule for the custom node: a filter that references only the
  * GROUPING keys selects or drops whole groups, so it commutes with
  * per-key ranking — push it below the node, where the standard rules can
  * carry it all the way into the scan (PushedFilters / partition pruning).
  * Filters touching ranked/value columns or the produced rank must stay
  * above. Catalyst can't know this for a library node; this rule is that
  * missing algebraic fact.
  */
object PushFilterThroughTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, t: TopKPerKeyNode)
        if cond.deterministic &&
          f.condition.references.subsetOf(AttributeSet(t.keys.flatMap(_.references))) =>
      t.copy(child = Filter(cond, t.child))

    // column pruning through the node: a projection above it only needs
    // (its references minus the produced rank) ∪ key refs ∪ sort refs from
    // the child — drop everything else below the node so pruning reaches
    // the scan. Ranking is per-row on the kept columns, so dropping unused
    // ones never changes which rows win.
    case p @ Project(_, t: TopKPerKeyNode) =>
      val needed = AttributeSet(
        p.references.toSeq.filterNot(_.semanticEquals(t.rnAttr)) ++
          t.keys.flatMap(_.references) ++ t.order.flatMap(_.references))
      val kept = t.child.output.filter(needed.contains)
      if (kept.length == t.child.output.length) p
      else p.copy(child = t.copy(child = Project(kept, t.child)))
  }
}

/** Logical node: output = child's columns plus the produced rank. */
case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, rnAttr, child) =>
      FinalTopKPerKeyExec(keys, order, k, rnAttr,
        PartialTopKPerKeyExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared bounded per-key buffer pass: key → the k best rows in sort
  * order. Memory is O(min(distinct keys per partition, maxKeys) × k): when
  * the key cardinality in one partition exceeds `maxKeys`, the current
  * heaps are FLUSHED downstream and the map restarts — emitting several
  * partial heaps for a key is correct (the final phase merges them), so
  * the flush is the hash-aggregate spill-fallback analogue that keeps a
  * nearly-unique key column from OOMing the map side.
  */
private[plans] object BoundedTopK {
  val DefaultMaxKeys: Int = 1 << 18

  def heaps(
      iter: Iterator[InternalRow],
      keys: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      schema: Seq[Attribute],
      maxKeys: Int = DefaultMaxKeys): Iterator[mutable.ArrayBuffer[UnsafeRow]] = {
    val keyProj = UnsafeProjection.create(keys, schema)
    val toUnsafe = UnsafeProjection.create(schema.map(a => a: Expression), schema)
    val ord = org.apache.spark.sql.catalyst.expressions.RowOrdering.create(order, schema)

    new Iterator[mutable.ArrayBuffer[UnsafeRow]] {
      private var buffers = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[UnsafeRow]]
      private var drain: Iterator[mutable.ArrayBuffer[UnsafeRow]] = Iterator.empty

      private def fill(): Unit = {
        while (!drain.hasNext && iter.hasNext) {
          val u = toUnsafe(iter.next())
          val key = keyProj(u)
          val buf = buffers.getOrElse(key, null) match {
            case null =>
              val b = mutable.ArrayBuffer.empty[UnsafeRow]
              buffers(key.copy()) = b
              b
            case b => b
          }
          if (buf.size < k || ord.compare(u, buf.last) < 0) {
            val c = u.copy()
            var i = buf.size
            while (i > 0 && ord.compare(c, buf(i - 1)) < 0) i -= 1
            buf.insert(i, c)
            if (buf.size > k) buf.remove(k)
          }
          if (buffers.size >= maxKeys) { // cardinality flush
            drain = buffers.valuesIterator
            buffers = mutable.LinkedHashMap.empty
          }
        }
        if (!drain.hasNext && buffers.nonEmpty) {
          drain = buffers.valuesIterator
          buffers = mutable.LinkedHashMap.empty
        }
      }

      override def hasNext: Boolean = { fill(); drain.hasNext }
      override def next(): mutable.ArrayBuffer[UnsafeRow] = { fill(); drain.next() }
    }
  }
}

/** Map-side phase: ≤ k rows per key per input partition, no distribution
  * requirement, no sort — runs wherever the child's data already is.
  */
case class PartialTopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, schema, kk) = (keys, order, child.output, k)
    val maxKeys = conf.getConfString("graft.topk.maxKeys",
      BoundedTopK.DefaultMaxKeys.toString).toInt
    child.execute().mapPartitions(
      iter => BoundedTopK.heaps(iter, ks, os, kk, schema, maxKeys).flatMap(_.iterator),
      preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): PartialTopKPerKeyExec =
    copy(child = newChild)
}

/** Reduce-side phase: requires clustering by the keys (EnsureRequirements
  * inserts the hash exchange over the partial output), merges the per-key
  * candidates, and appends the 1-based rank.
  */
case class FinalTopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, schema, kk, rn, out) = (keys, order, child.output, k, rnAttr, output)
    child.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create(out.map(a => a: Expression), schema :+ rn)
      val joined = new JoinedRow
      val rnRow = new GenericInternalRow(1)
      // no cardinality flush here: rank assignment needs every candidate of
      // a key in ONE heap (two flushed heaps would both emit rank 1..k).
      // Post-shuffle key cardinality per reducer is bounded by the exchange
      // partitioning + AQE, the same memory regime as a final hash agg.
      BoundedTopK.heaps(iter, ks, os, kk, schema, maxKeys = Int.MaxValue).flatMap { buf =>
        buf.iterator.zipWithIndex.map { case (r, i) =>
          rnRow.update(0, i + 1)
          proj(joined(r, rnRow))
        }
      }
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): FinalTopKPerKeyExec =
    copy(child = newChild)
}
