package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Planner-integrated single-pass per-partition aggregation (OPTIMIZATION
  * r15) — the plan-node form of "repartition by key, then aggregate in ONE
  * pass". Spark plans `repartition(k).groupBy(k).agg(...)` as partial +
  * final HashAggregate back-to-back above the exchange (EnsureRequirements
  * removes the middle exchange but keeps both passes), so streams whose
  * partial collapses ~nothing (q16's ~98%-distinct dedup keys, q18's ~4:1
  * order groups, q21's ~1.3:1 pairs) hash every row twice on their hottest
  * stage. This node declares `ClusteredDistribution(keys)` like any join
  * or aggregate — EnsureRequirements owns the exchange (inserted only
  * where the child isn't already clustered, AQE-coalescible when
  * `requiredNumPartitions` is None) — and runs the caller's per-partition
  * kernel exactly once over the shuffled rows. Used via
  * [[graft.ops.SinglePass]]; kernels emit orders of magnitude fewer rows
  * than they consume, so everything above stays cheap.
  *
  * Same extension stack as [[AsofJoinNode]]: LogicalPlan node + Strategy
  * (injected in Engine.session) + SparkPlan with declared requirements,
  * so the whole query remains ONE explainable Catalyst plan. */
case class SinglePassAggNode(
    child: LogicalPlan,
    keys: Seq[Attribute],
    requiredNumPartitions: Option[Int],
    output: Seq[Attribute],
    label: String,
    kernel: Iterator[InternalRow] => Iterator[InternalRow],
    // r16: a kernel whose FIRST output column carries the clustering key's
    // value unchanged (priceDropPairs) preserves the child's hash
    // partitioning — declaring it lets a downstream join on that key
    // reuse the exchange instead of re-shuffling the kernel output
    // (guide §2.4 "two operations keyed the same way share one exchange")
    keyPreserving: Boolean = false) extends UnaryNode {
  // the output attrs are PRODUCED here (fresh exprIds), not referenced
  // from the child — without this, CheckAnalysis reads them as missing
  // inputs
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the kernel reads child columns by ORDINAL — every child column is
  // consumed, so ColumnPruning must not slip a narrower Project underneath
  // (callers pre-project to exactly the kernel schema)
  override lazy val references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): SinglePassAggNode =
    copy(child = newChild)
}

object SinglePassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SinglePassAggNode(child, keys, parts, out, label, kernel, keyPres) =>
      SinglePassAggExec(planLater(child), keys, parts, out, label, kernel,
        keyPres) :: Nil
    case _ => Nil
  }
}

case class SinglePassAggExec(
    child: SparkPlan,
    keys: Seq[Expression],
    requiredNumPartitions: Option[Int],
    output: Seq[Attribute],
    label: String,
    kernel: Iterator[InternalRow] => Iterator[InternalRow],
    keyPreserving: Boolean = false) extends UnaryExecNode {

  override def nodeName: String = s"SinglePassAgg($label)"

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)

  // every row of a key group must be partition-local; the exchange (when
  // one is needed) is Catalyst's, so AQE sizing applies where the caller
  // didn't pin a width
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys,
      requiredNumPartitions = requiredNumPartitions) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Nil)

  // most kernels re-key their output (gid / supplier partials), so the
  // child's clustering does not survive; a keyPreserving kernel emits the
  // single clustering key's value unchanged as output column 0, so the
  // child's hash partitioning maps 1:1 onto the output attribute and a
  // downstream join/aggregate on it needs no new exchange
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case h: HashPartitioning if keyPreserving && keys.length == 1 &&
        h.expressions.length == 1 && h.expressions.head.semanticEquals(keys.head) =>
      HashPartitioning(Seq(output.head), h.numPartitions)
    case p => UnknownPartitioning(p.numPartitions)
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val k = kernel
    val types = output.map(_.dataType).toArray
    val numOut = longMetric("numOutputRows")
    child.execute().mapPartitions { it =>
      // operators above (exchange serializers in particular) expect
      // UnsafeRow; kernels emit GenericInternalRow for simplicity
      val proj = UnsafeProjection.create(types)
      k(it).map { r => numOut += 1; proj(r) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SinglePassAggExec =
    copy(child = newChild)
}
