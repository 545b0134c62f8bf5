package graft.plans

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference, ExpressionSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, UnknownPartitioning}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.Bridge

/** The two kernels of a range two-pass, bound to the sorted child: the
  * node hands them the child's output and the ordinals of the attributes
  * they read. Pass 2 emits each row as a child row joined to a second row
  * of the child's width, which carries the [[filled]] columns. Rows are
  * reused between iterator steps: a kernel copies what it keeps. */
trait TwoPassKernels[S] extends Serializable {
  /** The ordinals of the columns taken from the second row. */
  def filled: Set[Int]
  /** Pass 1: one small summary of a sorted partition. */
  def summarize(rows: Iterator[InternalRow]): S
  /** Pass 2: partition `pid`'s output, given every partition's summary by pid. */
  def emit(pid: Int, summaries: IndexedSeq[S], rows: Iterator[InternalRow]): Iterator[InternalRow]
}

/** Planner-integrated range two-pass — the distributed form of an
  * order-only computation (the reference runs it as one streaming sink,
  * `window_order_by_only.rs`), shared by [[graft.ops.Global.withGlobalRank]]
  * and the as-of join without by-keys ([[graft.ops.AsofJoin.join]]):
  *
  *  1. the child is range-partitioned on the order keys at the session's
  *     `spark.sql.shuffle.partitions` (read when the frame is built; an
  *     explicit width, so AQE does not coalesce it) and sorted within
  *     partitions — partition i's keys all sort before partition i+1's;
  *  2. pass 1 collects one small summary per partition and broadcasts
  *     the summaries;
  *  3. pass 2 maps each partition with every summary in hand.
  *
  * Both passes run in the action that executes the plan: building the
  * frame, or explaining it, runs no Spark job. A frame used twice in one
  * plan (one vocabulary under two joins) shuffles once, the second use
  * reusing the exchange, and runs pass 1 once.
  *
  * The node's output is its child's: a kernel fills columns the caller
  * appended as placeholders, so the analyzer renews every attribute when a
  * frame is joined with itself. The attributes a kernel reads (`reads`)
  * are node expressions, rewritten with the plan, and the whole input is
  * declared referenced, as [[SinglePassAggNode]] does, so `ColumnPruning`
  * never narrows the sorted child under a `select` above it. Pass 2
  * rewrites the filled columns, so no constraint of the child holds above
  * the node: a placeholder's `rk <=> 0` must not reach a filter or join.
  *
  * Same extension stack as [[AsofJoinNode]]: the node needs the planner
  * strategy `Engine.session` injects; `Graft.session` and the test session
  * both build on it, and a session built without it cannot plan the node. */
case class RangeTwoPassNode(child: LogicalPlan, order: Seq[SortOrder], reads: Seq[Attribute],
    kernels: (Seq[Attribute], Seq[Int]) => TwoPassKernels[_]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override lazy val references: AttributeSet = AttributeSet(child.output)
  override protected lazy val validConstraints: ExpressionSet = ExpressionSet()
  override protected def withNewChildInternal(newChild: LogicalPlan) = copy(child = newChild)
}

object RangeTwoPass {
  /** `df` range-partitioned on `rangeBy`, sorted within partitions by
    * `sortBy` (which `rangeBy` prefixes), under the two-pass node. */
  def apply(df: DataFrame, rangeBy: Seq[Column], sortBy: Seq[Column],
      reads: Seq[Attribute], kernels: (Seq[Attribute], Seq[Int]) => TwoPassKernels[_]): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = Bridge.analyzedPlan(
      df.repartitionByRange(parts, rangeBy: _*).sortWithinPartitions(sortBy: _*))
    Bridge.ofRows(df.sparkSession,
      RangeTwoPassNode(sorted, sorted.asInstanceOf[Sort].order, reads, kernels))
  }
}

object RangeTwoPassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeTwoPassNode(child, order, reads, kernels) =>
      RangeTwoPassExec(planLater(child), order, reads, kernels) :: Nil
    case _ => Nil
  }
}

case class RangeTwoPassExec(child: SparkPlan, order: Seq[SortOrder], reads: Seq[Attribute],
    kernels: (Seq[Attribute], Seq[Int]) => TwoPassKernels[_]) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // the child's one range exchange meets both: a range partitioning on a
  // prefix of `order` satisfies the ordered distribution
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override def outputPartitioning = UnknownPartitioning(child.outputPartitioning.numPartitions)

  // the kernels closure prints as a JVM identity that changes every run
  override protected def stringArgs: Iterator[Any] = Iterator(order, reads)

  protected override def doExecute(): RDD[InternalRow] =
    run(kernels(child.output, reads.map(a => child.output.indexWhere(_.exprId == a.exprId))))

  private def run[S](k: TwoPassKernels[S]): RDD[InternalRow] = {
    val rows = child.execute()
    val summaries = RangeTwoPassExec.pass1(this) {
      val collected = rows.mapPartitions(it => Iterator.single[Any](k.summarize(it))).collect()
      sparkContext.broadcast(collected.toIndexedSeq)
    }.asInstanceOf[Broadcast[IndexedSeq[S]]]
    val numOut = longMetric("numOutputRows")
    val w = output.size
    val project = output.zipWithIndex.map { case (a, i) =>
      BoundReference(if (k.filled(i)) w + i else i, a.dataType, a.nullable) }
    rows.mapPartitionsWithIndex { (pid, it) =>
      val proj = UnsafeProjection.create(project)
      k.emit(pid, summaries.value, it).map { r => numOut += 1; proj(r) }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan) = copy(child = newChild)
}

object RangeTwoPassExec {
  /** Computes its value once, on first use; a second caller waits for it. */
  private final class Once(f: => Broadcast[_]) {
    lazy val value: Broadcast[_] = f
  }

  /** Pass 1 of each exec, by canonical plan, on the range shuffle it reads. */
  private val Pass1 = TreeNodeTag[mutable.Map[SparkPlan, Once]]("graft.rangeTwoPass.pass1")

  /** `exec`'s broadcast summaries, `collect`ed once per range shuffle: an
    * equal exec over a reused exchange (one frame used twice) takes the
    * first one's, waiting if that one is still running. */
  private def pass1(exec: RangeTwoPassExec)(collect: => Broadcast[_]): Broadcast[_] =
    rangeShuffle(exec.child) match {
      case None => collect
      case Some(shuffle) =>
        val once = shuffle.synchronized {
          val memo = shuffle.getTagValue(Pass1).getOrElse(mutable.Map.empty[SparkPlan, Once])
          shuffle.setTagValue(Pass1, memo)
          memo.getOrElseUpdate(exec.canonicalized, new Once(collect))
        }
        once.value
    }

  /** The shuffle under the child's sort (and its codegen and query-stage
    * wrappers), shared by every use of a reused exchange. */
  private def rangeShuffle(plan: SparkPlan): Option[SparkPlan] = plan match {
    case e: ShuffleExchangeLike => Some(e)
    case r: ReusedExchangeExec => rangeShuffle(r.child)
    case s: ShuffleQueryStageExec => rangeShuffle(s.plan)
    case u: UnaryExecNode => rangeShuffle(u.child)
    case _ => None
  }
}
