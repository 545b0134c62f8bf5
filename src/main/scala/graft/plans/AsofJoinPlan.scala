package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

import graft.ops.AsofJoin

/** Planner-integrated as-of join with by-keys — the full Spark extension
  * stack for a whole-operator semantic (build brief tier (c)): a custom
  * `LogicalPlan` node, a `SparkStrategy` planning it, and a `SparkPlan`
  * that declares its distribution/ordering requirements so CATALYST
  * (EnsureRequirements) owns the exchanges and sorts — exactly how
  * SortMergeJoin is planned:
  *  - `ClusteredDistribution(by-keys)` on both children, so an input
  *    already hash-partitioned on the keys (bucketed table, prior
  *    aggregate, explicit repartition) skips the shuffle entirely;
  *  - child orderings, so the sort can be absorbed by an already-sorted
  *    child for free;
  *  - execution as a streaming merge of sorted key runs — per-KEY
  *    buffering (bounded by the largest key group), never per-partition
  *    arrays.
  *
  * Built only by [[graft.ops.AsofJoin.join]], which hands it `LongType`
  * on-keys (already normalised) and a right side without null keys.
  * Registered through `SparkSessionExtensions.injectPlannerStrategy` in
  * `Engine.session` (ref reference logical op `ops/asof_join.rs:74`).
  */
case class AsofJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftOn: Attribute,
    rightOn: Attribute,
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute],
    strategy: AsofJoin.Strategy,
    toleranceMicros: Option[Long]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lo, ro, lb, rb, st, tol) =>
      AsofJoinExec(planLater(l), planLater(r), lo, ro, lb, rb, st, tol) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftOn: Attribute,
    rightOn: Attribute,
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute],
    strategy: AsofJoin.Strategy,
    toleranceMicros: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning = left.outputPartitioning

  // co-partition both sides on the by-keys; EnsureRequirements inserts the
  // exchanges only where the child isn't already clustered correctly
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftBy) :: ClusteredDistribution(rightBy) :: Nil

  // sorted key-runs within partitions; sorts are absorbed if already sorted
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftBy :+ leftOn).map(a => SortOrder(a, Ascending)),
    (rightBy :+ rightOn).map(a => SortOrder(a, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftBy :+ leftOn).map(a => SortOrder(a, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lByBound = leftBy.map(BindReferences.bindReference(_: Expression, lOut))
    val rByBound = rightBy.map(BindReferences.bindReference(_: Expression, rOut))
    val keyTypes = leftBy.map(_.dataType)
    val lt = lOut.indexWhere(_.exprId == leftOn.exprId)
    val rt = rOut.indexWhere(_.exprId == rightOn.exprId)
    val nRight = rOut.size
    val strat = strategy
    val tol = toleranceMicros
    val outAttrs = output
    val numOut = longMetric("numOutputRows")

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lByBound)
      val rKeyProj = UnsafeProjection.create(rByBound)
      val keyOrd: Ordering[InternalRow] = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow

      // sorted rows → iterator of (key, rows-of-that-key) runs
      def groupRuns(it: Iterator[InternalRow], proj: UnsafeProjection)
          : BufferedIterator[(UnsafeRow, Array[InternalRow])] =
        new Iterator[(UnsafeRow, Array[InternalRow])] {
          private val base = it.buffered
          def hasNext: Boolean = base.hasNext
          def next(): (UnsafeRow, Array[InternalRow]) = {
            val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            val key = proj(base.head).copy()
            buf += base.next().copy()
            while (base.hasNext && proj(base.head) == key) buf += base.next().copy()
            (key, buf.toArray)
          }
        }.buffered

      val lRuns = groupRuns(lIt, lKeyProj)
      val rRuns = groupRuns(rIt, rKeyProj)

      lRuns.flatMap { case (lk, ls) =>
        // advance right to the matching key run (both sides key-sorted; a
        // key with a null compares unequal to every right key, which has
        // none)
        while (rRuns.hasNext && keyOrd.compare(rRuns.head._1, lk) < 0) rRuns.next()
        val rs: Array[InternalRow] =
          if (rRuns.hasNext && keyOrd.compare(rRuns.head._1, lk) == 0) rRuns.head._2
          else Array.empty
        val rTimes = rs.map(_.getLong(rt))
        var j = 0 // count of right rows with on-key <= the current left's
        ls.iterator.map { lRow =>
          val side = if (lRow.isNullAt(lt)) -1 else {
            val t = lRow.getLong(lt)
            while (j < rs.length && rTimes(j) <= t) j += 1
            AsofJoin.choose(strat, tol, t, j > 0, if (j > 0) rTimes(j - 1) else 0L,
              j < rs.length, if (j < rs.length) rTimes(j) else 0L)
          }
          numOut += 1
          resultProj(joined(lRow, if (side >= 0) rs(j - 1 + side) else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
