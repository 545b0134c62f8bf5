package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.plans.{AsofJoinNode, RangeTwoPass, TwoPassKernels}

/** As-of (nearest-key) join — the reference's largest custom join operator
  * (`src/daft-logical-plan/src/ops/asof_join.rs:74-87`,
  * `src/daft-local-execution/src/join/asof_join.rs`; strategies
  * `AsofJoinStrategy::{Backward, Forward, Nearest}`,
  * `src/daft-core/src/join.rs:158-162`). Spark has no built-in equivalent
  * (SURVEY §2.3).
  *
  * [[join]] is the one entry point (`df.asofJoin` calls it), with two
  * physical shapes:
  *  - with by-keys it plans [[graft.plans.AsofJoinNode]]: Catalyst's
  *    EnsureRequirements owns the by-key exchanges and the sorts, so an
  *    input already hash-partitioned on the keys is not shuffled again,
  *    and each partition is merged as sorted key runs (buffering bounded
  *    by the largest key group). The node needs the planner strategy that
  *    `Engine.session` injects, as [[SinglePass]] does; `Graft.session`
  *    and the test session both build on it, and a session built without
  *    it cannot plan the join.
  *  - without by-keys it plans the range two-pass
  *    [[graft.plans.RangeTwoPassNode]] ([[global]]), the node under
  *    [[Global.withGlobalRank]] too: one range exchange at the session's
  *    shuffle width, both passes in the action (building or explaining
  *    the frame runs no job), and it never collapses to one partition. It
  *    needs the strategy `Engine.session` injects, like the by-key node.
  *    Its output columns are all nullable.
  *
  * Both shapes order and compare the on-key as [[onMicros]] normalises it,
  * and take their match from [[choose]].
  *
  * Left-outer semantics: every left row is kept; unmatched ⇒ right side
  * null. Nulls follow SQL equality: a left row with a null by-key or a
  * null on-key is kept with a null right side, and a right row with a
  * null by-key or a null on-key is never picked. `toleranceMicros` (a
  * pandas-style superset knob) nulls matches farther than the bound.
  */
object AsofJoin {

  sealed trait Strategy
  case object Backward extends Strategy // greatest right.on <= left.on
  case object Forward extends Strategy  // least right.on >= left.on
  case object Nearest extends Strategy  // min |diff|, tie -> backward

  /** The normalised on-key column both sides carry into the merge. */
  private val T = "__graft_t"
  /** The side tag of the two-pass union: 0 left, 1 right. */
  private val Side = "__graft_side"

  /** The on-key as a `LongType` ordering key: epoch µs for timestamps and
    * dates, the raw value for integral types. */
  private def onMicros(df: DataFrame, on: String): Column =
    df.schema(on).dataType match {
      // Tables.eventTimeMicros handles the NTZ dispatch (Spark 4's
      // unix_micros rejects TIMESTAMP_NTZ; UTC session makes the cast
      // instant-preserving)
      case TimestampType | TimestampNTZType => graft.Tables.eventTimeMicros(df, on)
      case DateType => col(on).cast("long") * 86400000000L
      case ByteType | ShortType | IntegerType | LongType => col(on).cast("long")
      case other =>
        throw new IllegalArgumentException(s"asof on-key type $other not supported (timestamp/date/integral)")
    }

  /** The match of a left row at on-key `t`, given the last right on-key
    * `<= t` (`back`, present iff `hasBack`) and the first one `> t`
    * (`fwd`, present iff `hasFwd`): 0 picks back, 1 picks fwd, -1 nothing
    * (no candidate, or the pick is farther than the tolerance). An exact
    * match is `back`, so Forward (`>=`) takes it before `fwd`. */
  private[graft] def choose(strategy: Strategy, toleranceMicros: Option[Long], t: Long,
      hasBack: Boolean, back: Long, hasFwd: Boolean, fwd: Long): Int = {
    val side = strategy match {
      case Backward => if (hasBack) 0 else -1
      case Forward => if (hasBack && back == t) 0 else if (hasFwd) 1 else -1
      case Nearest =>
        if (hasBack && (!hasFwd || t - back <= fwd - t)) 0 else if (hasFwd) 1 else -1
    }
    if (side >= 0 && toleranceMicros.exists(m => math.abs(t - (if (side == 0) back else fwd)) > m)) -1
    else side
  }

  /** @param left      probe side (all rows preserved)
    * @param right     build side
    * @param leftOn    ordered key on the left (timestamp/date/integral)
    * @param rightOn   ordered key on the right
    * @param leftBy    exact-match partition keys on the left (may be empty)
    * @param rightBy   exact-match partition keys on the right
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftOn: String,
      rightOn: String,
      leftBy: Seq[String] = Nil,
      rightBy: Seq[String] = Nil,
      strategy: Strategy = Backward,
      toleranceMicros: Option[Long] = None): DataFrame = {
    require(leftBy.size == rightBy.size, "leftBy and rightBy must align")
    // names compare as the session resolves them: `ID` and `id` clash
    // unless spark.sql.caseSensitive is set
    val caseSensitive = left.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    def names(cols: Seq[String]) = cols.map(c => if (caseSensitive) c else c.toLowerCase(java.util.Locale.ROOT)).toSet
    val dupNames = names(left.columns).intersect(names(right.columns)) -- names(rightBy)
    require(
      dupNames.isEmpty || rightBy.toSet.nonEmpty,
      s"ambiguous output columns: $dupNames — rename right-side columns first")
    val l = left.withColumn(T, onMicros(left, leftOn))
    // both sides hash their by-keys, so a right key of another type is
    // compared as a helper column cast to the left key's type
    val keyTypes = leftBy.map(left.schema(_).dataType)
    val rKeys = rightBy.zip(keyTypes).zipWithIndex.map { case ((c, dt), i) =>
      if (right.schema(c).dataType == dt) c else s"__graft_k$i" }
    val withKeys = rKeys.zip(rightBy).zip(keyTypes).foldLeft(right) {
      case (df, ((k, c), dt)) => if (k == c) df else df.withColumn(k, col(c).cast(dt))
    }
    // a null key equals nothing: such right rows can never be picked
    val r = withKeys.withColumn(T, onMicros(right, rightOn))
      .where((rKeys :+ T).map(col(_).isNotNull).reduce(_ && _))
    if (leftBy.isEmpty) return global(l, r, strategy, toleranceMicros)
    // resolved by the analyzer, so name matching follows the session conf
    def attr(df: DataFrame, name: String): Attribute =
      Bridge.analyzedPlan(df.select(col(name))).output.head
    val lp = Bridge.analyzedPlan(l)
    val r0 = Bridge.analyzedPlan(r).output
    val rKeyIdx = rKeys.map(k => r0.indexWhere(_.exprId == attr(r, k).exprId))
    // a self-join shares attributes between the sides: the right side then
    // takes fresh ones under internal names, and the output restores them
    val rp = Bridge.analyzedPlan(
      if (r0.exists(lp.outputSet.contains)) r.toDF(r0.indices.map(i => s"__graft_r$i"): _*)
      else r)
    val node = AsofJoinNode(lp, rp, lp.output.last, rp.output.last,
      leftBy.map(attr(l, _)), rKeyIdx.map(rp.output), strategy, toleranceMicros)
    // drop the helper columns appended after each side's own
    val helpers = (lp.output.last +: rp.output.drop(right.schema.size)).map(_.exprId).toSet
    val out = node.output.filterNot(a => helpers(a.exprId)).zip(left.columns ++ right.columns)
      .map { case (a, n) => if (a.name == n) a else Alias(a, n)() }
    Bridge.ofRows(left.sparkSession, Project(out, node))
  }

  /** The join without by-keys, on the range two-pass
    * [[graft.plans.RangeTwoPassNode]] (SURVEY §7.3 hard-part #1). `l` and
    * `r` end with the on-key column t:
    *
    *  1. Range-partition the union of both sides on t, sorted within
    *     partitions by t and, at equal t, the right rows first —
    *     co-locates every left row with the right rows of its key range.
    *  2. Pass 1 summarizes each partition as its first and last right row
    *     (null when it has none).
    *  3. Pass 2 is a STREAMING two-pointer merge — never materialized. A
    *     left row's backward candidate is the last right row before it; it
    *     buffers only until the next right row, its forward candidate, so
    *     peak memory is the left-row count between two consecutive right
    *     rows — not the partition. The carry-ins (the last right row of the
    *     partitions before, the first of those after) make backward matches
    *     before the partition's first right row, forward matches after its
    *     last, and nearest across boundaries all exact: range partitioning
    *     puts equal t values in one partition, so they lie strictly outside
    *     the local key range. Null-t left rows sort first and resolve at
    *     once to no match.
    */
  private def global(l: DataFrame, r: DataFrame, strategy: Strategy,
      toleranceMicros: Option[Long]): DataFrame = {
    // one layout for both sides, each row null in the other side's
    // columns: (leftFields..., t, side, rightFields...)
    val union = l.withColumn(Side, lit(0))
      .unionByName(r.withColumn(Side, lit(1)), allowMissingColumns = true)
    val reads = Bridge.analyzedPlan(union).output.drop(l.schema.size - 1) // t, side, rights
    RangeTwoPass(union, Seq(col(T)), Seq(col(T), col(Side).desc), reads, (child, ords) =>
      new TwoPassKernels[(InternalRow, InternalRow)] {
        private val t = ords(0)
        private val side = ords(1)
        val filled = ords.drop(2).toSet // the right columns, from the match

        def summarize(rows: Iterator[InternalRow]) = {
          // each right row goes into one reused buffer; only the first is copied
          val keep = UnsafeProjection.create(child.map(_.dataType).toArray)
          var first: InternalRow = null
          var last: InternalRow = null
          for (r <- rows if r.getInt(side) == 1) {
            if (first == null) first = r.copy()
            last = keep(r)
          }
          (first, last)
        }

        def emit(pid: Int, summaries: IndexedSeq[(InternalRow, InternalRow)], rows: Iterator[InternalRow]) = {
          var back = summaries.take(pid).reverseIterator.map(_._2).find(_ != null).orNull
          val after = summaries.drop(pid + 1).iterator.map(_._1).find(_ != null).orNull
          val pending = scala.collection.mutable.Queue.empty[InternalRow]
          val joined = new JoinedRow
          val nullRow = new GenericInternalRow(child.size)
          def resolve(l: InternalRow, back: InternalRow, fwd: InternalRow): InternalRow = {
            val pick = if (l.isNullAt(t)) -1 else choose(strategy, toleranceMicros, l.getLong(t),
              back != null, if (back != null) back.getLong(t) else 0L,
              fwd != null, if (fwd != null) fwd.getLong(t) else 0L)
            joined(l, if (pick == 0) back else if (pick == 1) fwd else nullRow)
          }
          rows.flatMap { r =>
            if (r.getInt(side) == 1) {
              // the pending lefts lie between the last right row and this one
              val lefts = pending.removeAll()
              val prior = back
              val fwd = r.copy()
              back = fwd
              lefts.iterator.map(resolve(_, prior, fwd))
            } else if (r.isNullAt(t)) {
              Iterator.single(joined(r, nullRow))
            } else {
              pending += r.copy()
              Iterator.empty
            }
          } ++ pending.iterator.map(resolve(_, back, after)) // by-name: once the rows run out
        }
      }).drop(T, Side)
  }
}
