package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.plans.AsofJoinNode

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
  *  - without by-keys it runs a range-partitioned two-pass ([[global]]),
  *    which never collapses to one partition.
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
    val dupNames = left.columns.toSet.intersect(right.columns.toSet) -- rightBy.toSet
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

  /** The join without by-keys, distributed over a range partitioning
    * (SURVEY §7.3 hard-part #1). `l` and `r` end with the on-key column:
    *
    *  1. Range-partition the union of both sides on the on-key, sorted
    *     within partitions — co-locates every left row with the right rows
    *     of its key range.
    *  2. First pass computes per-partition right-row boundary summaries
    *     (earliest/latest right row of each partition) — N_partitions rows
    *     collected to the driver (tiny) and broadcast back.
    *  3. Second pass merges each partition with the carried-in neighbor
    *     rows, so backward matches before the partition's first right row,
    *     forward matches after its last, and nearest across boundaries are
    *     all exact.
    */
  private def global(l: DataFrame, r: DataFrame, strategy: Strategy,
      toleranceMicros: Option[Long]): DataFrame = {
    val spark = l.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val lFields = l.schema.fields.init
    val rFields = r.schema.fields.init
    val nLeft = lFields.length
    val outSchema = StructType(lFields ++ rFields.map(_.copy(nullable = true)))

    // tag sides and align schemas: (t, side, leftFields..., rightFields...)
    def nulls(fs: Seq[StructField]) = fs.map(f => lit(null).cast(f.dataType).as(f.name))
    def cols(fs: Seq[StructField]) = fs.map(f => col(f.name))
    val lTagged = l.select((Seq(col(T), lit(0).as("__graft_side")) ++ cols(lFields) ++ nulls(rFields)): _*)
    val rTagged = r.select((Seq(col(T), lit(1).as("__graft_side")) ++ nulls(lFields) ++ cols(rFields)): _*)
    val union = lTagged.unionByName(rTagged)
      .repartitionByRange(parts, col(T))
      .sortWithinPartitions(T, "__graft_side")
    val unionDs = union.as(Encoders.row(union.schema))

    // pass 1: per-partition first/last RIGHT rows (whole tagged rows)
    val summaries: Array[(Int, Row, Row)] = unionDs.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var first: Row = null
        var last: Row = null
        it.foreach { r =>
          if (r.getInt(1) == 1) { if (first == null) first = r; last = r }
        }
        if (first == null) Iterator.empty else Iterator((pid, first, last))
      }
      .collect()
    val bcSummaries = spark.sparkContext.broadcast(summaries)
    val strat = strategy
    val tol = toleranceMicros

    // STREAMING two-pointer merge: partitions arrive already sorted by
    // (t, side) — never materialized. A left row buffers only until the
    // first STRICTLY-later right row arrives (equal-t rights must all be
    // seen first: backward is an inclusive bound and forward/nearest pick
    // the last equal-t right), so peak memory is the left-row count
    // between two consecutive right rows — not the partition (the r6
    // `it.toArray` spike). Range partitioning puts equal t values in one
    // partition, so carry-ins are strictly outside the local key range.
    // Null-t left rows sort first and resolve at once to no match.
    val merged = unionDs.rdd.mapPartitionsWithIndex { (pid, it) =>
      val sums = bcSummaries.value
      val before = sums.filter(_._1 < pid).sortBy(_._1).lastOption.map(_._3)
      val after = sums.filter(_._1 > pid).sortBy(_._1).headOption.map(_._2)
      val nullRight = Seq.fill(rFields.length)(null)

      def resolve(l: Row, back: Row, fwd: Row): Row = {
        val side = if (l.isNullAt(0)) -1 else choose(strat, tol, l.getLong(0),
          back != null, if (back != null) back.getLong(0) else 0L,
          fwd != null, if (fwd != null) fwd.getLong(0) else 0L)
        Row.fromSeq(l.toSeq.slice(2, 2 + nLeft) ++ (side match {
          case 0 => back.toSeq.drop(2 + nLeft)
          case 1 => fwd.toSeq.drop(2 + nLeft)
          case _ => nullRight
        }))
      }

      val pending = new scala.collection.mutable.ArrayDeque[Row]()
      var lastRight: Row = before.orNull
      val body = it.flatMap { row =>
        if (row.getInt(1) == 1) {
          val tR = row.getLong(0)
          // lefts strictly older than this right are final (pending is in
          // ascending t order — resolve the prefix); equal-t lefts wait
          // for possible later equal-t rights
          val back = lastRight
          lastRight = row
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          while (pending.nonEmpty && pending.head.getLong(0) < tR)
            out += resolve(pending.removeHead(), back, row)
          out.iterator
        } else if (row.isNullAt(0)) Iterator.single(resolve(row, null, null))
        else {
          pending += row
          Iterator.empty
        }
      }
      val tail = Iterator.single(()).flatMap { _ =>
        val fwd = after.orNull
        pending.iterator.map(l => resolve(l, lastRight, fwd))
      }
      body ++ tail
    }
    spark.createDataFrame(merged, outSchema)
  }
}
