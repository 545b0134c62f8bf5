package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge

import graft.plans.{RangeTwoPass, TwoPassKernels}

/** Scalable global (un-partitioned) ordered computations.
  *
  * Spark's `Window.orderBy` with no partition key funnels the whole input
  * through ONE task — correct, but a single-partition bottleneck at scale
  * (the reference dedicates a streaming sink to this case,
  * `window_order_by_only.rs`). This operator keeps the computation
  * distributed on [[graft.plans.RangeTwoPassNode]], the range two-pass it
  * shares with the as-of join without by-keys:
  *
  *  1. range-partition by the order keys and sort within partitions —
  *     partition i holds keys entirely ≤ partition i+1's (per the given
  *     sort order), each partition bounded and parallel;
  *  2. pass 1 summarizes each partition as (row count, value sum) — ONE
  *     tiny pair per partition (bounded by the partition count, not the
  *     data);
  *  3. pass 2 assigns each row `rank = offset(pid) + local_index` and
  *     `running = sumOffset(pid) + local_prefix` — a pure map pass.
  *
  * Both passes run in the action; building the frame runs no Spark job.
  * Order keys must be a total order (include tiebreak columns) for the
  * result to be well-defined — the same contract a global Window has.
  */
object Global {

  /** Append a dense global `rankCol` (1-based) and, optionally, a running
    * long-sum column over `runningSumOf = (inputLongCol, outCol)`, ordered
    * by `orderCols` (directions honored). */
  def withGlobalRank(df: DataFrame, orderCols: Seq[Column], rankCol: String,
      runningSumOf: Option[(String, String)] = None): DataFrame = {
    // the rank (and sum) enter as zero placeholders that pass 2 fills
    val outs = rankCol +: runningSumOf.map(_._2).toSeq
    val withOuts = df.select(col("*") +: outs.map(lit(0L).as(_)): _*)
    val reads = Bridge.analyzedPlan(withOuts.select((outs ++ runningSumOf.map(_._1)).map(col): _*)).output
    RangeTwoPass(withOuts, orderCols, orderCols, reads, (child, ords) => new TwoPassKernels[(Long, Long)] {
      val filled = ords.take(outs.size).toSet
      private val rank = ords(0)
      private val sum = if (runningSumOf.isDefined) ords(1) else -1
      private val in = if (runningSumOf.isDefined) ords(2) else -1
      private def value(r: InternalRow) = if (in < 0 || r.isNullAt(in)) 0L else r.getLong(in)

      def summarize(rows: Iterator[InternalRow]) = {
        var n = 0L
        var s = 0L
        for (r <- rows) {
          n += 1
          s += value(r)
        }
        (n, s)
      }

      def emit(pid: Int, summaries: IndexedSeq[(Long, Long)], rows: Iterator[InternalRow]) = {
        // the rows and the sum of the partitions before this one
        var n = summaries.take(pid).map(_._1).sum
        var s = summaries.take(pid).map(_._2).sum
        val fill = new GenericInternalRow(child.size)
        val joined = new JoinedRow
        rows.map { r =>
          n += 1
          s += value(r)
          fill.setLong(rank, n)
          if (sum >= 0) fill.setLong(sum, s)
          joined(r, fill)
        }
      }
    })
  }
}
