package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scalable global (un-partitioned) ordered computations.
  *
  * Spark's `Window.orderBy` with no partition key funnels the whole input
  * through ONE task — correct, but a single-partition bottleneck at scale
  * (the reference dedicates a streaming sink to this case,
  * `window_order_by_only.rs`). This operator keeps the computation
  * distributed with the classic two-pass range-partition + prefix-offset
  * scheme (the same shape as the as-of join without by-keys):
  *
  *  1. range-partition by the order keys and sort within partitions —
  *     partition i holds keys entirely ≤ partition i+1's (per the given
  *     sort order), each partition bounded and parallel;
  *  2. pass 1 computes per-partition row counts and value sums — ONE tiny
  *     row per partition is collected (bounded by the partition count, not
  *     the data);
  *  3. pass 2 assigns each row `rank = offset(pid) + local_index` and
  *     `running = sumOffset(pid) + local_prefix` — a pure map pass.
  *
  * Order keys must be a total order (include tiebreak columns) for the
  * result to be well-defined — the same contract a global Window has.
  */
object Global {

  /** Append a dense global `rankCol` (1-based) and, optionally, a running
    * long-sum column over `runningSumOf = (inputLongCol, outCol)`, ordered
    * by `orderCols` (directions honored). */
  def withGlobalRank(
      df: DataFrame,
      orderCols: Seq[Column],
      rankCol: String,
      runningSumOf: Option[(String, String)] = None,
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt

    val sorted = df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = sorted.schema
    val valIdx = runningSumOf.map { case (in, _) => schema.fieldIndex(in) }
    val sortedDs = sorted.as(Encoders.row(schema))

    // pass 1: (pid, rows, sum) — one row per partition, bounded collect
    val stats: Array[(Int, Long, Long)] = sortedDs.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L
        var s = 0L
        it.foreach { r =>
          n += 1
          valIdx.foreach(i => if (!r.isNullAt(i)) s += r.getLong(i))
        }
        Iterator((pid, n, s))
      }
      .collect()
      .sortBy(_._1)
    val rankOffsets = new Array[Long](parts + 1)
    val sumOffsets = new Array[Long](parts + 1)
    stats.foreach { case (pid, n, s) =>
      rankOffsets(pid + 1) = n
      sumOffsets(pid + 1) = s
    }
    for (i <- 1 to parts) {
      rankOffsets(i) += rankOffsets(i - 1)
      sumOffsets(i) += sumOffsets(i - 1)
    }
    val bcRank = spark.sparkContext.broadcast(rankOffsets)
    val bcSum = spark.sparkContext.broadcast(sumOffsets)

    val outSchema = StructType(schema.fields ++
      (StructField(rankCol, LongType, nullable = false) +:
        runningSumOf.map { case (_, out) => StructField(out, LongType) }.toSeq))

    // pass 2: pure map — offset + local prefix
    val outRdd = sortedDs.rdd.mapPartitionsWithIndex { (pid, it) =>
      var rk = bcRank.value(pid)
      var run = bcSum.value(pid)
      it.map { r =>
        rk += 1
        valIdx match {
          case Some(i) =>
            if (!r.isNullAt(i)) run += r.getLong(i)
            Row.fromSeq(r.toSeq :+ rk :+ run)
          case None =>
            Row.fromSeq(r.toSeq :+ rk)
        }
      }
    }
    spark.createDataFrame(outRdd, outSchema)
  }
}
