package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Runtime execution introspection (ref `dataframe.py:247` `metrics` and
  * `dataframe.py:254` `skipped_corrupt_files` — the reference exposes a
  * per-plan-node stats recordbatch and the list of corrupt inputs skipped
  * under ignore_corrupt_files).
  *
  * Spark-first shape: a query's physical plan already carries SQLMetric
  * accumulators on every node (rows produced, files/bytes read, shuffle
  * volume, spill). [[collectWithMetrics]] runs the action and reads them
  * off the SAME QueryExecution — no listener race, no global state. The
  * corrupt-file probe is a distributed footer+row-group walk over the
  * listing, since Spark's `ignoreCorruptFiles` logs skips per-executor but
  * exposes no queryable record of them. */
object ExecMetrics {

  /** Every node of the executed plan, descending through AQE wrappers
    * (the adaptive root and its materialized query stages hide the real
    * operators behind `executedPlan`/`plan` indirections). */
  private[graft] def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** Materialize `df` and return (rows, metrics frame). The metrics frame
    * is the reference's `metrics` recordbatch shape: one row per physical
    * plan node — (node_id, node, metric, value), post-execution values. */
  def collectWithMetrics(df: DataFrame): (Array[Row], DataFrame) = {
    val qe = df.queryExecution
    val rows = df.collect() // executes THIS QueryExecution's plan
    (rows, metricsFrame(df.sparkSession, qe.executedPlan))
  }

  /** The per-node metrics of an already-executed plan. */
  def metricsFrame(spark: SparkSession, executed: SparkPlan): DataFrame = {
    val data = allNodes(executed).flatMap { node =>
      node.metrics.toSeq.map { case (key, m) =>
        (node.id.toLong, node.nodeName, key, m.value)
      }
    }
    import spark.implicits._
    data.toDF("node_id", "node", "metric", "value")
  }

  /** Convenience: the summed value of a metric across nodes whose name
    * matches `nodeSubstring` (e.g. scan output rows: ("Scan", "numOutputRows")). */
  def metricSum(metrics: DataFrame, nodeSubstring: String, metric: String): Long = {
    import org.apache.spark.sql.functions._
    val r = metrics
      .filter(col("node").contains(nodeSubstring) && col("metric") === metric)
      .agg(sum("value")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Files under `paths` that a corrupt-tolerant parquet read would skip
    * (ref `skipped_corrupt_files`): (path, reason, partial) — `partial`
    * is true when at least one row group decodes before the corruption,
    * i.e. a reader with ignoreCorruptFiles=true already emitted batches
    * from the file before giving up on it.
    *
    * Scale shape: the listing distributes over executors and each task
    * walks only its own files (footer first, then row groups until
    * failure) — the probe costs one read of the corrupt candidates and
    * touches nothing else ON SUCCESSFUL FOOTERS ONLY when `deep=false`. */
  def skippedCorruptFiles(spark: SparkSession, glob: String,
      deep: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val listing = spark.read.format("binaryFile")
      // values are irrelevant; binaryFile lazily materializes content, and
      // selecting only `path` prunes it to a pure listing
      .load(glob).select("path")
    import spark.implicits._
    val probed = listing.as[String].mapPartitions { it =>
      // report PARQUET corruption, not transport noise: local-fs .crc
      // sidecars (absent on HDFS/S3) would otherwise fail the whole file
      // at byte-read time and mask where the real damage is
      val c = new org.apache.hadoop.conf.Configuration(conf.value)
      c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      c.setBoolean("fs.file.impl.disable.cache", true)
      it.map { path =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(path))
        var rowsRead = 0L
        val failure: Option[String] =
          try {
            if (deep) {
              // a real decode pass: sequential row-group reads, page header
              // parses, decompression — throws exactly where a tolerant
              // reader would give up, with rowsRead telling whether any
              // batches were emitted first
              val reader = org.apache.parquet.hadoop.ParquetReader
                .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
                .withConf(c).build()
              try { while (reader.read() != null) rowsRead += 1 }
              finally reader.close()
            } else {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, c)
              org.apache.parquet.hadoop.ParquetFileReader.open(in).close()
            }
            None
          } catch {
            case e: Throwable =>
              Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          }
        (path, failure.getOrElse(""), failure.isDefined, rowsRead > 0)
      }
    }.toDF("path", "reason", "corrupt", "emitted")
    probed.filter(col("corrupt"))
      .select(col("path"), col("reason"), col("emitted").as("partial"))
  }
}
