package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade — the reference's `daft` top-level module re-expressed
  * for Spark. A reference user maps their program 1:1:
  *
  * {{{
  * import graft.Graft
  * import graft.implicits._
  *
  * val spark = Graft.session()
  * val df = Graft.readParquet(spark, "/data/lineitem.parquet")
  * df.where(col("l_quantity") > 10)
  *   .groupBy("l_returnflag").agg(sum("l_quantity"))
  *
  * // operators the reference has and Spark lacks:
  * left.asofJoin(right, "ts", "p_ts", Seq("user_id"), Seq("p_user"))
  * docs.dedupExact(Seq("text"), keepBy = "doc_id")
  * docs.minhashDedup("doc_id", "text", shingleN = 3, threshold = 0.8)
  * corpus.similarTopK(queries, "vec_id", "embedding", k = 10)
  * }}}
  */
object Graft {
  def session(cores: String = Engine.defaultCores): SparkSession = {
    val s = Engine.session(cores)
    graft.expressions.CosineSimilarityExpr.register(s)
    s
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
  def readCsv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
  def fromGlobPath(spark: SparkSession, glob: String): DataFrame =
    try spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("length"), col("modificationTime"))
    catch {
      // ref from_glob_path: no matching files -> empty frame, not an error
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("path",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("length",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("modificationTime",
              org.apache.spark.sql.types.TimestampType))))
    }
  /** from_files (ref `daft/io/_files.py:13`): glob listing → one `file`
    * column of lazy File references (content is read on demand by the
    * file ops, never here — only the listing runs). */
  def fromFiles(spark: SparkSession, glob: String): DataFrame =
    fromGlobPath(spark, glob).select(ops.Files.file(col("path")).as("file"))
  /** skipped_corrupt_files (ref `dataframe.py:254`): (path, reason,
    * partial) for parquet files under `glob` that an ignoreCorruptFiles
    * read would skip; `partial` = some row groups decode before the
    * corruption (batches were already emitted when the reader gave up). */
  def skippedCorruptFiles(spark: SparkSession, glob: String): DataFrame =
    ops.ExecMetrics.skippedCorruptFiles(spark, glob)
  def readArrow(spark: SparkSession, path: String): DataFrame =
    sources.ArrowIpc.read(spark, path)
  def writeArrow(df: DataFrame, path: String, batchSize: Int = 4096): Long =
    sources.ArrowIpc.write(df, path, batchSize)
  def readWarc(spark: SparkSession, path: String): DataFrame =
    sources.Warc.read(spark, path)
  def readMcap(spark: SparkSession, path: String,
      topics: Option[Seq[String]] = None,
      startTime: Option[Long] = None, endTime: Option[Long] = None): DataFrame =
    sources.Mcap.read(spark, path, topics, startTime, endTime)
  def readVideoFrames(spark: SparkSession, path: String, everyNth: Int = 1): DataFrame =
    ops.Video.readFrames(spark, path, everyNth)
  def readSql(spark: SparkSession, jdbcUrl: String, table: String): DataFrame =
    sources.Sql.readSql(spark, jdbcUrl, table)
  // lakehouse tables + HF hub (ref read_deltalake/read_iceberg/read_hudi/
  // read_huggingface) — open-spec implementations, see graft.sources
  /** `dataFilter` enables planning-time file skipping over per-file
    * stats (min/max/nullCount); it is also applied as a row filter, so
    * results match a plain read + filter exactly. */
  def readDeltalake(spark: SparkSession, path: String, versionAsOf: Option[Long] = None,
      dataFilter: Option[Column] = None): DataFrame =
    sources.Delta.read(spark, path, versionAsOf, dataFilter = dataFilter)
  def writeDeltalake(df: DataFrame, path: String, mode: String = "append",
      partitionBy: Seq[String] = Nil): Long =
    sources.Delta.write(df, path, mode, partitionBy)
  // Delta maintenance (ref write_deltalake's companion operations;
  // production Delta's OPTIMIZE [ZORDER BY] / VACUUM)
  def optimizeDeltalake(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Long =
    sources.Delta.compact(spark, path, targetFileBytes)
  def optimizeDeltalakeZorder(spark: SparkSession, path: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20): Long =
    sources.Delta.optimizeZorder(spark, path, cols, targetFileBytes)
  def vacuumDeltalake(spark: SparkSession, path: String,
      retainMillis: Long = 7L * 24 * 3600 * 1000): Int =
    sources.Delta.vacuum(spark, path, retainMillis)
  /** Row-level copy-on-write DML; returns (version, rows affected). */
  def deleteDeltalake(spark: SparkSession, path: String, pred: Column): (Long, Long) =
    sources.Delta.delete(spark, path, pred)
  def updateDeltalake(spark: SparkSession, path: String,
      set: Map[String, Column], pred: Column): (Long, Long) =
    sources.Delta.update(spark, path, set, pred)
  /** MERGE INTO by key (upsert); returns (version, updated, inserted). */
  def mergeDeltalake(spark: SparkSession, path: String,
      source: DataFrame, key: String): (Long, Long, Long) =
    sources.Delta.merge(spark, path, source, key)
  def readIceberg(spark: SparkSession, path: String, snapshotId: Option[Long] = None,
      dataFilter: Option[Column] = None): DataFrame =
    sources.Iceberg.read(spark, path, snapshotId, dataFilter = dataFilter)
  def writeIceberg(df: DataFrame, path: String, mode: String = "append",
      partitionBy: Seq[String] = Nil): Long =
    sources.Iceberg.write(df, path, mode, partitionBy)
  def deleteIceberg(spark: SparkSession, path: String, pred: Column): (Long, Long) =
    sources.Iceberg.delete(spark, path, pred)
  def updateIceberg(spark: SparkSession, path: String,
      set: Map[String, Column], pred: Column): (Long, Long) =
    sources.Iceberg.update(spark, path, set, pred)
  def readHudi(spark: SparkSession, path: String, asOfInstant: Option[String] = None): DataFrame =
    sources.Hudi.read(spark, path, asOfInstant)
  def writeHudi(df: DataFrame, path: String, mode: String = "append",
      partitionBy: Seq[String] = Nil): String =
    sources.Hudi.write(df, path, mode, partitionBy)
  def deleteHudi(spark: SparkSession, path: String, pred: Column): (String, Long) =
    sources.Hudi.delete(spark, path, pred)
  def updateHudi(spark: SparkSession, path: String,
      set: Map[String, Column], pred: Column): (String, Long) =
    sources.Hudi.update(spark, path, set, pred)
  def readHuggingface(spark: SparkSession, repo: String,
      config: Option[String] = None, split: Option[String] = None): DataFrame =
    sources.HuggingFace.read(spark, repo, config = config, split = split)
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)
}

/** Session/catalog facade (ref `daft/session.py:153-783` — attach_catalog,
  * create_temp_table, read_table, list_tables, …) over the Spark catalog.
  * Temp tables are session-scoped views; persistent tables go through the
  * configured Spark catalog (spark_catalog / an attached lakehouse catalog
  * when its jars are on the classpath). */
class GraftSession(val spark: SparkSession) {

  /** ref session.py create_temp_table: register a dataframe by name. */
  def createTempTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** ref session.py read_table("name"): resolve through the catalog. */
  def readTable(name: String): DataFrame = spark.table(name)

  /** ref session.py list_tables: names visible in the current database. */
  def listTables(): DataFrame =
    spark.sql("SHOW TABLES").select("tableName", "isTemporary")

  def dropTempTable(name: String): Unit = spark.catalog.dropTempView(name)

  /** Remove an orphaned managed-table location: the warehouse directory
    * outlives an in-memory (derby) catalog across JVMs, and saveAsTable
    * refuses to create a "new" table over a leftover directory. */
  private def clearOrphanLocation(name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
      val dir = new java.io.File(
        (if (wh.getScheme == "file") java.nio.file.Paths.get(wh).toString else wh.getPath) +
          "/" + name.toLowerCase)
      if (dir.isDirectory) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }

  /** ref session.py create_table: PERSISTENT table in the warehouse —
    * survives the session (managed parquet via saveAsTable), unlike
    * [[createTempTable]]'s view. */
  def createTable(name: String, df: DataFrame): Unit = {
    clearOrphanLocation(name)
    df.write.mode("overwrite").format("parquet").saveAsTable(name)
  }

  /** ref session.py write_table: append (or overwrite) into an existing
    * persistent table through the catalog. */
  def writeTable(name: String, df: DataFrame, mode: String = "append"): Unit =
    df.write.mode(mode).insertInto(name)

  def dropTable(name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$name`")

  /** Collect table + column statistics (the reference's stats enrichment,
    * `enrich_with_stats.rs` — here it's Spark's ANALYZE): row counts feed
    * CBO's cost model and, with `spark.sql.cbo.joinReorder.enabled`
    * (on in [[graft.Engine.session]]), multi-way inner joins are
    * re-ordered by estimated cardinality exactly like the reference's
    * reorder_joins pass. Column-level stats (ndv/min/max) sharpen the
    * join-selectivity estimates; pass the join/filter keys. */
  def analyzeTable(name: String, columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS FOR COLUMNS " +
        columns.map(c => s"`$c`").mkString(", "))
  }

  /** Bucketed persistent table: rows are hash-partitioned into `buckets`
    * files per partition on `bucketCols` at WRITE time, so joins and
    * aggregations on those keys later read co-located data and plan NO
    * shuffle exchange — the pre-partitioning pattern that turns the
    * biggest fact⋈fact shuffle at 100 TB into a map-side join. */
  def createBucketedTable(name: String, df: DataFrame,
      bucketCols: Seq[String], buckets: Int): Unit = {
    clearOrphanLocation(name)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
  }

  /** ref session.py current_namespace / set_namespace. */
  def currentNamespace: String = spark.catalog.currentDatabase
  def setNamespace(db: String): Unit = spark.catalog.setCurrentDatabase(db)

  /** ref session.py attach(alias=...): expose an external table location
    * (parquet dir/file) under a name, without copying. */
  def attachPath(name: String, path: String): Unit =
    spark.read.parquet(path).createOrReplaceTempView(name)

  /** Attach a lakehouse table (open-spec readers, graft.sources) for SQL
    * — the view reflects the snapshot at attach time; re-attach to see
    * later commits (same semantics as the reference's catalog attach). */
  def attachDelta(name: String, path: String, versionAsOf: Option[Long] = None): Unit =
    sources.Delta.read(spark, path, versionAsOf).createOrReplaceTempView(name)
  def attachIceberg(name: String, path: String, snapshotId: Option[Long] = None): Unit =
    sources.Iceberg.read(spark, path, snapshotId).createOrReplaceTempView(name)
  def attachHudi(name: String, path: String, asOfInstant: Option[String] = None): Unit =
    sources.Hudi.read(spark, path, asOfInstant).createOrReplaceTempView(name)

  def sql(query: String): DataFrame = spark.sql(query)
}

object GraftSession {
  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)
}

/** Extension methods putting the reference's DataFrame verbs (and graft's
  * custom operators) directly on Spark DataFrames. */
object implicits {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ---- reference verbs that are thin renames ----
    def exclude(cols: String*): DataFrame = df.drop(cols: _*)
    def withColumnsRenamedMap(m: Map[String, String]): DataFrame = df.withColumnsRenamed(m)
    def concatDf(other: DataFrame): DataFrame = df.union(other)
    def intoPartitions(n: Int): DataFrame = df.coalesce(n)
    def shufflePartitions(n: Int): DataFrame = df.repartition(n)

    /** Daft `dedup` on a column subset, keeping the first row by `keepBy`. */
    def dedupExact(dupCols: Seq[String], keepBy: String): DataFrame =
      ops.Dedup.exact(df, dupCols, keepBy)

    /** Daft `join_asof`. */
    def asofJoin(right: DataFrame, leftOn: String, rightOn: String,
        leftBy: Seq[String] = Nil, rightBy: Seq[String] = Nil,
        strategy: ops.AsofJoin.Strategy = ops.AsofJoin.Backward,
        toleranceMicros: Option[Long] = None): DataFrame =
      ops.AsofJoin.join(df, right, leftOn, rightOn, leftBy, rightBy, strategy, toleranceMicros)

    /** MinHash+LSH near-dup pairs over a text column. */
    def minhashDedup(idCol: String, textCol: String, shingleN: Int = 3,
        k: Int = 64, bandRows: Int = 1, threshold: Double = 0.8): DataFrame =
      ops.Dedup.minhashLshPairs(df, idCol, textCol, shingleN, k, bandRows, threshold)

    /** Exact n-gram jaccard near-dup pairs (inverted index). */
    def decontaminate(evalSet: DataFrame, textCol: String,
        evalTextCol: String, n: Int = 13): DataFrame =
      ops.Dedup.decontaminate(df, textCol, evalSet, evalTextCol, n)
    def ngramDedup(idCol: String, textCol: String, n: Int = 3,
        threshold: Double = 0.8): DataFrame =
      ops.Dedup.ngramJaccardPairs(df, idCol, textCol, n, threshold)

    /** Brute-force cosine top-k of `queries` against this corpus. */
    def dedupClusters(aCol: String, bCol: String): DataFrame =
      ops.Dedup.clusters(df, aCol, bCol)

    def saltedJoin(small: DataFrame, bigKey: String, smallKey: String,
        salts: Int = 16): DataFrame =
      ops.Skew.saltedJoin(df, small, bigKey, smallKey, salts)

    def bloomPrefilteredJoin(small: DataFrame, bigKey: String, smallKey: String,
        expectedItems: Long, fpp: Double = 0.003): DataFrame =
      ops.Prune.bloomPrefilteredJoin(df, small, bigKey, smallKey, expectedItems, fpp)

    def repetitionStats(idCol: String, textCol: String): DataFrame =
      ops.TextAnalysis.repetitionStats(df, idCol, textCol)

    def similarTopK(queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
      ops.Similarity.bruteForceTopK(queries, df, idCol, vecCol, idCol, vecCol, k)

    /** 1-of-N deterministic shard (ref ops/shard.rs). */
    def shard(worldSize: Int, rank: Int, keyCol: String): DataFrame =
      df.filter(pmod(xxhash64(col(keyCol)), lit(worldSize)) === rank)

    // ---- curation verbs (ops/Curate.scala) ----
    def mixDomains(domainCol: String, orderCol: String,
        weights: Map[String, Double], total: Long): DataFrame =
      ops.Curate.mixDomains(df, domainCol, orderCol, weights, total)
    def mixDomainsByBudget(domainCol: String, orderCol: String,
        weightCol: Column, budgets: Map[String, Long]): DataFrame =
      ops.Curate.mixDomainsByBudget(df, domainCol, orderCol, weightCol, budgets)
    def lmScore(idCol: String, textCol: String): DataFrame =
      ops.Curate.lmScore(df, idCol, textCol)
    def packSequences(idCol: String, textCol: String, budget: Int,
        shardSize: Long = 4096): DataFrame =
      ops.Curate.packSequences(df, idCol, textCol, budget, shardSize)

    // ---- runtime introspection (ref dataframe.py:247 metrics,
    //      dataframe.py:254 skipped_corrupt_files) ----
    /** Materialize and return (rows, per-plan-node metrics frame). */
    def collectWithMetrics(): (Array[org.apache.spark.sql.Row], DataFrame) =
      ops.ExecMetrics.collectWithMetrics(df)

    // ---- reference writer verbs (dataframe.py write_* family) ----
    def writeSink(sink: sources.DataSink): DataFrame =
      sources.Sinks.writeSink(df, sink)
    def writeClickhouse(endpoint: String, table: String,
        database: String = "default"): DataFrame =
      sources.Sinks.writeSink(df, new sources.ClickHouse.Sink(endpoint, table, database))
    def writeTurbopuffer(endpoint: String, namespace: String, apiKey: String = "",
        idColumn: String = "id", vectorColumn: String = "vector"): DataFrame =
      sources.Sinks.writeSink(df,
        new sources.Turbopuffer.Sink(endpoint, namespace, apiKey, idColumn, vectorColumn))
    def writeHuggingface(repo: String,
        endpoint: String = "https://huggingface.co", token: Option[String] = None,
        overwrite: Boolean = false): DataFrame =
      sources.HuggingFaceUpload.upload(df, repo, endpoint, token, overwrite = overwrite)

    /** Per-column summary stats (ref describe/summarize;
      * ref src/daft-logical-plan/src/ops/summarize.rs:48 computes all
      * columns in ONE pass). A single `agg` emits every per-column stat,
      * then the 1-row result is exploded into one row per column — the
      * table is scanned exactly once regardless of column count.
      *
      * `approxDistinct = true` (default, matching the reference's
      * approx_count_distinct) keeps the distinct count a mergeable HLL
      * sketch — the only shape that survives a 100 TB describe; exact
      * mode is for small frames / oracle comparison.
      */
    def summarizeCols(cols: String*): DataFrame = summarizeColsWith(cols)

    def summarizeColsWith(cols: Seq[String], approxDistinct: Boolean = true): DataFrame = {
      val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      def nd(c: String): Column =
        if (approxDistinct) approx_count_distinct(col(c)) else countDistinct(col(c))
      val aggs = cols.flatMap { c =>
        Seq(
          count(col(c)).as(s"${c}__cnt"),
          (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
          nd(c).as(s"${c}__nd"),
          min(col(c)).cast("string").as(s"${c}__min"),
          max(col(c)).cast("string").as(s"${c}__max"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("column"),
          lit(types.getOrElse(c, "unknown")).as("dtype"),
          col(s"${c}__cnt").as("cnt"),
          col(s"${c}__nulls").as("nulls"),
          col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__min").as("min_str"),
          col(s"${c}__max").as("max_str"))): _*)).as("s"))
        .select("s.*")
    }
  }

  implicit class GraftColumnOps(private val c: Column) extends AnyVal {
    def jaroWinkler(other: Column): Column = functions.Strings.jaroWinkler(c, other)
    def cosineSim(other: Column): Column = functions.Distance.cosineSimilarityNative(c, other)
    def tokenCount: Column = ops.TextAnalysis.tokenCount(c)
    def qualityScore: Column = ops.TextAnalysis.qualityScore(c)
    def langId: Column = ops.TextAnalysis.langId(c)
    def fingerprint: Column = ops.TextAnalysis.fingerprint(c)
    def scrubPii: Column = ops.TextAnalysis.scrubPii(c)
    def minhash(k: Int, seed: Long = 1L): Column = functions.Misc.minhash(c, k, seed)
    def simhash: Column = functions.Misc.simhash(c)
  }
}
