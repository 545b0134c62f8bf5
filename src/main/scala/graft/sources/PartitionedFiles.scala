package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared machinery of the table formats ([[Delta]], [[Iceberg]],
  * [[Hudi]]): hive-layout staging on write, metadata-driven partition
  * re-attachment on read, and the copy-on-write DML recipe.
  *
  * Copy-on-write DELETE / UPDATE / MERGE is one recipe for every format:
  * (1) the format prunes its candidate files; (2) ONE distributed pass
  * counts the matching rows per candidate file; (3) the files with a
  * match are the touched ones; (4) only those are read back; (5) their
  * rows are rewritten; (6) the format stages the result and commits
  * touched-out / staged-in. Steps 2–5 live in [[CowFiles]]; a format
  * supplies only its candidate files, its subtraction of tombstoned rows
  * (Delta deletion vectors, Iceberg delete files; none for Hudi) and its
  * commit.
  *
  * Scale shape: the read side is ONE parquet scan over the live file set;
  * partition columns are re-attached by a BROADCAST join against the tiny
  * file→partition-values map keyed on the scan's hidden
  * `_metadata.file_path` column — never a union of one scan per partition
  * (which explodes the plan at 10k partitions). The join key is the
  * table-relative path (partition dirs + basename): a single `partitionBy`
  * write job emits identically-named part files into every partition
  * directory, so a basename alone would collide. */
private[graft] object PartitionedFiles {

  /** Extra scan columns of row-level DML: the DECODED absolute source
    * file of a row, and the row's ordinal within that file. */
  val SrcCol = "__graft_src"
  val PosCol = "__graft_pos"

  /** The key a file list and a scan's [[SrcCol]] agree on. */
  def normPath(p: String): String = Paths.get(p).normalize.toString

  private[sources] val normPathUdf = udf((p: String) => normPath(p))

  /** One format's data files `F` as the copy-on-write recipe sees them:
    * a file's absolute path and partition values, and the format's
    * subtraction of tombstoned rows from a scan of some of its files
    * that carries [[SrcCol]] and [[PosCol]]. */
  final class CowFiles[F](
      spark: SparkSession,
      schema: StructType,
      partitionColumns: Seq[String],
      path: F => String,
      partitionValues: F => Map[String, String],
      minusDeleted: (DataFrame, Seq[F]) => DataFrame = (df: DataFrame, _: Seq[F]) => df) {

    /** The live rows of `files`, carrying [[SrcCol]] and [[PosCol]]. */
    def liveRows(files: Seq[F]): DataFrame =
      minusDeleted(readWithPartitions(spark, schema, partitionColumns,
        files.map(path), files.map(partitionValues), withSource = true), files)

    /** Steps 2–3: the candidates holding a live row that `matching`
      * keeps, and the number of such rows, from one count per file. */
    def touched(candidates: Seq[F])(matching: DataFrame => DataFrame): (Seq[F], Long) =
      if (candidates.isEmpty) (Nil, 0L)
      else {
        val perFile = matching(liveRows(candidates)).groupBy(col(SrcCol)).count().collect()
          .map(r => normPath(r.getString(0)) -> r.getLong(1)).toMap
        (candidates.filter(f => perFile.getOrElse(normPath(path(f)), 0L) > 0L),
          perFile.valuesIterator.sum)
      }

    /** Steps 2–5 of DELETE and UPDATE: None when no live row matches
      * `pred` (NULL counts as no match); else the touched files, the
      * matching row count and the touched files' rows after `rewrite`,
      * which gets the NULL-safe match column. */
    def rewrite(candidates: Seq[F], pred: Column)(
        rewrite: (DataFrame, Column) => DataFrame): Option[(Seq[F], Long, DataFrame)] = {
      val hit = coalesce(pred, lit(false))
      val (files, n) = touched(candidates)(_.filter(hit))
      if (files.isEmpty) None
      else Some((files, n, rewrite(liveRows(files).drop(SrcCol, PosCol), hit)))
    }
  }

  /** DELETE's rewrite: drop the matching rows. */
  val deleteRows: (DataFrame, Column) => DataFrame = (rows, hit) => rows.filter(!hit)

  /** UPDATE's rewrite: `set` maps column name → replacement expression,
    * cast to the column's type and applied where the match holds. */
  def updateRows(set: Map[String, Column]): (DataFrame, Column) => DataFrame = {
    require(set.nonEmpty, "update requires at least one column assignment")
    (rows, hit) => {
      val bad = set.keySet -- rows.columns.toSet
      require(bad.isEmpty, s"no such columns: ${bad.mkString(", ")}")
      rows.select(rows.schema.fields.toSeq.map(f => set.get(f.name).fold(col(f.name))(e =>
        when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name))): _*)
    }
  }

  final case class StagedFile(relPath: String, partitionValues: Map[String, String],
      sizeBytes: Long, rowCount: Long)

  /** Write `df` through a hive-layout staging dir, move the value-pure
    * part files into `tableRoot` (preserving `k=v` dirs under
    * `subDir`, when given), and return one entry per file with its typed
    * partition tuple parsed from the directory names. Row counts come
    * from a single metadata-only job over the staged files, not one job
    * per file. */
  def stageAndMove(
      df: DataFrame,
      tableRoot: String,
      partCols: Seq[String],
      subDir: String = "",
      countRows: Boolean = false,
      renamePart: Path => String = _.getFileName.toString): Seq[StagedFile] = {
    val staging = Paths.get(tableRoot, s".staging-${UUID.randomUUID()}")
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(staging.toString)

    val parts = Files.walk(staging).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toVector

    // one metadata-only job for all per-file row counts (an empty input
    // frame stages zero part files — nothing to read or count)
    val counts: Map[String, Long] =
      if (!countRows || parts.isEmpty) Map.empty
      else df.sparkSession.read.parquet(staging.toString)
        .groupBy(col("_metadata.file_path").as("p")).count()
        .collect().map(r => r.getString(0).replaceFirst("^file:(//)?", "") -> r.getLong(1)).toMap

    val out = mutable.ArrayBuffer.empty[StagedFile]
    parts.foreach { part =>
        val relDirs = staging.relativize(part.getParent).toString // k1=v1/k2=v2 or ""
        val pv: Map[String, String] = relDirs match {
          case "" => Map.empty
          case s => s.split('/').map { seg =>
            val Array(k, v) = seg.split("=", 2)
            // Catalyst's unescape is the exact inverse of partitionBy's
            // dir-name escaping (URLDecoder would corrupt '+' to space)
            k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
                  else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
          }.toMap
        }
        val prefix = if (subDir.isEmpty) "" else subDir + "/"
        val relPath = prefix + (if (relDirs.isEmpty) "" else relDirs + "/") + renamePart(part)
        val target = Paths.get(tableRoot).resolve(relPath)
        Files.createDirectories(target.getParent)
        val n = counts.getOrElse(part.toString, 0L)
        Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
        out += StagedFile(relPath, pv, Files.size(target), n)
      }
    deleteRecursively(staging)
    out.toSeq
  }

  /** One scan over `paths` (schema = table schema minus partition
    * columns), with partition columns re-attached from `filePv` (one
    * entry per path, same order, values as strings cast to the schema
    * type). The join key is the tail of the ABSOLUTE path (one segment
    * more than the partition depth), which works for hive layouts and
    * flat/foreign layouts alike — a file at the table root still has
    * enough absolute segments to key on. The scan-side `file_path` is
    * URI-encoded; when any path needs it, both sides key on the decoded
    * form (pure %XX decode — URI '+' is a literal, unlike forms). */
  def readWithPartitions(
      spark: SparkSession,
      schema: StructType,
      partitionColumns: Seq[String],
      paths: Seq[String],
      filePv: Seq[Map[String, String]],
      withSource: Boolean = false): DataFrame = {
    // withSource: carry [[SrcCol]], the DECODED absolute source-file path
    // (row-level DML groups on it to find the files holding matches), and
    // [[PosCol]], the row's ordinal within its file (_metadata.row_index;
    // the join key of position-addressed deletes: Iceberg v2 position
    // deletes, Delta deletion vectors).
    val ordered: Seq[Column] =
      (schema.fieldNames.toSeq ++ (if (withSource) Seq(SrcCol, PosCol) else Nil)).map(col)
    def addExtras(df: DataFrame): DataFrame =
      if (!withSource) df
      else df.withColumn(SrcCol, percentDecodeUdf(
          regexp_replace(col("_metadata.file_path"), "^file:(//)?", "")))
        .withColumn(PosCol, col("_metadata.row_index"))
    if (paths.isEmpty) {
      val outSchema = StructType(schema.fields.toSeq ++ (if (!withSource) Nil
        else Seq(StructField(SrcCol, StringType), StructField(PosCol, LongType))))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    }
    val dataSchema = StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
    if (partitionColumns.isEmpty) {
      val base = spark.read.schema(dataSchema).parquet(paths: _*)
      return addExtras(base).select(ordered: _*)
    }

    val segs = partitionColumns.size + 1
    def tailKey(p: String): String = p.split('/').takeRight(segs).mkString("/")
    val pvSchema = StructType(
      StructField("__graft_file", StringType) +:
        partitionColumns.map(c => StructField(s"__pv_$c", StringType)).toSeq)
    val pvRows = paths.zip(filePv).map { case (p, pv) =>
      Row.fromSeq(tailKey(p) +: partitionColumns.map(c => pv.getOrElse(c, null)))
    }
    val pvDf = spark.createDataFrame(spark.sparkContext.parallelize(pvRows, 1), pvSchema)
    val byName = schema.map(f => f.name -> f).toMap
    val rawKey =
      array_join(slice(split(col("_metadata.file_path"), "/"), -segs, segs), "/")
    val needsDecode = paths.exists(p => p.exists(c => c == '%' || c == ' ' || c > 126))
    val scanKey = if (needsDecode) percentDecodeUdf(rawKey) else rawKey
    val data0 = spark.read.schema(dataSchema).parquet(paths: _*)
      .withColumn("__graft_file", scanKey)
    val data = addExtras(data0)
    val joined = data.join(broadcast(pvDf), Seq("__graft_file"))
    val withParts = partitionColumns.foldLeft(joined) { (df, c) =>
      df.withColumn(c, col(s"__pv_$c").cast(byName(c).dataType))
    }
    withParts.select(ordered: _*)
  }

  /** Pure percent-decode (%XX → byte, '+' left literal — URI path
    * semantics, not x-www-form). */
  private[sources] def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    val bytes = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else { bytes.write(c.toString.getBytes("UTF-8")); i += 1 }
    }
    new String(bytes.toByteArray, "UTF-8")
  }

  private val percentDecodeUdf = udf((s: String) => percentDecode(s))

  /** Percent-encode a table-relative path so that [[percentDecode]] (and
    * java.net.URLDecoder) restore the on-disk literal: everything outside
    * unreserved + '/' + '=' is %XX-escaped, including '%' and '+'. */
  private[sources] def percentEncodePath(p: String): String = {
    val safe = ((('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')) ++ Seq('-', '_', '.', '~', '/', '=')).toSet
    val sb = new StringBuilder(p.length)
    p.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if (safe(c)) sb.append(c) else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Guard appends: same column names and types (nullability ignored —
    * relaxing nullable is harmless for readers). A mismatched append
    * would otherwise silently corrupt the table, since only the creating
    * commit records the schema. */
  def requireSameSchema(table: StructType, incoming: StructType, ctx: String): Unit = {
    def norm(s: StructType) = s.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
    require(norm(table) == norm(incoming),
      s"$ctx: appended schema ${incoming.simpleString} does not match table schema " +
        s"${table.simpleString}; schema changes require mode=overwrite")
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
}
