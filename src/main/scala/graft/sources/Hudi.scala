package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Apache Hudi copy-on-write source/sink implemented from the OPEN TABLE
  * LAYOUT (hudi.apache.org/docs concepts: timeline + file groups; ref
  * surface `daft/io/_hudi.py` `read_hudi`). The Hudi runtime jars are
  * absent here (SURVEY §8.7 probe), so — like [[Delta]]/[[Iceberg]] — the
  * table layout is implemented from its published spec.
  *
  * Layout subset (copy-on-write snapshot queries):
  *  - `.hoodie/hoodie.properties` holds table name/type/version;
  *    `.hoodie/<instantTime>.commit` (JSON) records, per partition path,
  *    the data files written by that commit; requested instants carry
  *    `.commit.requested`/`.inflight` markers (uncommitted instants are
  *    invisible to readers).
  *  - data files are parquet named `<fileId>_<writeToken>_<instantTime>
  *    .parquet`; all files sharing a fileId form a FILE GROUP, and a
  *    copy-on-write commit that updates a file group writes a NEW version
  *    (file slice) with the same fileId at the new instant time.
  *  - snapshot read at instant T: for every file group, take the newest
  *    file slice with instantTime <= T among completed commits. Overwrite
  *    is expressed with the `replacecommit` action: partitions/file
  *    groups it replaces are dropped from the view.
  *  - merge-on-read tables (log files, compaction) are rejected
  *    explicitly, not misread.
  *
  * Scale shape: the timeline walk is driver-side planning over KBs of
  * JSON; data is ONE parquet scan of the selected slices; partition
  * columns are re-attached from partition paths via the shared
  * [[PartitionedFiles]] broadcast-join (pruning culls partitions before
  * the scan).
  */
object Hudi {

  private def mapper = new ObjectMapper()

  private def hoodieDir(tablePath: String) = Paths.get(tablePath, ".hoodie")

  final case class FileSlice(partitionPath: String, fileId: String,
      instantTime: String, relPath: String)

  final case class Timeline(
      tablePath: String,
      schema: StructType,
      partitionColumns: Seq[String],
      completedInstants: Seq[String],
      slices: Seq[FileSlice])

  /** Parse the completed timeline up to `asOfInstant` and resolve the
    * latest file slice per file group. */
  def timeline(tablePath: String, asOfInstant: Option[String] = None): Timeline = {
    val dir = hoodieDir(tablePath)
    require(Files.isDirectory(dir), s"not a Hudi table (no .hoodie): $tablePath")
    val props = Files.readAllLines(dir.resolve("hoodie.properties"), StandardCharsets.UTF_8)
      .asScala.filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val Array(k, v) = l.split("=", 2); k.trim -> v.trim }.toMap
    require(props.getOrElse("hoodie.table.type", "COPY_ON_WRITE") == "COPY_ON_WRITE",
      "merge-on-read Hudi tables are not supported (log files/compaction not implemented)")
    val schema = DataType.fromJson(props("hoodie.table.create.schema"))
      .asInstanceOf[StructType]
    val partCols = props.get("hoodie.table.partition.fields")
      .filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)

    // completed commits: <instant>.commit / <instant>.replacecommit present
    // (requested/inflight-only instants are invisible)
    val listing = Files.list(dir)
    val commits =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .collect {
          case n if n.endsWith(".commit") => (n.stripSuffix(".commit"), "commit")
          case n if n.endsWith(".replacecommit") => (n.stripSuffix(".replacecommit"), "replacecommit")
        }
        .filter { case (t, _) => asOfInstant.forall(t <= _) }
        .toSeq.sortBy(_._1)
      finally listing.close()

    var groups = Map.empty[(String, String), FileSlice] // (partition, fileId) -> latest slice
    commits.foreach { case (instant, action) =>
      val node = mapper.readTree(Files.readAllBytes(
        dir.resolve(s"$instant.$action")))
      if (action == "replacecommit") {
        // file groups listed as replaced drop out of the snapshot view
        Option(node.get("partitionToReplaceFileIds")).foreach { rep =>
          rep.properties().asScala.foreach { e =>
            val part = e.getKey
            e.getValue.elements().asScala.foreach { fid =>
              groups -= (part -> fid.asText)
            }
          }
        }
      }
      Option(node.get("partitionToWriteStats")).foreach { pw =>
        pw.properties().asScala.foreach { e =>
          val part = e.getKey
          e.getValue.elements().asScala.foreach { stat =>
            val fileId = stat.get("fileId").asText
            val path = stat.get("path").asText
            groups += ((part, fileId) -> FileSlice(part, fileId, instant, path))
          }
        }
      }
    }
    Timeline(tablePath, schema, partCols, commits.map(_._1), groups.values.toSeq)
  }

  /** Snapshot-read a Hudi CoW table (one parquet scan).
    *
    * @param asOfInstant      time travel: read the snapshot as of this
    *                         instant time (inclusive)
    * @param partitionFilter  planning-time pruning on the partition-path
    *                         values */
  def read(
      spark: SparkSession,
      tablePath: String,
      asOfInstant: Option[String] = None,
      partitionFilter: Map[String, String] => Boolean = _ => true): DataFrame = {
    val tl = timeline(tablePath, asOfInstant)
    val live = tl.slices.filter(s => partitionFilter(partitionValues(tl, s.partitionPath)))
    PartitionedFiles.readWithPartitions(
      spark, tl.schema, tl.partitionColumns,
      live.map(s => s"$tablePath/${s.relPath}"),
      live.map(s => partitionValues(tl, s.partitionPath)))
  }

  private def partitionValues(tl: Timeline, partitionPath: String): Map[String, String] =
    if (partitionPath.isEmpty || tl.partitionColumns.isEmpty) Map.empty
    else partitionPath.split('/').map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
            else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
    }.toMap

  /** Write a commit. `mode` `"append"` adds new file groups;
    * `"overwrite"` emits a `replacecommit` that replaces every live file
    * group, then adds. Instant times are monotonically increasing
    * timestamps per the spec (yyyyMMddHHmmssSSS). */
  def write(
      df: DataFrame,
      tablePath: String,
      mode: String = "append",
      partitionBy: Seq[String] = Nil): String = {
    require(mode == "append" || mode == "overwrite", s"unsupported mode $mode")
    val dir = hoodieDir(tablePath)
    val exists = Files.exists(dir.resolve("hoodie.properties"))
    val prior = if (exists) Some(timeline(tablePath)) else None
    val partCols = prior match {
      case Some(tl) =>
        require(partitionBy.isEmpty || partitionBy == tl.partitionColumns,
          s"partitionBy $partitionBy does not match table partitioning ${tl.partitionColumns}")
        tl.partitionColumns
      case None => partitionBy
    }
    // both modes: the table schema lives in hoodie.properties, written
    // once at create — overwrite replaces data, not schema
    prior.foreach(tl =>
      PartitionedFiles.requireSameSchema(tl.schema, df.schema, s"hudi $mode to $tablePath"))

    val overwrite = mode == "overwrite"
    val action = if (overwrite) "replacecommit" else "commit"
    val instant = claimInstant(dir, action, prior.map(_.completedInstants).getOrElse(Nil))
    if (!exists) {
      val props = Seq(
        "hoodie.table.name=" + Paths.get(tablePath).getFileName,
        "hoodie.table.type=COPY_ON_WRITE",
        "hoodie.table.version=6",
        "hoodie.table.create.schema=" + df.schema.json,
        "hoodie.table.partition.fields=" + partCols.mkString(","))
      Files.write(dir.resolve("hoodie.properties"),
        props.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }

    // overwrite replaces EVERY file group the planning timeline saw: a
    // commit that landed since makes that replacement a lost update —
    // refuse (appends are always serializable: they only add new groups)
    commitInstant(tablePath, instant, action, df, partCols,
      Option.when(overwrite)(prior.map(_.slices).getOrElse(Nil)),
      if (overwrite) "insert_overwrite_table" else "insert",
      Option.when(overwrite)(prior.map(_.completedInstants).getOrElse(Nil)),
      s"hudi overwrite of $tablePath conflicts with a concurrent commit — retry")
    instant
  }

  /** Land `df` as the files of the claimed `instant` (spec ordering:
    * requested -> inflight -> data -> completed) and publish a commit
    * listing them per partition, plus the file groups it `replaces`.
    * With `planned` (the completed instants the caller planned against),
    * any commit completed since makes the instant stale: it aborts with
    * `conflict` instead. */
  private def commitInstant(tablePath: String, instant: String, action: String,
      df: DataFrame, partCols: Seq[String], replaces: Option[Seq[FileSlice]],
      operation: String, planned: Option[Seq[String]], conflict: String): Unit = {
    val dir = hoodieDir(tablePath)
    Files.write(dir.resolve(s"$instant.$action.inflight"), Array.emptyByteArray)
    val staged = PartitionedFiles.stageAndMove(df, tablePath, partCols,
      renamePart = p => s"${UUID.randomUUID()}_0-0-0_$instant.parquet")

    val om = mapper
    val root = om.createObjectNode()
    val pw = root.putObject("partitionToWriteStats")
    staged.groupBy(f => partitionPathOf(f.relPath)).foreach { case (part, files) =>
      val arr = pw.putArray(part)
      files.foreach { f =>
        val st = arr.addObject()
        st.put("fileId", f.relPath.substring(f.relPath.lastIndexOf('/') + 1).split('_')(0))
        st.put("path", f.relPath)
        st.put("fileSizeInBytes", f.sizeBytes)
      }
    }
    replaces.foreach { slices =>
      val rep = root.putObject("partitionToReplaceFileIds")
      slices.groupBy(_.partitionPath).foreach { case (part, ss) =>
        val arr = rep.putArray(part)
        ss.map(_.fileId).distinct.foreach(arr.add)
      }
    }
    root.put("operation", operation)
    if (planned.exists(_ != completedInstantsNow(tablePath)))
      abortInstant(tablePath, dir, instant, action, staged, conflict)
    publishCommit(dir, instant, action, om.writeValueAsBytes(root))
  }

  /** Make the instant visible atomically: stage the commit json then
    * hard-link-claim it in (concurrent timeline() listings either see the
    * complete file or no file — never a partial json; a racing claimant
    * for the same instant fails with EEXIST instead of silently
    * replacing the winner), then drop the markers. */
  private def publishCommit(dir: Path, instant: String, action: String,
      json: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".tmp-$instant-${UUID.randomUUID()}")
    Files.write(tmp, json)
    AtomicClaim.publish(tmp, dir.resolve(s"$instant.$action"))
    Files.deleteIfExists(dir.resolve(s"$instant.$action.requested"))
    Files.deleteIfExists(dir.resolve(s"$instant.requested"))
    Files.deleteIfExists(dir.resolve(s"$instant.$action.inflight"))
  }

  /** Row-level DELETE via copy-on-write: file groups containing matches
    * are replaced in ONE `replacecommit` (`partitionToReplaceFileIds`
    * drops the old groups, `partitionToWriteStats` adds the rewritten
    * files — Hudi's insert-overwrite machinery applied per-group).
    * Column stats live in Hudi's metadata table (HFile, out of from-spec
    * scope), so every file slice is a candidate of the one distributed
    * per-file match count. NULL predicate keeps the row.
    * Returns (commit instant, rows deleted). */
  def delete(spark: SparkSession, tablePath: String,
      pred: org.apache.spark.sql.Column): (String, Long) =
    dml(spark, tablePath, pred, "delete", PartitionedFiles.deleteRows)

  /** Row-level UPDATE via copy-on-write: `set` maps column name →
    * replacement expression, applied where `pred` holds. */
  def update(
      spark: SparkSession,
      tablePath: String,
      set: Map[String, org.apache.spark.sql.Column],
      pred: org.apache.spark.sql.Column): (String, Long) =
    dml(spark, tablePath, pred, "upsert", PartitionedFiles.updateRows(set))

  private def dml(
      spark: SparkSession,
      tablePath: String,
      pred: org.apache.spark.sql.Column,
      operation: String,
      rewrite: (DataFrame, org.apache.spark.sql.Column) => DataFrame): (String, Long) = {
    val tl = timeline(tablePath)
    val files = new PartitionedFiles.CowFiles[FileSlice](spark, tl.schema, tl.partitionColumns,
      s => s"$tablePath/${s.relPath}", s => partitionValues(tl, s.partitionPath))
    files.rewrite(tl.slices, pred)(rewrite) match {
      case None => (tl.completedInstants.maxOption.getOrElse(""), 0L)
      case Some((touched, changed, rows)) =>
        val instant = claimInstant(hoodieDir(tablePath), "replacecommit", tl.completedInstants)
        // serializability: this replacecommit rewrites file groups as
        // read at planning time — ANY commit completed since (a rewrite of
        // the same groups, or an append whose rows this DML never saw)
        // makes the rewrite stale; refuse rather than lose the update
        commitInstant(tablePath, instant, "replacecommit", rows, tl.partitionColumns,
          Some(touched), operation, Some(tl.completedInstants),
          s"hudi $operation on $tablePath conflicts with a concurrent commit — retry")
        (instant, changed)
    }
  }

  /** Physically delete file slices no longer visible to the latest
    * snapshot (Hudi's cleaner with KEEP_LATEST_COMMITS=1 semantics).
    * Time travel to cleaned instants stops resolving those slices.
    * Returns the number of files deleted. */
  def clean(tablePath: String): Int = {
    val tl = timeline(tablePath)
    val live = tl.slices.map(_.relPath).toSet
    // every file any commit ever wrote, minus the live set
    var deleted = 0
    tl.completedInstants.foreach { instant =>
      val dir = hoodieDir(tablePath)
      val f = Seq("commit", "replacecommit").map(a => dir.resolve(s"$instant.$a"))
        .find(Files.exists(_)).get
      val node = mapper.readTree(Files.readAllBytes(f))
      Option(node.get("partitionToWriteStats")).foreach { pw =>
        pw.properties().asScala.foreach { e =>
          e.getValue.elements().asScala.foreach { stat =>
            val p = stat.get("path").asText
            if (!live.contains(p) && Files.deleteIfExists(Paths.get(tablePath, p)))
              deleted += 1
          }
        }
      }
    }
    deleted
  }

  private def partitionPathOf(relPath: String): String = {
    val i = relPath.lastIndexOf('/')
    if (i < 0) "" else relPath.substring(0, i)
  }

  /** Monotonic instant times even for back-to-back commits in one ms. */
  private def newInstantTime(existing: Seq[String]): String = {
    val fmt = new java.text.SimpleDateFormat("yyyyMMddHHmmssSSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    var t = fmt.format(new java.util.Date())
    val max = existing.maxOption.getOrElse("")
    if (t <= max) t = (BigInt(max) + 1).toString
    t
  }

  /** Atomically claim a unique instant: CREATE_NEW on the `.requested`
    * marker is the mutual-exclusion point. Two writers that compute the
    * same millisecond timestamp race on the filesystem's atomic create;
    * the loser bumps the instant and retries — without this, the second
    * writer's markers and commit json silently OVERWRITE the first's
    * (lost update). Mirrors hudi's timeline-server instant creation. */
  private[graft] def claimInstant(dir: Path, action: String, existing: Seq[String]): String = {
    Files.createDirectories(dir)
    var instant = newInstantTime(existing)
    var claimed = false
    while (!claimed) {
      try {
        // claim on an ACTION-INDEPENDENT marker: keying the CREATE_NEW on
        // `$instant.$action.requested` would let an `append` (commit) and a
        // DML (replacecommit) writer both claim the same instant time —
        // Hudi requires instant times to be unique across the timeline.
        // The completed-commit reader only consumes `.commit`/
        // `.replacecommit` files, so the extra marker is invisible to it.
        Files.write(dir.resolve(s"$instant.requested"), Array.emptyByteArray,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          instant = (BigInt(instant) + 1).toString
      }
    }
    // spec-shaped requested marker for timeline tooling (not the lock)
    Files.write(dir.resolve(s"$instant.$action.requested"), Array.emptyByteArray)
    instant
  }

  /** Completed instants on disk RIGHT NOW — the cheap re-list a committer
    * uses to detect concurrent commits since its planning snapshot. */
  private[graft] def completedInstantsNow(tablePath: String): Seq[String] = {
    val dir = hoodieDir(tablePath)
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.map(_.getFileName.toString).collect {
      case n if n.endsWith(".commit") => n.stripSuffix(".commit")
      case n if n.endsWith(".replacecommit") => n.stripSuffix(".replacecommit")
    }.toSeq.sorted
  }

  /** Abort an in-flight instant: remove markers and staged data files. */
  private def abortInstant(tablePath: String, dir: Path, instant: String, action: String,
      staged: Seq[PartitionedFiles.StagedFile], reason: String): Nothing = {
    staged.foreach(f => Files.deleteIfExists(Paths.get(s"$tablePath/${f.relPath}")))
    Files.deleteIfExists(dir.resolve(s"$instant.$action.inflight"))
    Files.deleteIfExists(dir.resolve(s"$instant.$action.requested"))
    Files.deleteIfExists(dir.resolve(s"$instant.requested"))
    throw new IllegalStateException(reason)
  }

  private[graft] def deleteTable(tablePath: String): Unit =
    PartitionedFiles.deleteRecursively(Paths.get(tablePath))
}
