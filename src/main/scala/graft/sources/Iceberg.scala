package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Apache Iceberg source/sink implemented from the OPEN TABLE SPEC
  * (iceberg.apache.org/spec; ref surface `daft/io/_iceberg.py`
  * `read_iceberg` / `write_iceberg`). The Iceberg runtime jars are absent
  * here (SURVEY §8.7 probe), so — like [[Warc]]/[[Mcap]]/[[Delta]] — the
  * format is implemented from its published spec: JSON table metadata,
  * Avro manifest lists and manifests (read+written with the avro jar that
  * ships with Spark), parquet data files.
  *
  * Spec subset (format-version 1 append/overwrite core + the v2
  * merge-on-read read path):
  *  - table layout: `metadata/vN.metadata.json` + `version-hint.text`,
  *    snapshots pointing at an Avro manifest list, whose entries point at
  *    Avro manifests, whose entries point at parquet data files.
  *  - state: manifest entries with status EXISTING(0)/ADDED(1) are live,
  *    DELETED(2) are dropped. v2 POSITION deletes (content=1, parquet
  *    (file_path, pos) tombstones) are applied at read as an anti-join on
  *    (path, row ordinal) and written by [[deletePositions]]; v2 EQUALITY
  *    deletes (content=2, key tuples scoped by data sequence number,
  *    inherited per spec §Sequence Number Inheritance from the manifest
  *    list) are applied as null-safe anti-joins and written by
  *    [[deleteEquality]].
  *  - snapshot time travel: `snapshotId` picks any snapshot in the log.
  *  - schema: Iceberg's field-id JSON schema is converted to/from Spark
  *    `StructType` (primitives + struct/list/map/decimal).
  *
  * Scale shape: identical to [[Delta]] — the metadata walk is planner
  * work on KBs of Avro/JSON; data is ONE parquet scan over the live file
  * set (Iceberg stores identity-partition source columns inside the data
  * files, so no partition-value reattachment is needed); `partitionFilter`
  * culls files at planning time using the typed partition tuple each
  * manifest entry carries, so pruned files are never opened.
  */
object Iceberg {

  private def mapper = new ObjectMapper()

  /** `content` per spec: 0 = data, 1 = position deletes (the file's rows
    * are (file_path, pos) tombstones, not table rows), 2 = equality deletes
    * (rows are key tuples; a data row dies when its values null-safe-equal
    * a delete row on `equalityCols` AND the data file's sequence number is
    * strictly below the delete file's — `seq`, inherited from the manifest
    * list per spec §Sequence Number Inheritance). */
  final case class DataFileRef(path: String, recordCount: Long, sizeBytes: Long,
      partition: Map[String, String], stats: Option[String] = None, content: Int = 0,
      seq: Long = 0L, equalityCols: Seq[String] = Nil)

  final case class TableState(
      tablePath: String,
      snapshotId: Long,
      schema: StructType,
      partitionFields: Seq[String],
      files: Seq[DataFileRef],
      deleteFiles: Seq[DataFileRef] = Nil)

  // ------------------------------------------------------------ metadata io

  private def metadataDir(tablePath: String): Path = Paths.get(tablePath, "metadata")

  private def currentMetadataFile(tablePath: String): Path = {
    val hint = metadataDir(tablePath).resolve("version-hint.text")
    require(Files.exists(hint), s"not an Iceberg table (no version-hint.text): $tablePath")
    val v = new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt
    metadataDir(tablePath).resolve(s"v$v.metadata.json")
  }

  private def readMetadata(tablePath: String): JsonNode =
    mapper.readTree(Files.readAllBytes(currentMetadataFile(tablePath)))

  /** The schema node the table's current metadata declares (v1 `schema`,
    * v2 `schemas` + `current-schema-id`) — the AUTHORITY for field ids.
    * Writer paths must reuse this node, never regenerate one from the
    * Spark schema: a regenerated node re-keys fields sequentially, and
    * carried-forward manifests' lower/upper bounds (keyed by the original
    * ids) would decode against the wrong columns on later reads. */
  private def currentSchemaNode(meta: JsonNode): JsonNode =
    if (meta.has("schemas")) {
      val cur = meta.get("current-schema-id").asInt
      meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt == cur)
        .getOrElse(sys.error(s"current-schema-id $cur not in schemas"))
    } else meta.get("schema")

  /** Name+type equality ignoring nullability flags — the carry-vs-
    * regenerate decision for table metadata. */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType.catalogString)).toSeq ==
      b.fields.map(f => (f.name, f.dataType.catalogString)).toSeq

  /** Reconstruct live data files for a snapshot (default: current) with a
    * driver-side manifest walk — maintenance and writer paths need the
    * full list; the scan path goes through [[scanFiles]] (distributed
    * walk, pruned before collect) instead. */
  def state(tablePath: String, snapshotId: Option[Long] = None): TableState = {
    val (schema, partitionFields, snapId, manifests, fieldsById) = header(tablePath, snapshotId)
    val all = manifests.flatMap { case (mp, seq) => manifestEntries(tablePath, mp, seq, fieldsById) }
    val (dels, data) = all.partition(_.content != 0)
    TableState(tablePath, snapId, schema, partitionFields, data, dels)
  }

  /** Live data-file entries of one manifest — callable on an executor
    * (everything captured is serializable; avro ships with Spark). */
  private def manifestEntries(
      tablePath: String,
      manifestPath: String,
      manifestSeq: Long,
      fieldsById: Map[Int, (String, DataType)]): Seq[DataFileRef] = {
    val typeByName: Map[String, DataType] = fieldsById.values.toMap
    readAvro(manifestPath).flatMap { entry =>
      val status = entry.get("status").asInstanceOf[Int]
      if (status == 2) None // DELETED
      else {
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        def field(r: GenericRecord, n: String): Option[AnyRef] =
          Option(r.getSchema.getField(n)).flatMap(_ => Option(r.get(n)))
        // content: 0 = data, 1 = position deletes (applied as an anti-join
        // on (path, pos) at read), 2 = equality deletes (applied as a
        // null-safe anti-join on equality_ids columns, scoped by sequence
        // number). Entry-level sequence_number wins when present (written
        // for EXISTING entries by other engines); null inherits the
        // manifest's own sequence number from the manifest list.
        val content = field(df, "content").map(_.asInstanceOf[Int]).getOrElse(0)
        require(content >= 0 && content <= 2,
          s"unsupported Iceberg content=$content in $manifestPath")
        if (content != 0)
          require(df.get("file_format").toString.equalsIgnoreCase("PARQUET"),
            s"unsupported delete file format ${df.get("file_format")} (parquet only)")
        val seq = Option(entry.getSchema.getField("sequence_number"))
          .flatMap(_ => Option(entry.get("sequence_number")))
          .map(_.asInstanceOf[Long]).getOrElse(manifestSeq)
        val eqCols: Seq[String] =
          if (content != 2) Nil
          else field(df, "equality_ids").toSeq.flatMap {
            case l: java.util.List[_] => l.asScala.toSeq.map { id =>
              fieldsById.getOrElse(id.asInstanceOf[Int],
                sys.error(s"equality_ids field ${id} not in table schema"))._1
            }
            case _ => Nil
          }
        val partition = Option(df.get("partition").asInstanceOf[GenericRecord]).map { p =>
          p.getSchema.getFields.asScala.map { f =>
            // typed avro value → canonical string in the COLUMN's domain:
            // the spec stores date partitions as epoch-day ints and
            // timestamps as micros longs — stringifying those raw would
            // compare "19723" against "2024-01-08" downstream (pruning
            // and partition-column reattach both consume these strings)
            f.name -> ((p.get(f.name), typeByName.get(f.name)) match {
              case (null, _) => null
              case (i: java.lang.Integer, Some(DateType)) =>
                java.time.LocalDate.ofEpochDay(i.longValue).toString
              case (l: java.lang.Long, Some(TimestampType)) =>
                java.time.Instant.EPOCH.plus(l, java.time.temporal.ChronoUnit.MICROS).toString
              case (other, _) => other.toString
            })
          }.toMap
        }.getOrElse(Map.empty[String, String])
        Some(DataFileRef(
          resolve(tablePath, df.get("file_path").toString),
          df.get("record_count").asInstanceOf[Long],
          df.get("file_size_in_bytes").asInstanceOf[Long],
          partition,
          statsJson(df, fieldsById, df.get("record_count").asInstanceOf[Long]),
          content, seq, eqCols))
      }
    }
  }

  /** Planning header only (no file listing): schema, partition fields,
    * snapshot id, and (manifest path, sequence number) pairs —
    * O(manifests) driver work. */
  private def header(
      tablePath: String, snapshotId: Option[Long]): (StructType, Seq[String], Long, Seq[(String, Long)], Map[Int, (String, DataType)]) = {
    val meta = readMetadata(tablePath)
    val fv = meta.get("format-version").asInt
    require(fv == 1 || fv == 2, s"unsupported Iceberg format-version $fv")
    val schemaNode = currentSchemaNode(meta)
    val schema = icebergToSpark(schemaNode)
    val fieldsById: Map[Int, (String, DataType)] =
      Option(schemaNode.get("fields")).map(_.elements().asScala.flatMap { f =>
        val name = f.get("name").asText
        schema.fields.find(_.name == name)
          .map(sf => f.get("id").asInt -> (name, sf.dataType))
      }.toMap).getOrElse(Map.empty)
    val partitionFields: Seq[String] =
      if (meta.has("partition-specs")) {
        val cur = if (meta.has("default-spec-id")) meta.get("default-spec-id").asInt else 0
        meta.get("partition-specs").elements().asScala
          .find(_.get("spec-id").asInt == cur)
          .map(_.get("fields").elements().asScala.map(_.get("name").asText).toSeq)
          .getOrElse(Nil)
      } else if (meta.has("partition-spec"))
        meta.get("partition-spec").elements().asScala.map(_.get("name").asText).toSeq
      else Nil
    val snapId = snapshotId.getOrElse {
      require(meta.has("current-snapshot-id") && meta.get("current-snapshot-id").asLong != -1,
        s"Iceberg table has no current snapshot: $tablePath")
      meta.get("current-snapshot-id").asLong
    }
    val manifests = manifestsOf(tablePath, meta, snapId)
      .map { case (mp, _, seq) => (resolve(tablePath, mp), seq) }
    (schema, partitionFields, snapId, manifests, fieldsById)
  }

  /** The pruned live file set, with manifests parsed ON EXECUTORS and the
    * partition+bounds filters applied before anything returns to the
    * driver — at millions of files the driver holds only the manifest
    * path list and the surviving entries (production Iceberg's
    * distributed planning shape). */
  private def scanFiles(
      spark: SparkSession,
      tablePath: String,
      snapshotId: Option[Long],
      partitionFilter: Map[String, String] => Boolean,
      dataFilter: Option[org.apache.spark.sql.Column]): (StructType, Seq[String], Seq[DataFileRef], Seq[DataFileRef]) = {
    val (schema, partitionFields, _, manifests, fieldsById) = header(tablePath, snapshotId)
    val keepStats: (Option[String], Map[String, String]) => Boolean =
      dataFilter.map(DeltaStats.keep(_, schema, partitionFields)).getOrElse((_, _) => true)
    // bounds pruning runs on executors (its closure captures only a
    // serializable Catalyst expression); the caller-supplied
    // partitionFilter function may capture anything, so it filters the
    // already-pruned survivors on the driver. Delete files are NEVER
    // pruned: position deletes target data files by exact path (a delete
    // whose data file was pruned is a no-op in the anti-join) and
    // equality deletes apply by value, so pruning either kind could
    // resurrect rows.
    val entries: Seq[DataFileRef] =
      if (manifests.isEmpty) Nil
      else spark.sparkContext
        .parallelize(manifests, math.min(manifests.size, 64))
        .flatMap { case (mp, seq) => manifestEntries(tablePath, mp, seq, fieldsById)
          .filter(f => f.content != 0 || keepStats(f.stats, f.partition)) }
        .collect().toSeq
    val (dels, live) = entries.partition(_.content != 0)
    (schema, partitionFields, live.filter(f => partitionFilter(f.partition)), dels)
  }

  /** Read an Iceberg table as a DataFrame (one parquet scan; identity
    * partition columns re-attached from the manifests' partition tuples).
    *
    * @param snapshotId       time travel to this snapshot
    * @param partitionFilter  planning-time pruning over each file's
    *                         partition tuple (identity transforms)
    * @param dataFilter       planning-time file skipping over the
    *                         manifests' per-column lower/upper bounds
    *                         (spec §Manifests); ALSO applied as a row
    *                         filter, so results are identical with or
    *                         without bounds — skipping only changes which
    *                         files open. Pruning reuses [[DeltaStats]]'
    *                         conservative interval logic. */
  def read(
      spark: SparkSession,
      tablePath: String,
      snapshotId: Option[Long] = None,
      partitionFilter: Map[String, String] => Boolean = _ => true,
      dataFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (schema, partitionFields, live, dels) =
      scanFiles(spark, tablePath, snapshotId, partitionFilter, dataFilter)
    val df =
      if (dels.isEmpty)
        PartitionedFiles.readWithPartitions(
          spark, schema, partitionFields,
          live.map(_.path), live.map(_.partition))
      // merge-on-read: scan with (path, ordinal) attached, subtract deletes
      else cowFiles(spark, schema, partitionFields, dels).liveRows(live)
        .drop(PartitionedFiles.SrcCol, PartitionedFiles.PosCol)
    dataFilter.fold(df)(df.filter)
  }

  /** The table's data files for the copy-on-write recipe: a scan of
    * some of them subtracts the rows `dels` delete — position deletes
    * first, then equality deletes. */
  private def cowFiles(spark: SparkSession, schema: StructType, partitionFields: Seq[String],
      dels: Seq[DataFileRef]): PartitionedFiles.CowFiles[DataFileRef] =
    new PartitionedFiles.CowFiles[DataFileRef](spark, schema, partitionFields, _.path, _.partition,
      (data, live) => minusEquality(spark, minusTombstones(spark, data, dels),
        schema, live, dels.filter(_.content == 2)))

  /** v2 position deletes (spec §Position Delete Files): delete files are
    * parquet with reserved columns `file_path` (2147483546) + `pos`
    * (2147483545); a table row survives iff its (absolute file path,
    * ordinal within file) is not tombstoned. Applied as a distributed
    * anti-join on (path, `_metadata.row_index`) — no driver-side state;
    * the tombstone side stays proportional to deleted rows, not table
    * size, so Catalyst/AQE broadcast it when small and shuffle it when a
    * table carries billions of tombstones. File paths target exactly (the
    * spec's sequence-number scoping exists for engines that can order
    * commits; paths are unique per spec, so path-addressed application is
    * equivalent for reads of a consistent snapshot).
    *
    * Anti-join `data` (which must carry the source and position columns)
    * against the rows of the position-delete files in `dels`. */
  private def minusTombstones(
      spark: SparkSession, data: DataFrame, dels: Seq[DataFileRef]): DataFrame = {
    import org.apache.spark.sql.functions._
    val pos = dels.filter(_.content == 1)
    if (pos.isEmpty) return data
    val delSchema = StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType)))
    val tombstones = spark.read.schema(delSchema).parquet(pos.map(_.path): _*)
      .select(
        regexp_replace(col("file_path"), "^file:(//)?", "").as("__del_path"),
        col("pos").as("__del_pos"))
    data.join(tombstones,
        data(PartitionedFiles.SrcCol) === col("__del_path") &&
          data(PartitionedFiles.PosCol) === col("__del_pos"),
        "left_anti")
  }

  /** v2 equality deletes (spec §Equality Delete Files): a delete file's
    * rows are key tuples over the columns named by its `equality_ids`; a
    * data row dies when its values null-safe-equal a delete row on those
    * columns AND its file's data sequence number is STRICTLY below the
    * delete file's (rows re-inserted after the delete survive). A delete
    * file written with a partition tuple applies only inside that
    * partition; one with an empty tuple applies table-wide.
    *
    * Shape: each data row gets its file's sequence number via a broadcast
    * (path → seq) map join — O(live files) rows, planner-side state only —
    * then one anti-join per distinct (equality columns, partition scope)
    * group. The delete side is proportional to deleted keys, so AQE
    * broadcasts it when small and shuffles when huge. */
  private def minusEquality(
      spark: SparkSession,
      data: DataFrame,
      schema: StructType,
      live: Seq[DataFileRef],
      dels: Seq[DataFileRef]): DataFrame = {
    import org.apache.spark.sql.functions._
    val eqs = dels.filter(_.content == 2)
    if (eqs.isEmpty) return data
    eqs.foreach(f => require(f.equalityCols.nonEmpty,
      s"equality delete file without equality_ids: ${f.path}"))
    val seqSchema = StructType(Seq(
      StructField("__sq_nk", StringType), StructField("__graft_seq", LongType)))
    val seqRows = live.map(f => Row(PartitionedFiles.normPath(f.path), f.seq))
    val seqDf = spark.createDataFrame(
      spark.sparkContext.parallelize(seqRows, 1), seqSchema)
    val withSeq = data
      .withColumn("__sq_nk", PartitionedFiles.normPathUdf(col(PartitionedFiles.SrcCol)))
      .join(broadcast(seqDf), Seq("__sq_nk"))
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val out = eqs.groupBy(f => (f.equalityCols, f.partition)).toSeq
      .foldLeft(withSeq) { case (acc, ((cols, part), files)) =>
        val delSchema = StructType(cols.map(c => StructField(c, byName(c))))
        val delDf = files.map { f =>
          spark.read.schema(delSchema).parquet(f.path)
            .select(cols.map(c => col(c).as(s"__eq_$c")) :+
              lit(f.seq).as("__eq_seq"): _*)
        }.reduce(_ unionAll _)
        val keyCond = cols.map(c => acc(c) <=> delDf(s"__eq_$c")).reduce(_ && _)
        val cond = part.toSeq.foldLeft(keyCond && (acc("__graft_seq") < delDf("__eq_seq"))) {
          case (c, (k, null)) => c && acc(k).isNull
          case (c, (k, v)) => c && (acc(k) <=> lit(v).cast(byName(k)))
        }
        acc.join(delDf, cond, "left_anti")
      }
    out.drop("__sq_nk", "__graft_seq")
  }

  /** The file subset [[read]] would open for `dataFilter` — exposed so
    * tests (and planners) can assert skipping effectiveness. */
  def filesForScan(tablePath: String, dataFilter: org.apache.spark.sql.Column): Seq[DataFileRef] = {
    val st = state(tablePath)
    val keep = DeltaStats.keep(dataFilter, st.schema, st.partitionFields)
    st.files.filter(f => keep(f.stats, f.partition))
  }

  private def resolve(tablePath: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p.replaceFirst("^file:(//)?", "")
    else s"$tablePath/$p"

  private def readAvro(path: String): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      new File(path), new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toVector
    finally reader.close()
  }

  // ---------------------------------------------------------------- writer

  /** Append `df` as a new snapshot (or create the table). `overwrite`
    * replaces the table contents: prior files are recorded as DELETED in
    * the new snapshot's manifest, per the spec's copy-on-write overwrite.
    * Identity partitioning only (`partitionBy` column names); partition
    * source columns stay in the data files per the spec. Returns the new
    * snapshot id. */
  def write(
      df: DataFrame,
      tablePath: String,
      mode: String = "append",
      partitionBy: Seq[String] = Nil,
      formatVersion: Int = 1): Long = {
    require(mode == "append" || mode == "overwrite", s"unsupported mode $mode")
    require(formatVersion == 1 || formatVersion == 2,
      s"unsupported Iceberg format-version $formatVersion")
    val exists = Files.exists(metadataDir(tablePath).resolve("version-hint.text"))
    val prior: Option[(JsonNode, TableState)] =
      if (exists) {
        val m = readMetadata(tablePath)
        val st = if (m.has("current-snapshot-id") && m.get("current-snapshot-id").asLong != -1)
          Some(state(tablePath)) else None
        Some(m -> st.getOrElse(TableState(tablePath, -1, df.schema, partitionBy, Nil)))
      } else None
    val partCols = prior match {
      case Some((_, st)) =>
        require(partitionBy.isEmpty || partitionBy == st.partitionFields,
          s"partitionBy $partitionBy does not match table partitioning ${st.partitionFields}")
        st.partitionFields
      case None => partitionBy
    }
    if (mode == "append") prior.foreach { case (_, st) =>
      PartitionedFiles.requireSameSchema(st.schema, df.schema, s"iceberg append to $tablePath")
    }

    // 1. data files: hive-layout staging guarantees value-pure files so
    //    each manifest entry's partition tuple is exact (pruning-safe)
    val (newFiles, rawStats) = stageData(df, tablePath, df.schema, partCols)
    // manifest stats must be keyed by the TABLE's field ids: reuse the
    // prior metadata's schema node whenever it still describes the data
    // (same-schema append/overwrite); regenerate only for a new table or
    // a schema-changing overwrite.
    val schemaNode = prior.map(_._1).map(currentSchemaNode)
      .filter(n => sameShape(icebergToSpark(n), df.schema))
      .getOrElse(sparkToIceberg(mapper, df.schema))

    // 2. one snapshot: a manifest of the new files (on overwrite also
    //    every prior file, recorded as DELETED) at the new data sequence
    //    number, plus (on append) the prior snapshot's manifests carried
    //    forward with the seqs they were added at
    val removedAsDeleted: Seq[DataFileRef] =
      if (mode == "overwrite") prior.map(_._2.files).getOrElse(Nil).map(f =>
        f.copy(path = relativize(tablePath, f.path))) else Nil
    val priorManifests: Seq[(String, Long, Long)] =
      if (mode == "append")
        prior.filter(_._2.snapshotId != -1).map { case (m, st) =>
          manifestsOf(tablePath, m, st.snapshotId) }.getOrElse(Nil)
      else Nil
    commitSnapshot(tablePath, prior.map(_._1), df.schema, partCols, newFiles, removedAsDeleted,
      rawStats, fieldIdsOf(schemaNode), nextSequenceNumber(prior.map(_._1), formatVersion),
      if (mode == "overwrite") "overwrite" else "append", formatVersion)(_ => priorManifests)
  }

  /** Stage `df` as data files under `data/`: their refs with row counts
    * (one metadata job) and their per-column lower/upper bounds + null
    * counts (one distributed pass; spec §Manifests — the file-skipping
    * metadata [[read]] prunes on). */
  private def stageData(df: DataFrame, tablePath: String, schema: StructType,
      partCols: Seq[String]): (Seq[DataFileRef], Map[String, DeltaStats.RawFileStats]) = {
    val staged = PartitionedFiles
      .stageAndMove(df, tablePath, partCols, subDir = "data", countRows = true)
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    (staged.map(f => DataFileRef(f.relPath, f.rowCount, f.sizeBytes, f.partitionValues)),
      DeltaStats.collectRaw(df.sparkSession, tablePath, staged, dataSchema))
  }

  /** Commit one snapshot: a new manifest holding `added` (ADDED) and
    * `deleted` (DELETED), a manifest list of it at sequence number `seq`
    * plus `carried(snapshotId)`, then the metadata that makes the
    * snapshot current ([[publishMetadata]]). The manifest's partition
    * fields are `manifestPartCols` when given, else `partCols`. Returns
    * the snapshot id. */
  private def commitSnapshot(
      tablePath: String,
      prior: Option[JsonNode],
      schema: StructType,
      partCols: Seq[String],
      added: Seq[DataFileRef],
      deleted: Seq[DataFileRef],
      rawStats: Map[String, DeltaStats.RawFileStats],
      fieldIds: Map[String, Int],
      seq: Long,
      operation: String,
      formatVersion: Int = 1,
      manifestPartCols: Option[Seq[String]] = None)(carried: Long => Seq[(String, Long, Long)]): Long = {
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val manifest = metadataDir(tablePath).resolve(s"manifest-$snapshotId.avro")
    writeManifest(manifest, schema, manifestPartCols.getOrElse(partCols),
      schema.fields.map(f => f.name -> f.dataType).toMap,
      added, deleted, snapshotId, rawStats, fieldIds)
    val mlPath = metadataDir(tablePath).resolve(s"snap-$snapshotId.avro")
    writeManifestList(mlPath,
      (manifest.toString, Files.size(manifest), seq) +: carried(snapshotId), snapshotId)
    publishMetadata(tablePath, prior, schema, partCols, snapshotId, mlPath, operation,
      formatVersion)
    snapshotId
  }

  private def fieldIdsOf(schemaNode: JsonNode): Map[String, Int] =
    schemaNode.get("fields").elements().asScala
      .map(f => f.get("name").asText -> f.get("id").asInt).toMap

  /** Snapshot `snapshotId`'s manifests as (raw path, length, sequence
    * number) — seq 0 when the list predates sequence tracking (v1). */
  private def manifestsOf(tablePath: String, meta: JsonNode,
      snapshotId: Long): Seq[(String, Long, Long)] = {
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapshotId)
      .getOrElse(sys.error(s"snapshot $snapshotId not found in $tablePath"))
    readAvro(resolve(tablePath, snap.get("manifest-list").asText)).map { r =>
      val seq = Option(r.getSchema.getField("sequence_number"))
        .flatMap(_ => Option(r.get("sequence_number")))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      (r.get("manifest_path").toString, r.get("manifest_length").asInstanceOf[Long], seq)
    }
  }

  private def relativize(tablePath: String, abs: String): String =
    if (abs.startsWith(tablePath + "/")) abs.substring(tablePath.length + 1) else abs

  // ------------------------------------------------------------ row-level DML

  /** Row-level DELETE via copy-on-write (the spec's overwrite shape:
    * affected data files are recorded as DELETED, their surviving rows
    * rewritten into new files, and any prior manifest still listing an
    * affected file is itself rewritten). Stats bounds narrow the
    * candidate set; only files actually containing matches rewrite.
    * NULL predicate results keep the row. Returns (snapshotId, rows). */
  def delete(spark: SparkSession, tablePath: String,
      pred: org.apache.spark.sql.Column): (Long, Long) =
    dml(spark, tablePath, pred, PartitionedFiles.deleteRows)

  /** Row-level UPDATE via copy-on-write: `set` maps column name →
    * replacement expression, applied where `pred` holds. */
  def update(
      spark: SparkSession,
      tablePath: String,
      set: Map[String, org.apache.spark.sql.Column],
      pred: org.apache.spark.sql.Column): (Long, Long) =
    dml(spark, tablePath, pred, PartitionedFiles.updateRows(set))

  /** Merge-on-read row-level DELETE (spec §Position Delete Files): rows
    * matching `pred` are tombstoned by (file_path, pos) WITHOUT rewriting
    * any data file — write cost is proportional to the deleted rows, not
    * to the touched files ([[delete]] is the copy-on-write alternative;
    * at 100 TB a point-delete under CoW rewrites gigabytes, under MoR it
    * writes kilobytes). Requires a format-version 2 table
    * (`write(..., formatVersion = 2)`). Delete files are parquet, written
    * per partition of their target files with the spec's reserved
    * (file_path, pos) columns, sorted for locality. Returns
    * (snapshotId, rows deleted). */
  def deletePositions(spark: SparkSession, tablePath: String,
      pred: org.apache.spark.sql.Column): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val meta = readMetadata(tablePath)
    require(meta.get("format-version").asInt >= 2,
      s"position deletes require a format-version 2 Iceberg table: $tablePath " +
        "(create with write(..., formatVersion = 2))")
    val st = state(tablePath)
    val keep = DeltaStats.keep(pred, st.schema, st.partitionFields)
    val candidates = st.files.filter(f => keep(f.stats, f.partition))
    if (candidates.isEmpty) return (st.snapshotId, 0L)
    val hit = coalesce(pred, lit(false))
    // (path, pos) of matching rows, minus rows already dead (position OR
    // equality deletes) — a repeated DELETE over the same predicate is a
    // no-op, not a second tombstone for the same position
    val delRows = cowFiles(spark, st.schema, st.partitionFields, st.deleteFiles)
      .liveRows(candidates)
      .filter(hit)
      .select(col(PartitionedFiles.SrcCol).as("file_path"),
        col(PartitionedFiles.PosCol).as("pos"))
    // delete files are scoped by the partition tuple of their TARGET data
    // files: attach it via a broadcast path→tuple map (normalized join
    // key; the STORED file_path stays byte-identical to what the scan
    // side reports, which is what the read anti-join compares)
    val byName = st.schema.fields.map(f => f.name -> f.dataType).toMap
    val withPart =
      if (st.partitionFields.isEmpty) delRows
      else {
        val pvSchema = StructType(
          StructField("__nk", StringType) +:
            st.partitionFields.map(c => StructField(s"__pv_$c", StringType)))
        val pvRows = candidates.map(f => Row.fromSeq(
          PartitionedFiles.normPath(f.path) +:
            st.partitionFields.map(c => f.partition.getOrElse(c, null))))
        val pvDf = spark.createDataFrame(spark.sparkContext.parallelize(pvRows, 1), pvSchema)
        st.partitionFields.foldLeft(
            delRows.withColumn("__nk", PartitionedFiles.normPathUdf(col("file_path")))
              .join(broadcast(pvDf), Seq("__nk"))) { (df, c) =>
            df.withColumn(c, col(s"__pv_$c").cast(byName(c)))
          }
          .select(("file_path" +: "pos" +: st.partitionFields).map(col(_)): _*)
      }
    val staged = PartitionedFiles.stageAndMove(
      withPart.sort("file_path", "pos"), tablePath, st.partitionFields,
      subDir = "data", countRows = true)
    val delFiles = staged.filter(_.rowCount > 0).map(f =>
      DataFileRef(f.relPath, f.rowCount, f.sizeBytes, f.partitionValues, None, content = 1))
    val deleted = delFiles.map(_.recordCount).sum
    if (deleted == 0) return (st.snapshotId, 0L)
    (commitDeleteSnapshot(tablePath, meta, st, delFiles.toSeq), deleted)
  }

  /** Merge-on-read row-level DELETE by key (spec §Equality Delete Files):
    * every table row whose values null-safe-match a row of `keys` on the
    * key columns is deleted, WITHOUT rewriting data files or even reading
    * them — write cost is O(keys), the cheapest delete the spec offers
    * (position deletes still scan the table to find ordinals; at 100 TB
    * an id-list purge under equality MoR writes kilobytes and touches
    * nothing else). The delete is stamped with the new commit's sequence
    * number, so rows APPENDED AFTER it with the same keys survive — the
    * delete-then-reinsert upsert pattern. `keys`' columns must be a
    * subset of the table's columns. Requires format-version 2. Returns
    * (snapshotId, distinct key rows written). */
  def deleteEquality(spark: SparkSession, tablePath: String, keys: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val meta = readMetadata(tablePath)
    require(meta.get("format-version").asInt >= 2,
      s"equality deletes require a format-version 2 Iceberg table: $tablePath " +
        "(create with write(..., formatVersion = 2))")
    val st = state(tablePath)
    val cols = keys.columns.toSeq
    require(cols.nonEmpty, "equality delete requires at least one key column")
    val bad = cols.filterNot(st.schema.fieldNames.contains)
    require(bad.isEmpty, s"equality delete columns not in table schema: ${bad.mkString(", ")}")
    val byName = st.schema.fields.map(f => f.name -> f.dataType).toMap
    val typed = keys.select(cols.map(c => col(c).cast(byName(c)).as(c)): _*).distinct()
    val staged = PartitionedFiles.stageAndMove(
      typed, tablePath, Nil, subDir = "data", countRows = true)
    // global scope, on a partitioned table too: the delete files sit in a
    // manifest without partition fields, so they carry an empty tuple
    // (the reader also honors partition-scoped deletes from other engines)
    val nextSeq = nextSequenceNumber(Some(meta), 2)
    val delFiles = staged.filter(_.rowCount > 0).map(f =>
      DataFileRef(f.relPath, f.rowCount, f.sizeBytes, Map.empty, None,
        content = 2, seq = nextSeq, equalityCols = cols))
    val keyRows = delFiles.map(_.recordCount).sum
    if (keyRows == 0) return (st.snapshotId, 0L)
    (commitDeleteSnapshot(tablePath, meta, st, delFiles.toSeq,
      fieldIdsOf(currentSchemaNode(meta)), tableWide = true), keyRows)
  }

  /** Commit a delete-file-only snapshot: one new manifest holding
    * `delFiles` at the next sequence number + every prior manifest
    * carried forward untouched (no data-file changes). A `tableWide`
    * manifest has no partition fields, so its files apply to every
    * partition. */
  private def commitDeleteSnapshot(
      tablePath: String,
      meta: JsonNode,
      st: TableState,
      delFiles: Seq[DataFileRef],
      fieldIds: Map[String, Int] = Map.empty,
      tableWide: Boolean = false): Long =
    commitSnapshot(tablePath, Some(meta), st.schema, st.partitionFields, delFiles, Nil, Map.empty,
      fieldIds, nextSequenceNumber(Some(meta), 2), "delete",
      manifestPartCols = if (tableWide) Some(Nil) else None)(_ =>
      manifestsOf(tablePath, meta, st.snapshotId))

  /** Copy-on-write DELETE / UPDATE: the shared recipe over the files
    * whose bounds may match, with rows already dead (position OR
    * equality deletes) excluded from both the match count and the
    * rewrite — a CoW DML on a v2 table must not resurrect (or
    * double-count) tombstoned rows. The rewritten files land at the NEW
    * sequence number, so older equality deletes correctly stop applying
    * to them. */
  private def dml(
      spark: SparkSession,
      tablePath: String,
      pred: org.apache.spark.sql.Column,
      rewrite: (DataFrame, org.apache.spark.sql.Column) => DataFrame): (Long, Long) = {
    val meta = readMetadata(tablePath)
    val st = state(tablePath)
    val keep = DeltaStats.keep(pred, st.schema, st.partitionFields)
    val candidates = st.files.filter(f => keep(f.stats, f.partition))
    cowFiles(spark, st.schema, st.partitionFields, st.deleteFiles)
      .rewrite(candidates, pred)(rewrite) match {
      case None => (st.snapshotId, 0L)
      case Some((touched, changed, rows)) =>
        val (newFiles, rawStats) = stageData(rows, tablePath, st.schema, st.partitionFields)
        val touchedAbs = touched.map(f => PartitionedFiles.normPath(f.path)).toSet
        def entryPath(e: GenericRecord): String = PartitionedFiles.normPath(resolve(tablePath,
          e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString))
        // new manifest: rewritten adds + touched files recorded as DELETED,
        // stats keyed by the TABLE's own field ids (prior metadata), never
        // a regenerated sequential assignment. Prior manifests carry
        // forward; any that still lists a touched file as live is
        // rewritten with those entries marked DELETED (the spec retains
        // delete entries for one snapshot), keeping its ORIGINAL sequence
        // number: its surviving entries were added at that seq, and
        // equality-delete scoping reads the seq back from the list.
        val committed = commitSnapshot(tablePath, Some(meta), st.schema, st.partitionFields,
          newFiles, touched.map(f => f.copy(path = relativize(tablePath, f.path))), rawStats,
          fieldIdsOf(currentSchemaNode(meta)), nextSequenceNumber(Some(meta), 2), "overwrite") {
          snapshotId => manifestsOf(tablePath, meta, st.snapshotId).zipWithIndex.map {
            case ((mp, _, seq), i) =>
              val abs = resolve(tablePath, mp)
              val entries = readAvro(abs)
              if (!entries.exists(e =>
                  e.get("status").asInstanceOf[Int] != 2 && touchedAbs(entryPath(e))))
                (abs, Files.size(Paths.get(abs)), seq)
              else {
                val dst = metadataDir(tablePath).resolve(s"manifest-$snapshotId-rw$i.avro")
                val reader = new DataFileReader[GenericRecord](
                  new File(abs), new GenericDatumReader[GenericRecord]())
                try {
                  val avroSchema = reader.getSchema
                  val writer = new DataFileWriter[GenericRecord](
                    new GenericDatumWriter[GenericRecord](avroSchema))
                  writer.create(avroSchema, dst.toFile)
                  try reader.iterator().asScala.foreach { e =>
                    if (touchedAbs(entryPath(e))) e.put("status", 2)
                    writer.append(e)
                  } finally writer.close()
                } finally reader.close()
                (dst.toString, Files.size(dst), seq)
              }
          }
        }
        (committed, changed)
    }
  }

  /** New metadata json + version hint for a snapshot whose manifest list
    * is already written — the tail of [[write]], shared with [[dml]].
    *
    * When the prior metadata's schema still describes the data it is
    * carried VERBATIM (deep copy): original field-id assignments,
    * partition-spec(s) with their source-ids, format-version,
    * last-column-id, sort orders, properties. Regenerating any of those
    * from the Spark schema would re-key fields sequentially and demote v2
    * tables to v1 — on an externally-written table whose ids are
    * non-sequential (after column add/drop/rename), carried manifests'
    * bounds would then decode against the wrong columns and make file
    * skipping silently unsound. Regeneration happens only for a brand-new
    * table or a schema-changing overwrite (where the old ids cannot
    * describe the new data anyway). */
  private def publishMetadata(
      tablePath: String,
      priorMeta: Option[JsonNode],
      schema: StructType,
      partCols: Seq[String],
      snapshotId: Long,
      mlPath: Path,
      operation: String,
      formatVersion: Int = 1): Unit = {
    val om = mapper
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val carried: Option[ObjectNode] = priorMeta
      .filter(m => sameShape(icebergToSpark(currentSchemaNode(m)), schema))
      .map(_.deepCopy[JsonNode]().asInstanceOf[ObjectNode])
    val root: ObjectNode = carried.getOrElse {
      val r = om.createObjectNode()
      r.put("format-version", formatVersion)
      // v2 commits carry a table-wide sequence counter (bumped + stamped
      // onto the snapshot below); position deletes are scoped by it
      if (formatVersion == 2) r.put("last-sequence-number", 0L)
      r.put("table-uuid",
        priorMeta.map(_.get("table-uuid").asText).getOrElse(UUID.randomUUID().toString))
      r.put("location", tablePath)
      r.put("last-column-id", schema.fields.length)
      r.set[JsonNode]("schema", sparkToIceberg(om, schema))
      val specArr = r.putArray("partition-spec")
      partCols.zipWithIndex.foreach { case (c, i) =>
        val f = specArr.addObject()
        f.put("name", c); f.put("transform", "identity")
        f.put("source-id", schema.fieldIndex(c) + 1); f.put("field-id", 1000 + i)
      }
      // the snapshot log survives even a schema-changing overwrite
      priorMeta.foreach(m => Option(m.get("snapshots"))
        .foreach(s => r.set[JsonNode]("snapshots", s.deepCopy[JsonNode]())))
      r
    }
    root.put("last-updated-ms", System.currentTimeMillis())
    root.put("current-snapshot-id", snapshotId)
    // v2 tables carry a commit sequence counter: bump it, stamp the snapshot
    val seq: Option[Long] =
      if (root.has("last-sequence-number")) {
        val s = root.get("last-sequence-number").asLong + 1
        root.put("last-sequence-number", s)
        Some(s)
      } else None
    val snaps: ArrayNode = root.get("snapshots") match {
      case a: ArrayNode => a
      case _ => root.putArray("snapshots")
    }
    val sn = snaps.addObject()
    sn.put("snapshot-id", snapshotId)
    seq.foreach(s => { sn.put("sequence-number", s); () })
    sn.put("timestamp-ms", System.currentTimeMillis())
    sn.put("manifest-list", mlPath.toString)
    sn.putObject("summary").put("operation", operation)
    claimMetadata(tablePath, root, "the operation")
  }

  /** Publish `root` as the next metadata version and point the version
    * hint at it. Optimistic concurrency (the HadoopTables exclusive-
    * commit contract): stage the json then hard-link-claim it as vN —
    * readers never see a partial metadata file, and the claim fails
    * atomically (EEXIST) if a concurrent writer already produced vN.
    * That writer's commit was built against the same base as ours, so
    * ours is stale: refuse (retry `what`), never overwrite. */
  private def claimMetadata(tablePath: String, root: JsonNode, what: String): Unit = {
    val hint = metadataDir(tablePath).resolve("version-hint.text")
    val next =
      if (Files.exists(hint))
        new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt + 1
      else 1
    val tmp = metadataDir(tablePath).resolve(s".tmp-v$next-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    try AtomicClaim.publish(tmp, metadataDir(tablePath).resolve(s"v$next.metadata.json"))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          s"concurrent Iceberg commit on $tablePath (version $next already " +
            s"exists) — retry $what against the current table state")
    }
    Files.write(hint, next.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Expire all snapshots except the current one and physically delete
    * data files only the expired snapshots referenced (the spec's
    * expire_snapshots maintenance op; time travel to expired ids stops
    * working — that is its documented contract). Returns the number of
    * data files deleted. */
  def expireSnapshots(tablePath: String): Int = {
    val meta = readMetadata(tablePath)
    val current = meta.get("current-snapshot-id").asLong
    val curState = state(tablePath)
    // live = current data files AND current delete files — a delete file
    // referenced by both an expired and the current snapshot must survive
    val live = (curState.files ++ curState.deleteFiles).map(_.path).toSet
    val expired = meta.get("snapshots").elements().asScala
      .filter(_.get("snapshot-id").asLong != current).toSeq
    // delete data files referenced by expired snapshots but not live
    var deleted = 0
    expired.foreach { sn =>
      val st = state(tablePath, Some(sn.get("snapshot-id").asLong))
      (st.files ++ st.deleteFiles).map(_.path).filterNot(live).foreach { p =>
        if (Files.deleteIfExists(Paths.get(p))) deleted += 1
      }
    }
    // rewrite metadata keeping only the current snapshot
    val root = meta.deepCopy[JsonNode]().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = root.putArray("snapshots")
    meta.get("snapshots").elements().asScala
      .filter(_.get("snapshot-id").asLong == current).foreach(snaps.add)
    claimMetadata(tablePath, root, "expireSnapshots")
    deleted
  }

  // --------------------------------------------- column bounds (spec App.D)

  /** Single-value serialization of a min/max bound (spec Appendix D):
    * ints/longs/floats/doubles little-endian, boolean one byte, date =
    * days-int, timestamp = micros-long, string = UTF-8. None = type not
    * covered or non-finite value → no bound emitted (readers keep the
    * file). */
  private def boundBytes(dt: DataType, v: Any): Option[Array[Byte]] = {
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (v == null) None
    else dt match {
      case ByteType | ShortType | IntegerType =>
        val i = v match { case b: Byte => b.toInt; case s: Short => s.toInt; case i: Int => i }
        Some(le(4).putInt(i).array)
      case LongType => Some(le(8).putLong(v.asInstanceOf[Long]).array)
      case FloatType =>
        val f = v.asInstanceOf[Float]
        if (java.lang.Float.isFinite(f)) Some(le(4).putFloat(f).array) else None
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (java.lang.Double.isFinite(d)) Some(le(8).putDouble(d).array) else None
      case BooleanType => Some(Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
      case DateType =>
        Some(le(4).putInt(v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt).array)
      case TimestampType =>
        val i = v.asInstanceOf[java.sql.Timestamp].toInstant
        val micros = Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)
        Some(le(8).putLong(micros).array)
      case StringType => Some(v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
      case _ => None
    }
  }

  /** Decode manifest bounds/null-counts into the Delta-form stats JSON so
    * [[DeltaStats.parseStats]]/[[DeltaStats.keep]] prune both formats with
    * the same (property-tested) tri-state logic. Truncated string bounds
    * from other writers stay sound: a prefix lower bound only loosens the
    * interval. */
  private def statsJson(
      df: GenericRecord,
      fieldsById: Map[Int, (String, DataType)],
      recordCount: Long): Option[String] = {
    def kvs(name: String): Seq[(Int, AnyRef)] =
      Option(df.getSchema.getField(name)).flatMap(_ => Option(df.get(name))).toSeq.flatMap {
        case l: java.util.List[_] => l.asScala.toSeq.map { e =>
          val r = e.asInstanceOf[GenericRecord]
          r.get("key").asInstanceOf[Int] -> r.get("value")
        }
        case _ => Nil
      }
    val lowers = kvs("lower_bounds")
    val uppers = kvs("upper_bounds")
    val nulls = kvs("null_value_counts")
    if (lowers.isEmpty && uppers.isEmpty && nulls.isEmpty) return None

    val om = mapper
    val o = om.createObjectNode()
    o.put("numRecords", recordCount)
    def putBounds(node: com.fasterxml.jackson.databind.node.ObjectNode,
        pairs: Seq[(Int, AnyRef)]): Unit =
      pairs.foreach { case (id, raw) =>
        fieldsById.get(id).foreach { case (name, dt) =>
          val buf = (raw match {
            case bb: java.nio.ByteBuffer => bb.duplicate()
            case arr: Array[Byte] => java.nio.ByteBuffer.wrap(arr)
            case _ => java.nio.ByteBuffer.allocate(0)
          }).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          dt match {
            case ByteType | ShortType | IntegerType =>
              if (buf.remaining >= 4) node.put(name, buf.getInt.toLong)
            case LongType => if (buf.remaining >= 8) node.put(name, buf.getLong)
            case FloatType => if (buf.remaining >= 4) node.put(name, buf.getFloat.toDouble)
            case DoubleType => if (buf.remaining >= 8) node.put(name, buf.getDouble)
            case BooleanType => if (buf.remaining >= 1) node.put(name, buf.get() != 0)
            case DateType =>
              if (buf.remaining >= 4)
                node.put(name, java.time.LocalDate.ofEpochDay(buf.getInt.toLong).toString)
            case TimestampType =>
              if (buf.remaining >= 8)
                node.put(name, java.time.Instant.EPOCH
                  .plus(buf.getLong, java.time.temporal.ChronoUnit.MICROS).toString)
            case StringType =>
              node.put(name, StandardCharsets.UTF_8.decode(buf).toString)
            case _ => ()
          }
        }
      }
    putBounds(o.putObject("minValues"), lowers)
    putBounds(o.putObject("maxValues"), uppers)
    val ncs = o.putObject("nullCount")
    nulls.foreach { case (id, v) =>
      fieldsById.get(id).foreach { case (name, _) =>
        v match { case l: java.lang.Long => ncs.put(name, l.longValue); case _ => () }
      }
    }
    Some(om.writeValueAsString(o))
  }

  // ------------------------------------------------------- avro structures

  private def partitionAvroSchema(partCols: Seq[String], types: Map[String, DataType]): String =
    partCols.map { c =>
      val t = types(c) match {
        case IntegerType => "\"int\""
        case LongType => "\"long\""
        case DoubleType => "\"double\""
        case FloatType => "\"float\""
        case BooleanType => "\"boolean\""
        case _ => "\"string\""
      }
      s"""{"name":"${c}","type":["null",$t],"default":null}"""
    }.mkString("[", ",", "]")

  private def manifestAvroSchema(partCols: Seq[String], types: Map[String, DataType]): AvroSchema =
    new AvroSchema.Parser().parse(s"""
      {"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"snapshot_id","type":["null","long"],"default":null},
        {"name":"data_file","type":{"type":"record","name":"r2","fields":[
          {"name":"content","type":"int","default":0},
          {"name":"file_path","type":"string"},
          {"name":"file_format","type":"string"},
          {"name":"partition","type":{"type":"record","name":"r102",
            "fields":${partitionAvroSchema(partCols, types)}}},
          {"name":"record_count","type":"long"},
          {"name":"file_size_in_bytes","type":"long"},
          {"name":"block_size_in_bytes","type":"long"},
          {"name":"null_value_counts","type":["null",{"type":"array","items":
            {"type":"record","name":"k121_v122","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],"default":null},
          {"name":"lower_bounds","type":["null",{"type":"array","items":
            {"type":"record","name":"k126_v127","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
          {"name":"upper_bounds","type":["null",{"type":"array","items":
            {"type":"record","name":"k129_v130","fields":[
              {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}
        ]}}
      ]}""")

  private val manifestListSchema: AvroSchema =
    new AvroSchema.Parser().parse("""
      {"type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"},
        {"name":"manifest_length","type":"long"},
        {"name":"partition_spec_id","type":"int"},
        {"name":"added_snapshot_id","type":["null","long"],"default":null},
        {"name":"sequence_number","type":["null","long"],"default":null}
      ]}""")

  /** The data sequence number the NEXT commit will be stamped with —
    * matches the bump [[publishMetadata]] performs (v2 tables track
    * `last-sequence-number`; v1 tables stay at 0). */
  private def nextSequenceNumber(meta: Option[JsonNode], formatVersion: Int): Long =
    meta match {
      case Some(m) =>
        if (m.has("last-sequence-number")) m.get("last-sequence-number").asLong + 1 else 0L
      case None => if (formatVersion == 2) 1L else 0L
    }

  private def writeManifest(
      path: Path,
      schema: StructType,
      partCols: Seq[String],
      types: Map[String, DataType],
      added: Seq[DataFileRef],
      deleted: Seq[DataFileRef],
      snapshotId: Long,
      rawStats: Map[String, DeltaStats.RawFileStats] = Map.empty,
      fieldIds: Map[String, Int] = Map.empty): Unit = {
    val avro = manifestAvroSchema(partCols, types)
    val dfSchema = avro.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    def itemSchema(field: String): AvroSchema =
      dfSchema.getField(field).schema().getTypes.get(1).getElementType
    val ncItem = itemSchema("null_value_counts")
    val loItem = itemSchema("lower_bounds")
    val hiItem = itemSchema("upper_bounds")
    Files.createDirectories(path.getParent)
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    writer.create(avro, path.toFile)
    try {
      def emit(f: DataFileRef, status: Int): Unit = {
        val part = new GenericData.Record(partSchema)
        partCols.foreach { c =>
          f.partition.get(c) match {
            case None | Some(null) => part.put(c, null)
            case Some(s) => part.put(c, types.get(c) match {
              case Some(IntegerType) => Int.box(s.toInt)
              case Some(LongType) => Long.box(s.toLong)
              case Some(DoubleType) => Double.box(s.toDouble)
              case Some(FloatType) => Float.box(s.toFloat)
              case Some(BooleanType) => Boolean.box(s.toBoolean)
              case _ => s
            })
          }
        }
        val data = new GenericData.Record(dfSchema)
        data.put("content", f.content)
        data.put("file_path", f.path)
        data.put("file_format", "PARQUET")
        data.put("partition", part)
        data.put("record_count", f.recordCount)
        data.put("file_size_in_bytes", f.sizeBytes)
        data.put("block_size_in_bytes", 128L * 1024 * 1024)
        if (f.content == 2) {
          val ids = new java.util.ArrayList[Integer]()
          f.equalityCols.foreach { c =>
            ids.add(Int.box(fieldIds.getOrElse(c,
              sys.error(s"equality column $c has no field id"))))
          }
          data.put("equality_ids", ids)
        }
        rawStats.get(f.path).foreach { raw =>
          def kv(item: AvroSchema, id: Int, v: AnyRef): GenericRecord = {
            val r = new GenericData.Record(item)
            r.put("key", id); r.put("value", v); r
          }
          val ncs = new java.util.ArrayList[GenericRecord]()
          val los = new java.util.ArrayList[GenericRecord]()
          val his = new java.util.ArrayList[GenericRecord]()
          raw.cols.foreach { case (sf, mi, ma, nc) =>
            fieldIds.get(sf.name).foreach { id =>
              ncs.add(kv(ncItem, id, Long.box(nc)))
              boundBytes(sf.dataType, mi).foreach(b =>
                los.add(kv(loItem, id, java.nio.ByteBuffer.wrap(b))))
              boundBytes(sf.dataType, ma).foreach(b =>
                his.add(kv(hiItem, id, java.nio.ByteBuffer.wrap(b))))
            }
          }
          data.put("null_value_counts", ncs)
          data.put("lower_bounds", los)
          data.put("upper_bounds", his)
        }
        val entry = new GenericData.Record(avro)
        entry.put("status", status)
        entry.put("snapshot_id", snapshotId)
        entry.put("data_file", data)
        writer.append(entry)
      }
      added.foreach(emit(_, 1))
      deleted.foreach(emit(_, 2))
    } finally writer.close()
  }

  /** `manifests` are (path, length, sequence number) — a carried-forward
    * manifest keeps the seq it was ADDED at (that is what its entries
    * inherit on read); only the new snapshot's manifest gets the new seq. */
  private def writeManifestList(path: Path, manifests: Seq[(String, Long, Long)], snapshotId: Long): Unit = {
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestListSchema))
    writer.create(manifestListSchema, path.toFile)
    try manifests.foreach { case (mp, len, seq) =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", mp)
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("added_snapshot_id", snapshotId)
      r.put("sequence_number", seq)
      writer.append(r)
    } finally writer.close()
  }

  // ------------------------------------------------ schema json conversion

  /** Iceberg schema JSON → Spark StructType (identity of names; field ids
    * dropped — Spark resolves by name). */
  private[graft] def icebergToSpark(node: JsonNode): StructType = {
    def convert(t: JsonNode): DataType =
      if (t.isTextual) t.asText match {
        case "boolean" => BooleanType
        case "int" => IntegerType
        case "long" => LongType
        case "float" => FloatType
        case "double" => DoubleType
        case "date" => DateType
        case "string" | "uuid" => StringType
        case "timestamp" | "timestamptz" => TimestampType
        case "binary" => BinaryType
        case s if s.startsWith("decimal") =>
          val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
          DecimalType(p, sc)
        case s if s.startsWith("fixed") => BinaryType
        case other => sys.error(s"unsupported Iceberg type $other")
      } else t.get("type").asText match {
        case "struct" =>
          StructType(t.get("fields").elements().asScala.map { f =>
            StructField(f.get("name").asText, convert(f.get("type")),
              nullable = !f.get("required").asBoolean)
          }.toSeq)
        case "list" =>
          ArrayType(convert(t.get("element")), containsNull = !t.get("element-required").asBoolean)
        case "map" =>
          MapType(convert(t.get("key")), convert(t.get("value")),
            valueContainsNull = !t.get("value-required").asBoolean)
        case other => sys.error(s"unsupported Iceberg complex type $other")
      }
    convert(node).asInstanceOf[StructType]
  }

  /** Spark StructType → Iceberg schema JSON with sequential field ids. */
  private[graft] def sparkToIceberg(om: ObjectMapper, schema: StructType): JsonNode = {
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    def convert(t: DataType): JsonNode = t match {
      case BooleanType => om.getNodeFactory.textNode("boolean")
      case IntegerType | ShortType | ByteType => om.getNodeFactory.textNode("int")
      case LongType => om.getNodeFactory.textNode("long")
      case FloatType => om.getNodeFactory.textNode("float")
      case DoubleType => om.getNodeFactory.textNode("double")
      case DateType => om.getNodeFactory.textNode("date")
      case StringType => om.getNodeFactory.textNode("string")
      case TimestampType => om.getNodeFactory.textNode("timestamptz")
      case BinaryType => om.getNodeFactory.textNode("binary")
      case d: DecimalType => om.getNodeFactory.textNode(s"decimal(${d.precision}, ${d.scale})")
      case s: StructType =>
        val o = om.createObjectNode()
        o.put("type", "struct")
        val fs = o.putArray("fields")
        s.fields.foreach { f =>
          val fo = fs.addObject()
          fo.put("id", id()); fo.put("name", f.name); fo.put("required", !f.nullable)
          fo.set[JsonNode]("type", convert(f.dataType))
        }
        o
      case a: ArrayType =>
        val o = om.createObjectNode()
        o.put("type", "list"); o.put("element-id", id())
        o.put("element-required", !a.containsNull)
        o.set[JsonNode]("element", convert(a.elementType))
        o
      case m: MapType =>
        val o = om.createObjectNode()
        o.put("type", "map"); o.put("key-id", id()); o.put("value-id", id())
        o.put("value-required", !m.valueContainsNull)
        o.set[JsonNode]("key", convert(m.keyType))
        o.set[JsonNode]("value", convert(m.valueType))
        o
      case other => sys.error(s"unsupported Spark type for Iceberg: $other")
    }
    convert(schema)
  }

  private[graft] def deleteTable(tablePath: String): Unit =
    PartitionedFiles.deleteRecursively(Paths.get(tablePath))
}
