package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Iceberg

/** Iceberg source/sink (open-spec implementation): append/overwrite
  * snapshots via Avro manifests, snapshot time travel, partition pruning,
  * schema JSON round-trip, v2 merge-on-read position + equality deletes. */
class IcebergSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val p = s"/tmp/graft_iceberg_spec_$tag"
    Iceberg.deleteTable(p)
    p
  }

  private def fixture(from: Int, until: Int) =
    (from until until).map(i => (i.toLong, s"name_$i", i % 4, i * 1.5))
      .toDF("id", "name", "bucket", "score")

  test("manifest column bounds skip files; results identical with skipping") {
    val path = freshDir("bounds")
    val df = (0 until 400).map { i =>
      (i.toLong, f"s_$i%03d", new java.sql.Timestamp(1700000000000L + i * 60000L),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 50)),
        if (i % 11 == 0) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(i * 0.5))
    }.toDF("id", "name", "ts", "day", "score").repartitionByRange(4, col("id"))
    Iceberg.write(df, path)
    val st = Iceberg.state(path)
    assert(st.files.size == 4 && st.files.forall(_.stats.isDefined),
      "every manifest entry must carry bounds")

    // long, string, timestamp, date, and null-count probes all skip
    assert(Iceberg.filesForScan(path, col("id") === 5L).size == 1)
    assert(Iceberg.filesForScan(path, col("name") === "s_399").size == 1)
    assert(Iceberg.filesForScan(path, col("name") < "s_050").size == 1)
    assert(Iceberg.filesForScan(path,
      col("ts") < lit(new java.sql.Timestamp(1700000000000L + 30 * 60000L))).size == 1)
    assert(Iceberg.filesForScan(path,
      col("day") === java.sql.Date.valueOf("2024-01-08")).size == 1)
    assert(Iceberg.filesForScan(path, col("id") > 1000L).isEmpty)

    // skipping never changes results
    val full = Iceberg.read(spark, path).cache()
    for (p <- Seq(col("id") < 100L, col("score").isNull, col("name").startsWith("s_1"),
        col("id") === 250L || col("id") === 5L)) {
      val got = Iceberg.read(spark, path, dataFilter = Some(p))
        .select("id").as[Long].collect().sorted.toSeq
      val want = full.filter(p).select("id").as[Long].collect().sorted.toSeq
      assert(got == want, s"skipping changed results for $p")
    }
    full.unpersist()
  }

  test("property: bounds pruning never drops a file containing a matching row") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val path = freshDir("prop")
    val rows = (0 until 400).map { _ =>
      Row(
        if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextLong() % 500L),
        if (rnd.nextInt(8) == 0) null else s"t${rnd.nextInt(40)}",
        rnd.nextInt(20) match {
          case 0 => null
          case 1 => java.lang.Double.valueOf(Double.NaN)
          case _ => java.lang.Double.valueOf(rnd.nextDouble() * 100 - 50)
        },
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L))
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("ts", TimestampType)))
    Iceberg.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema).repartition(5), path)

    val withFile = Iceberg.read(spark, path)
      .withColumn("__f", col("_metadata.file_path")).cache()
    def leaf() = rnd.nextInt(8) match {
      case 0 => col("id") === (rnd.nextLong() % 500L)
      case 1 => col("id") < (rnd.nextLong() % 500L)
      case 2 => col("s") === s"t${rnd.nextInt(40)}"
      case 3 => col("s").startsWith("t1")
      case 4 => col("d") > (rnd.nextDouble() * 100 - 50)
      case 5 => col("d").isNull
      case 6 => col("ts") < lit(new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L))
      case 7 => col("id").isNotNull
    }
    (0 until 25).foreach { i =>
      val p = if (rnd.nextBoolean()) leaf() else (if (rnd.nextBoolean()) leaf() && leaf() else leaf() || leaf())
      val kept = Iceberg.filesForScan(path, p)
        .map(f => Paths.get(f.path).toRealPath().toString).toSet
      val matching = withFile.filter(p).select("__f").distinct().as[String].collect()
        .map(u => Paths.get(new java.net.URI(u).getPath).toRealPath().toString)
      val dropped = matching.filterNot(kept)
      assert(dropped.isEmpty, s"iteration $i: $p matched rows in pruned files: ${dropped.mkString(",")}")
    }
    withFile.unpersist()
  }

  test("date-partitioned table prunes on the partition column through dataFilter") {
    val path = freshDir("datepart")
    val df = (0 until 120).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i % 4)))
    }.toDF("id", "day")
    Iceberg.write(df, path, partitionBy = Seq("day"))
    val total = Iceberg.state(path).files.size
    val probe = col("day") === java.sql.Date.valueOf("2024-03-02")
    val opened = Iceberg.filesForScan(path, probe).size
    assert(opened < total, s"partition-value pruning should cut $total files, opened $opened")
    val got = Iceberg.read(spark, path, dataFilter = Some(probe)).count()
    assert(got == 30)
  }

  test("append snapshots accumulate across manifests") {
    val path = freshDir("append")
    Iceberg.write(fixture(0, 100), path)
    Iceberg.write(fixture(100, 250), path)
    val back = Iceberg.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "bucket", "score"))
    assert(back.count() == 250)
    assert(back.agg(sum("id")).as[Long].head() == (0L until 250).sum)
  }

  test("partitioned table: typed partition tuple round-trips through avro") {
    val path = freshDir("part")
    Iceberg.write(fixture(0, 200), path, partitionBy = Seq("bucket"))
    val back = Iceberg.read(spark, path)
    assert(back.filter(col("bucket") =!= (col("id") % 4).cast("int")).count() == 0)
    val plan = back.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1, "one scan regardless of partitions")
    // manifest carries typed (int) partition values
    val st = Iceberg.state(path)
    assert(st.files.forall(f => f.partition.keySet == Set("bucket")))
  }

  test("partition pruning culls files before the scan") {
    val path = freshDir("prune")
    Iceberg.write(fixture(0, 200), path, partitionBy = Seq("bucket"))
    val pruned = Iceberg.read(spark, path, partitionFilter = pv => pv("bucket") == "2")
    assert(pruned.count() == 50)
    assert(pruned.filter(col("bucket") =!= 2).count() == 0)
  }

  test("overwrite records prior files as DELETED; old snapshot still readable") {
    val path = freshDir("tt")
    val s0 = Iceberg.write(fixture(0, 100), path)
    val s1 = Iceberg.write(fixture(100, 200), path)
    val s2 = Iceberg.write(fixture(0, 10), path, mode = "overwrite")
    assert(Iceberg.read(spark, path).count() == 10)
    assert(Iceberg.read(spark, path, snapshotId = Some(s1)).count() == 200)
    assert(Iceberg.read(spark, path, snapshotId = Some(s0)).count() == 100)
    assert(Iceberg.state(path).snapshotId == s2)
  }

  test("metadata versions advance with a version hint") {
    val path = freshDir("meta")
    Iceberg.write(fixture(0, 10), path)
    Iceberg.write(fixture(10, 20), path)
    val hint = new String(Files.readAllBytes(
      Paths.get(path, "metadata", "version-hint.text"))).trim
    assert(hint == "2")
    assert(Files.exists(Paths.get(path, "metadata", "v1.metadata.json")))
    assert(Files.exists(Paths.get(path, "metadata", "v2.metadata.json")))
  }

  test("schema json conversion round-trips spark types") {
    import org.apache.spark.sql.types._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType),
      StructField("c", DecimalType(10, 2)),
      StructField("d", ArrayType(IntegerType, containsNull = true)),
      StructField("e", MapType(StringType, DoubleType)),
      StructField("f", StructType(Seq(StructField("g", TimestampType), StructField("h", DateType))))))
    val back = Iceberg.icebergToSpark(Iceberg.sparkToIceberg(om, schema))
    assert(back == schema)
  }

  test("expireSnapshots deletes only overwritten files; current snapshot intact") {
    val path = freshDir("expire")
    Iceberg.write(fixture(0, 100), path)
    Iceberg.write(fixture(100, 150), path)
    Iceberg.write(fixture(0, 20), path, mode = "overwrite")
    val deleted = Iceberg.expireSnapshots(path)
    assert(deleted >= 2, s"the two overwritten snapshots' files should go, got $deleted")
    assert(Iceberg.read(spark, path).count() == 20)
    assert(Iceberg.state(path).files.forall(f => Files.exists(Paths.get(f.path))))
    // expired ids are gone from the metadata
    intercept[RuntimeException](Iceberg.read(spark, path, snapshotId = Some(0L)))
  }

  test("unknown snapshot ids fail fast") {
    val path = freshDir("deletes")
    Iceberg.write(fixture(0, 10), path)
    val e = intercept[RuntimeException](Iceberg.read(spark, path, snapshotId = Some(42L)))
    assert(e.getMessage.contains("snapshot 42 not found"))
  }

  test("v2 position deletes: MoR tombstones apply at read; time travel sees pre-delete rows") {
    val path = freshDir("v2_posdel")
    Iceberg.write(fixture(0, 200).repartition(4), path, formatVersion = 2)
    val preDelete = Iceberg.state(path).snapshotId
    val (_, n) = Iceberg.deletePositions(spark, path, col("id") % 3 === 0)
    assert(n == 67, s"0..199 has 67 multiples of 3, deleted $n")
    // no data file was rewritten (merge-on-read, not copy-on-write)
    assert(Iceberg.state(path).files.map(_.path).toSet ==
      Iceberg.state(path, Some(preDelete)).files.map(_.path).toSet)
    val after = Iceberg.read(spark, path)
    assert(after.count() == 133)
    assert(after.filter(col("id") % 3 === 0).count() == 0)
    // time travel to the pre-delete snapshot still sees every row
    assert(Iceberg.read(spark, path, snapshotId = Some(preDelete)).count() == 200)
    // a repeated DELETE over the same predicate is a no-op
    val (_, n2) = Iceberg.deletePositions(spark, path, col("id") % 3 === 0)
    assert(n2 == 0, s"re-delete must tombstone nothing, got $n2")
  }

  test("v2 position deletes on a partitioned table scope by partition tuple") {
    val path = freshDir("v2_posdel_part")
    Iceberg.write(fixture(0, 120), path, partitionBy = Seq("bucket"), formatVersion = 2)
    val (_, n) = Iceberg.deletePositions(spark, path, col("bucket") === 2 && col("id") < 60)
    assert(n == 15, s"ids 0..59 with id%4==2: 15 rows, got $n")
    val after = Iceberg.read(spark, path)
    assert(after.count() == 105)
    assert(after.filter(col("bucket") === 2).count() == 15) // ids 60..119
    // each delete file carries its target partition's tuple
    val dels = Iceberg.state(path).deleteFiles
    assert(dels.nonEmpty && dels.forall(_.partition.get("bucket").contains("2")))
  }

  test("CoW DML on a table with tombstones does not resurrect deleted rows") {
    val path = freshDir("v2_posdel_dml")
    Iceberg.write(fixture(0, 100).repartition(2), path, formatVersion = 2)
    Iceberg.deletePositions(spark, path, col("id") < 10)
    // CoW update rewrites every file containing score matches; the rewrite
    // must drop tombstoned rows rather than copy them back to life
    val (_, updated) = Iceberg.update(spark, path,
      Map("score" -> (col("score") + 1000)), col("id") < 50)
    assert(updated == 40, s"ids 10..49 = 40 rows, got $updated")
    val after = Iceberg.read(spark, path)
    assert(after.count() == 90)
    assert(after.filter(col("id") < 10).count() == 0)
    assert(after.filter(col("score") > 1000).count() == 40)
  }

  test("an equality-delete entry without equality_ids is rejected loudly, not misread") {
    import scala.jdk.CollectionConverters._
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val path = freshDir("v2_eqdel_bad")
    Iceberg.write(fixture(0, 20), path, formatVersion = 2)
    Iceberg.deletePositions(spark, path, col("id") === 1L)
    // flip the delete manifest's content 1 → 2 in place WITHOUT setting
    // equality_ids: the reader must refuse (it cannot know the key
    // columns), never silently drop or keep rows
    val mdir = Paths.get(path, "metadata")
    Files.list(mdir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("manifest-")).foreach { mf =>
        val reader = new DataFileReader[GenericRecord](
          mf.toFile, new GenericDatumReader[GenericRecord]())
        val (schema, entries) =
          try (reader.getSchema, reader.iterator().asScala.toVector)
          finally reader.close()
        var flipped = false
        entries.foreach { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          if (Option(df.getSchema.getField("content")).exists(_ => df.get("content") == 1)) {
            df.put("content", 2); flipped = true
          }
        }
        if (flipped) {
          val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
          w.create(schema, mf.toFile)
          try entries.foreach(w.append) finally w.close()
        }
      }
    val e = intercept[Throwable](Iceberg.read(spark, path).count())
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("equality delete file without equality_ids"), s"wrong failure: $msgs")
  }

  test("equality deletes remove matching rows; later appends with the same keys survive") {
    val path = freshDir("v2_eqdel")
    Iceberg.write(fixture(0, 100).repartitionByRange(2, col("id")), path,
      formatVersion = 2)                                               // seq 1
    val before = Iceberg.state(path).snapshotId
    val (_, nKeys) = Iceberg.deleteEquality(spark, path,
      Seq(1, 2).toDF("bucket"))                                        // seq 2
    assert(nKeys == 2)
    // data files untouched — merge-on-read
    val st = Iceberg.state(path)
    assert(st.deleteFiles.exists(_.content == 2), "expected an equality delete file")
    assert(st.files.size == 2, "data files must not be rewritten")
    // 10 new rows, buckets 0..3 — the bucket-1/2 rows were appended AFTER
    // the delete (higher data sequence number) and must survive
    Iceberg.write(fixture(200, 210), path)                             // seq 3
    val after = Iceberg.read(spark, path)
    assert(after.count() == 60, "50 survivors of batch 1 + all 10 appended")
    assert(after.filter(col("id") < 100 && col("bucket").isin(1, 2)).count() == 0)
    assert(after.filter(col("id") >= 200).count() == 10)
    // time travel to before the delete still sees every original row
    assert(Iceberg.read(spark, path, snapshotId = Some(before)).count() == 100)
  }

  test("equality deletes use null-safe matching on multi-column keys") {
    val path = freshDir("v2_eqdel_null")
    val df = Seq(
      (1L, "a"), (2L, null.asInstanceOf[String]), (3L, "b"), (4L, null.asInstanceOf[String]))
      .toDF("id", "name")
    Iceberg.write(df, path, formatVersion = 2)
    Iceberg.deleteEquality(spark, path,
      Seq("a", null.asInstanceOf[String]).toDF("name"))
    val left = Iceberg.read(spark, path).select("id").as[Long].collect().sorted.toSeq
    assert(left == Seq(3L), s"null keys must match null values, got $left")
  }

  test("equality deletes on a partitioned table apply to every partition") {
    val path = freshDir("v2_eqdel_part")
    Iceberg.write(fixture(0, 400), path, partitionBy = Seq("bucket"), formatVersion = 2)
    val (_, nKeys) = Iceberg.deleteEquality(spark, path, Seq(301L, 302L).toDF("id"))
    assert(nKeys == 2)
    // ids 301 and 302 live in buckets 1 and 2: the writer's delete is
    // global, so it must reach both partitions
    val after = Iceberg.read(spark, path)
    assert(after.count() == 398, "400 rows - 2 deleted ids")
    assert(after.filter(col("id").isin(301, 302)).count() == 0)
    assert(Iceberg.state(path).deleteFiles.forall(_.partition.isEmpty),
      "a global equality delete carries no partition tuple")
  }

  test("CoW update on a table with equality deletes does not resurrect dead rows") {
    val path = freshDir("v2_eqdel_dml")
    Iceberg.write(fixture(0, 50).repartitionByRange(2, col("id")), path,
      formatVersion = 2)                                               // seq 1
    Iceberg.deleteEquality(spark, path, Seq(1).toDF("bucket"))         // seq 2
    // ids ≡ 1 (mod 4) are dead: 1, 5, ..., 49 → 13 rows
    val (_, updated) = Iceberg.update(spark, path,
      Map("score" -> (col("score") + 1000)), col("id") < 20)
    assert(updated == 15, s"ids 0..19 minus 5 dead bucket-1 rows = 15, got $updated")
    val after = Iceberg.read(spark, path)
    assert(after.count() == 37, "50 - 13 equality-deleted rows")
    assert(after.filter(col("bucket") === 1).count() == 0,
      "the CoW rewrite must not resurrect equality-deleted rows")
    // id=0 lands at exactly 1000.0 (0*1.5 + 1000); untouched scores top out at 73.5
    assert(after.filter(col("score") >= 1000).count() == 15)
  }
}
