package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Delta

/** Row-level DELETE / UPDATE on Delta tables (copy-on-write): stats-
  * narrowed candidates, only match-containing files rewritten, SQL NULL
  * semantics, time travel across DML, partition-moving updates. */
class DeltaDmlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val p = s"/tmp/graft_deltadml_spec_$tag"
    Delta.deleteTable(p)
    p
  }

  test("delete rewrites only files that contain matches; time travel intact") {
    val path = freshDir("delete")
    val df = (0 until 400).map(i => (i.toLong, s"u$i")).toDF("id", "user")
      .repartitionByRange(4, col("id"))
    Delta.write(df, path) // 4 files with disjoint id ranges
    val before = Delta.snapshot(spark, path).files.map(_.path).toSet

    val (v, n) = Delta.delete(spark, path, col("id") >= 100L && col("id") < 150L)
    assert(n == 50)
    val after = Delta.snapshot(spark, path).files.map(_.path).toSet
    // 3 of the 4 original files survive untouched (stats prove no match)
    assert((before & after).size == 3, s"untouched files must keep their adds: $after")
    val back = Delta.read(spark, path)
    assert(back.count() == 350)
    assert(back.filter(col("id").between(100L, 149L)).count() == 0)
    // pre-delete version still shows all rows
    assert(Delta.read(spark, path, versionAsOf = Some(v - 1)).count() == 400)
  }

  test("NULL predicate results keep the row (SQL DELETE semantics)") {
    val path = freshDir("nulls")
    val rows = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"))
    Delta.write(rows.toDF("id", "tag"), path)
    val (_, n) = Delta.delete(spark, path, col("id") > 1L) // null > 1 → NULL → keep
    assert(n == 1)
    assert(Delta.read(spark, path).select("tag").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("delete matching nothing commits nothing") {
    val path = freshDir("noop")
    Delta.write((1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "r"), path)
    val v0 = Delta.latestVersion(path)
    val (v, n) = Delta.delete(spark, path, col("id") > 1000L)
    assert(v == v0 && n == 0)
    assert(Delta.latestVersion(path) == v0, "no-op delete must not create a version")
  }

  test("update applies assignments where the predicate holds, with casts") {
    val path = freshDir("update")
    Delta.write((0 until 100).map(i => (i.toLong, i * 1.0, "keep")).toDF("id", "score", "tag"), path)
    val (_, n) = Delta.update(spark, path,
      Map("score" -> (col("score") * 10), "tag" -> lit("boosted")),
      col("id") < 20L)
    assert(n == 20)
    val back = Delta.read(spark, path)
    assert(back.filter(col("tag") === "boosted").count() == 20)
    assert(back.filter(col("id") === 5L).select("score").as[Double].head() == 50.0)
    assert(back.filter(col("id") === 50L).select("score").as[Double].head() == 50.0)
    assert(back.count() == 100)
  }

  test("updating a partition column moves rows to their new directories") {
    val path = freshDir("partmove")
    Delta.write((0 until 60).map(i => (i.toLong, (i % 3).toString)).toDF("id", "g"),
      path, partitionBy = Seq("g"))
    val (_, n) = Delta.update(spark, path, Map("g" -> lit("9")), col("g") === "1")
    assert(n == 20)
    val back = Delta.read(spark, path)
    assert(back.filter(col("g") === "1").count() == 0)
    assert(back.filter(col("g") === "9").count() == 20)
    // the moved rows physically live under g=9
    val snap = Delta.snapshot(spark, path)
    val nineFiles = snap.files.filter(_.partitionValues.get("g").contains("9"))
    assert(nineFiles.nonEmpty &&
      nineFiles.forall(f => Paths.get(path, f.path).toString.contains("g=9")))
  }

  test("merge upserts by key: matched rows replaced, new keys inserted") {
    val path = freshDir("merge")
    Delta.write((0 until 300).map(i => (i.toLong, s"old_$i", 1.0))
      .toDF("id", "tag", "w").repartitionByRange(3, col("id")), path)
    val before = Delta.snapshot(spark, path).files.map(_.path).toSet

    // keys 250..349: 50 updates (250..299) + 50 inserts (300..349)
    val src = (250 until 350).map(i => (i.toLong, s"new_$i", 2.0)).toDF("id", "tag", "w")
    val (v, updated, inserted) = Delta.merge(spark, path, src, "id")
    assert(updated == 50 && inserted == 50)
    val after = Delta.snapshot(spark, path).files.map(_.path).toSet
    assert((before & after).size == 2, "files outside the source key range stay untouched")
    val back = Delta.read(spark, path)
    assert(back.count() == 350)
    assert(back.filter(col("tag").startsWith("new_")).count() == 100)
    assert(back.filter(col("id") === 250L).select("tag").as[String].head() == "new_250")
    assert(back.filter(col("id") === 100L).select("tag").as[String].head() == "old_100")
    // pre-merge version intact
    assert(Delta.read(spark, path, versionAsOf = Some(v - 1)).count() == 300)
  }

  test("merge updates EACH duplicate target row in place (no row collapse)") {
    val path = freshDir("mergetgtdup")
    // target holds key 7 three times — production MERGE semantics update
    // every matched row, so all three must survive with source values
    Delta.write(Seq((7L, "a"), (7L, "b"), (7L, "c"), (8L, "d")).toDF("id", "t"), path)
    val src = Seq((7L, "NEW"), (9L, "ins")).toDF("id", "t")
    val (_, updated, inserted) = Delta.merge(spark, path, src, "id")
    assert(updated == 3, "each duplicate target row counts as updated")
    assert(inserted == 1, "inserted must not go negative with duplicate targets")
    val back = Delta.read(spark, path)
    assert(back.count() == 5)
    assert(back.filter(col("id") === 7L).count() == 3)
    assert(back.filter(col("id") === 7L).select("t").as[String].collect().toSet == Set("NEW"))
    assert(back.filter(col("id") === 9L).select("t").as[String].head() == "ins")
  }

  test("dmlConflict: concurrent append inside the predicate range aborts the retry") {
    val path = freshDir("conflict")
    Delta.write((0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "r")
      .repartitionByRange(2, col("id")), path)
    val start = Delta.snapshot(spark, path)
    // concurrent writers land an in-range append and an out-of-range append
    Delta.write((40 until 45).map(i => (i.toLong, "late")).toDF("id", "r"), path, mode = "append")
    val withInRange = Delta.snapshot(spark, path)
    assert(Delta.dmlConflict(start, withInRange, Nil, Some(col("id").between(30L, 60L))),
      "an append that could match the predicate must conflict")
    assert(!Delta.dmlConflict(start, withInRange, Nil, Some(col("id") > 5000L)),
      "an append provably outside the predicate must not conflict")
    assert(Delta.dmlConflict(start, withInRange, Nil, None),
      "without a predicate any concurrent add conflicts")
    assert(!Delta.dmlConflict(start, start, Nil, Some(col("id") < 10L)),
      "no concurrent commits, no conflict")
    // a rewritten file that is no longer live conflicts regardless of pred
    assert(Delta.dmlConflict(start, withInRange.copy(files = withInRange.files.tail),
      Seq(withInRange.files.head), Some(col("id") > 5000L)))
  }

  test("merge refuses a source with duplicate keys") {
    val path = freshDir("mergedup")
    Delta.write(Seq((1L, "a")).toDF("id", "t"), path)
    val dup = Seq((2L, "x"), (2L, "y")).toDF("id", "t")
    val e = intercept[IllegalArgumentException](Delta.merge(spark, path, dup, "id"))
    assert(e.getMessage.contains("duplicate"))
  }

  test("merge inserts null-key source rows: a null key matches nothing, so it is no duplicate") {
    val path = freshDir("mergenullkeys")
    Delta.write((0 until 10).map(i => (Long.box(i.toLong), s"old_$i")).toDF("id", "t"), path)
    val src = Seq[(java.lang.Long, String)]((null, "x"), (null, "y"), (5L, "new")).toDF("id", "t")
    val (_, updated, inserted) = Delta.merge(spark, path, src, "id")
    assert(updated == 1 && inserted == 2)
    val back = Delta.read(spark, path)
    assert(back.count() == 12)
    assert(back.filter(col("id").isNull).select("t").as[String].collect().sorted.toSeq ==
      Seq("x", "y"))
    assert(back.filter(col("id") === 5L).select("t").as[String].head() == "new")
  }

  test("OPTIMIZE race: a rewrite retries past an append, aborts when its input was removed") {
    val path = freshDir("optrace")
    Delta.write((0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "r")
      .repartitionByRange(4, col("id")), path)
    // a rewrite of one file into an identical copy, staged in the table dir
    def stageCopy(snap: Delta.Snapshot, name: String): Delta.AddFile = {
      val src = Paths.get(path, snap.files.head.path)
      java.nio.file.Files.copy(src, Paths.get(path, name))
      Delta.AddFile(name, Map.empty, java.nio.file.Files.size(src), 0L)
    }
    def rewrite(start: Delta.Snapshot, copy: Delta.AddFile): Long =
      Delta.commitRewrite(spark, start, Seq(start.files.head), Seq(copy), 0L, "OPTIMIZE")

    // a concurrent append removes nothing: the rewrite lands at the next version
    val s0 = Delta.snapshot(spark, path)
    val kept = stageCopy(s0, "kept-copy.parquet")
    Delta.write(Seq((500L, "late")).toDF("id", "r"), path)
    assert(rewrite(s0, kept) == s0.version + 2)
    assert(Delta.snapshot(spark, path).files.map(_.path).contains(kept.path))
    assert(Delta.read(spark, path).count() == 101)

    // a concurrent DELETE rewrote the rewrite's input: publish nothing,
    // delete the staged copy, return the latest version
    val s1 = Delta.snapshot(spark, path)
    val dropped = stageCopy(s1, "dropped-copy.parquet")
    val victim = spark.read.parquet(Paths.get(path, s1.files.head.path).toString)
      .agg(min("id")).as[Long].head()
    Delta.delete(spark, path, col("id") === victim)
    val latest = Delta.latestVersion(path)
    assert(rewrite(s1, dropped) == latest)
    assert(Delta.latestVersion(path) == latest, "an aborted rewrite must not publish")
    assert(!java.nio.file.Files.exists(Paths.get(path, dropped.path)), "staged files must be deleted")
    assert(Delta.read(spark, path).count() == 100)
  }

  test("merge into a partitioned table routes inserts to their partitions") {
    val path = freshDir("mergepart")
    Delta.write((0 until 90).map(i => (i.toLong, (i % 3).toString, "old"))
      .toDF("id", "g", "tag"), path, partitionBy = Seq("g"))
    val src = Seq((5L, "2", "moved"), (1000L, "7", "fresh")).toDF("id", "g", "tag")
    val (_, updated, inserted) = Delta.merge(spark, path, src, "id")
    assert(updated == 1 && inserted == 1)
    val back = Delta.read(spark, path)
    assert(back.count() == 91)
    // the updated row moved partition (old g = 5 % 3 = 2 → stays "2" here,
    // but its payload changed) and the insert landed under g=7
    assert(back.filter(col("id") === 5L).select("tag").as[String].head() == "moved")
    assert(back.filter(col("g") === "7").count() == 1)
  }

  test("delete after zorder touches a small fraction of files") {
    val path = freshDir("zdel")
    val rnd = new scala.util.Random(3)
    Delta.write(rnd.shuffle((0 until 2048).toList).map(i => (i.toLong, i % 7))
      .toDF("id", "m").repartition(8), path)
    val total0 = Delta.snapshot(spark, path).files.map(_.size).sum
    Delta.optimizeZorder(spark, path, Seq("id"), targetFileBytes = total0 / 8)
    val before = Delta.snapshot(spark, path).files.map(_.path).toSet
    val (_, n) = Delta.delete(spark, path, col("id") === 1234L)
    assert(n == 1)
    val after = Delta.snapshot(spark, path).files.map(_.path).toSet
    // point delete on the clustered column rewrites ~1 file
    assert((before -- after).size <= 2,
      s"expected a point delete to rewrite at most 2 files, rewrote ${(before -- after).size}")
    assert(Delta.read(spark, path).count() == 2047)
  }
}
