package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Hudi

/** Row-level DELETE / UPDATE on Hudi CoW tables: per-group replacecommit,
  * time travel across DML, NULL semantics, partition moves. */
class HudiDmlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val p = s"/tmp/graft_hudidml_spec_$tag"
    Hudi.deleteTable(p)
    p
  }

  test("delete replaces only match-containing file groups; time travel intact") {
    val path = freshDir("delete")
    val df = (0 until 400).map(i => (i.toLong, s"u$i")).toDF("id", "user")
      .repartitionByRange(4, col("id"))
    val i0 = Hudi.write(df, path)
    val before = Hudi.timeline(path).slices.map(_.fileId).toSet

    val (i1, n) = Hudi.delete(spark, path, col("id") >= 100L && col("id") < 150L)
    assert(n == 50)
    val after = Hudi.timeline(path).slices.map(_.fileId).toSet
    assert((before & after).size == 3, "untouched file groups must survive")
    val back = Hudi.read(spark, path)
    assert(back.count() == 350)
    assert(back.filter(col("id").between(100L, 149L)).count() == 0)
    assert(Hudi.read(spark, path, asOfInstant = Some(i0)).count() == 400)
    assert(i1 > i0)
  }

  test("update with NULL semantics and partition move") {
    val path = freshDir("update")
    Hudi.write((0 until 60).map(i => (i.toLong, (i % 3).toString)).toDF("id", "g"),
      path, partitionBy = Seq("g"))
    val (_, n) = Hudi.update(spark, path, Map("g" -> lit("9")), col("g") === "1")
    assert(n == 20)
    val back = Hudi.read(spark, path)
    assert(back.filter(col("g") === "1").count() == 0)
    assert(back.filter(col("g") === "9").count() == 20)
    assert(back.count() == 60)

    val (_, zero) = Hudi.delete(spark, path, col("id") > 1000L)
    assert(zero == 0)
  }

  test("delete matching nothing commits nothing") {
    val path = freshDir("noop")
    val i0 = Hudi.write((1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "r"), path)
    val (i, n) = Hudi.delete(spark, path, col("id") > 1000L)
    assert(i == i0 && n == 0)
    assert(Hudi.timeline(path).completedInstants == Seq(i0), "no-op delete must not commit")
    val markers = java.nio.file.Files.list(java.nio.file.Paths.get(path, ".hoodie"))
    try assert(!markers.anyMatch(_.getFileName.toString.matches(".*\\.(requested|inflight)$")),
      "no-op delete claims no instant")
    finally markers.close()
  }
}
