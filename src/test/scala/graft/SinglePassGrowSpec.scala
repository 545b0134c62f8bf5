package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SinglePass

/** The kernels whose SECONDARY slot tables (per-k1 counts, q21's per-order
  * on-time counts and per-supplier culprit counts) grow inside one task.
  * A grow replaces the value arrays, so an increment that read the old
  * array before the inserting `slot` call would be lost for the key whose
  * insert crossed the 0.7 load factor. Inputs are coalesced to ONE
  * partition — a single partition satisfies the kernels' clustering, so
  * no exchange splits them — and sized past each table's first grow:
  * 45,876 entries for the 1<<16 tables, 2,868 for the 1<<12 one. Each
  * kernel is compared with the DataFrame shape it replaces. */
class SinglePassGrowSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def oneTask(df: DataFrame): DataFrame = {
    assert(df.rdd.getNumPartitions == 1, "kernel must run as a single task")
    df
  }

  test("distinctPairCountByKey: per-k1 counts survive the counts table's grows") {
    // 60,000 distinct k1 (past the 1<<16 table's 45,876 trigger) with
    // 3 distinct k2 each, every pair seen 1-2 times (300,000 rows)
    val df = spark.range(0, 300000).coalesce(1).select(
      (col("id") % 60000).as("k1"), ((col("id") / 60000).cast("long") % 3).as("k2"))
    val got = oneTask(SinglePass.distinctPairCountByKey(df, "k1", "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("k1").agg(countDistinct("k2").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.size == 60000 && want.values.forall(_ == 3L))
    assert(got == want)
  }

  test("q21CulpritCounts: on-time and per-supplier counts survive their tables' grows") {
    // 60,000 orders (past the on-time table's 45,876 trigger). Each has an
    // on-time line from s1 (seen twice) and a late line from a different
    // s2, so every order has a culprit; s2 spans 5,000 suppliers (past the
    // 1<<12 table's 2,868 trigger). Every tenth order also has a late line
    // from s1 itself, which is no culprit: s1 is its only on-time supplier.
    val s1 = (col("id") * 7) % 5000
    val s2 = (col("id") * 7 + 1 + col("id") % 13) % 5000
    def line(ls: org.apache.spark.sql.Column, late: Int) =
      struct(ls.as("ls"), lit(late).as("lateF"))
    val df = spark.range(0, 60000).coalesce(1)
      .select(col("id").as("lk"), explode(array(
        line(s1, 0), line(s1, 0), line(s2, 1),
        line(when(col("id") % 10 === 0, s1).otherwise(s2), 1))).as("c"))
      .select(col("lk"), col("c.ls").as("ls"), col("c.lateF").as("lateF"))
    val got = oneTask(SinglePass.q21CulpritCounts(df))
      .groupBy("ls").agg(sum("cnt").as("numwait"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val late = df.filter(col("lateF") === 1).select("lk", "ls").distinct()
    val ontime = df.filter(col("lateF") === 0)
      .select(col("lk").as("ok2"), col("ls").as("os2")).distinct()
    val want = late.join(ontime,
        col("lk") === col("ok2") && col("ls") =!= col("os2"), "left_semi")
      .groupBy("ls").agg(count(lit(1)).as("numwait"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.size == 5000 && want.values.sum == 60000L)
    assert(got == want)
  }
}
