package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** The runtime half of the fact-broadcast guard
  * (`graft.plans.MeasuredBroadcastRule`): before execution a fact-scaled
  * side never broadcasts; once AQE has measured it at or under
  * `spark.sql.adaptive.autoBroadcastJoinThreshold` it may, and above that
  * cap it never does. A user's strategy hint is never lifted. */
class MeasuredBroadcastSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  private val capKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
  private val factsKey = "spark.graft.optimizer.factTables"
  private val guardKey = "spark.graft.optimizer.factBroadcastGuard.enabled"

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> scala.util.Try(spark.conf.get(k)).toOption }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** (pre-execution plan, final plan) of one run of `df`. */
  private def plans(df: DataFrame): (String, String) = {
    val before = df.queryExecution.executedPlan.toString
    df.collect()
    (before, df.queryExecution.executedPlan.toString)
  }

  /** Every node of `df`'s final plan, descending into adaptive plans, query
    * stages, subqueries and each cached frame the plan reads. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else Nil
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("a fact side measured under the cap broadcasts only at runtime, with the same rows") {
    val t = Tables(spark, dir)
    def q = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .join(t.lineitem.select("l_orderkey", "l_quantity"), col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "l_quantity")
    val df = q
    val (before, after) = plans(df)
    assert(!before.contains("BroadcastHashJoin"),
      s"a fact side must not broadcast before execution:\n$before")
    assert(after.contains("BroadcastHashJoin"),
      s"a fact side measured under the cap should broadcast at runtime:\n$after")
    val off = withConfs(guardKey -> "false")(canon(q))
    assert(canon(df) == off)
  }

  test("a fact side measured above the cap never broadcasts") {
    val root = java.nio.file.Files.createTempDirectory("measured-bc").toString
    // ~20k rows with a 40-char payload per side: each shuffle measures
    // about a megabyte, far above the 64 KB cap and far under the 64 MB
    // static threshold the sides' file sizes would otherwise pass
    Seq("mbfacta", "mbfactb").foreach { name =>
      spark.range(20000).select(col("id").as("k"),
          concat(lit(name), lpad(col("id").cast("string"), 33, "x")).as("payload"))
        .write.parquet(s"$root/$name.parquet")
    }
    def q = spark.read.parquet(s"$root/mbfacta.parquet")
      .join(spark.read.parquet(s"$root/mbfactb.parquet").withColumnRenamed("payload", "p2"), "k")
    val facts = "lineitem,orders,customer,part,events,documents,embeddings,mbfacta,mbfactb"
    withConfs(factsKey -> facts, capKey -> (64L << 10).toString) {
      val (before, after) = plans(q)
      assert(!before.contains("BroadcastHashJoin"), before)
      assert(!after.contains("BroadcastHashJoin"),
        s"a fact side measured above the cap must not broadcast:\n$after")
    }
    // the same sides under a cap above their measured size do broadcast:
    // the cap, not the fixture, kept them out above
    withConfs(factsKey -> facts, capKey -> (64L << 20).toString) {
      assert(plans(q)._2.contains("BroadcastHashJoin"))
    }
  }

  test("an explicit shuffle_merge or shuffle_hash hint is never lifted") {
    val t = Tables(spark, dir)
    Seq("shuffle_merge" -> "SortMergeJoin", "shuffle_hash" -> "ShuffledHashJoin").foreach {
      case (hint, exec) =>
        val df = t.orders.select("o_orderkey").hint(hint)
          .join(t.lineitem.select("l_orderkey", "l_quantity"), col("o_orderkey") === col("l_orderkey"))
        val (_, after) = plans(df)
        assert(after.contains(exec) && !after.contains("BroadcastHashJoin"),
          s"the $hint hint must survive measurement:\n$after")
    }
  }

  test("the LSH dedup pipelines plan no sort-merge join on a small corpus") {
    val t = Tables(spark, dir)
    Seq[(String, () => DataFrame)](
      "minhash" -> (() => Dedup.minhashLshPairs(t.documents, "doc_id", "text", 3, 64, 1, 0.2)),
      "simhash" -> (() => Dedup.simhashPairs(t.documents, "doc_id", "text", 3, 2)),
      "embedding" -> (() => Dedup.embeddingCosineLshPairs(t.embeddings, "vec_id", "embedding", 0.9))
    ).foreach { case (name, f) =>
      try {
        val df = f()
        df.collect()
        val smj = finalNodes(df).filter(_.nodeName == "SortMergeJoin")
        assert(smj.isEmpty, s"$name: ${smj.size} sort-merge joins in the final plans")
      } finally Dedup.releaseCaches()
    }
  }
}
