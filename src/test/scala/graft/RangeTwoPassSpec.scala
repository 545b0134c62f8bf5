package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsofJoin, ExecMetrics, Global, SinglePass}

/** The planned range two-pass (`plans.RangeTwoPassNode`) under global
  * rank and the global as-of join: one range exchange at the session's
  * width feeds it, a narrowing `select` above it cannot shift the columns
  * its kernels read, and it reports its output rows like the other
  * custom execs. */
class RangeTwoPassSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def orders = Tables(spark, TestSpark.sfDir).orders
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      floor(col("o_totalprice")).cast("long").as("v"))
  private val byPrice = Seq(col("o_totalprice").desc, col("o_orderkey").asc)

  private val rnd = new scala.util.Random(11)
  private def left = (1 to 300).map(i => (i.toLong, rnd.nextInt(1000).toLong)).toDF("lid", "lt")
  private def right = (1 to 200).map(i => (1000L + i, rnd.nextInt(1000).toLong)).toDF("rid", "rt")

  private def withShufflePartitions[A](n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prior)
  }

  private def executedNodes(df: DataFrame) = {
    df.collect()
    ExecMetrics.allNodes(df.queryExecution.executedPlan)
  }

  test("one range exchange at the session width feeds the two-pass, no single-partition funnel") {
    withShufflePartitions(7) {
      val frames = Seq(
        "rank" -> Global.withGlobalRank(orders, byPrice, "rk", Some(("v", "run"))),
        "asof" -> AsofJoin.join(left, right, "lt", "rt", strategy = AsofJoin.Nearest))
      for ((name, df) <- frames) {
        val nodes = executedNodes(df)
        val exchanges = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
        assert(exchanges.size == 1, s"$name: expected one exchange, got $exchanges")
        exchanges.head match {
          case RangePartitioning(_, n) => assert(n == 7, s"$name: range exchange of $n partitions")
          case p => fail(s"$name: expected a range exchange, got $p")
        }
        assert(!exchanges.contains(SinglePartition), s"$name: single-partition exchange")
        assert(nodes.exists(_.nodeName == "RangeTwoPass"), s"$name: no RangeTwoPass node")
      }
    }
  }

  test("a global rank under a narrowing select equals row_number over the unpartitioned Window") {
    val w = Window.orderBy(byPrice: _*)
    val ranked = Global.withGlobalRank(orders, byPrice, "rk")
    val want = orders.select(col("o_orderkey"), row_number().over(w).cast("long").as("rk"))
    // the rank column alone: every other input column is pruned above the node
    assert(ranked.select("rk").as[Long].collect().sorted.toSeq ==
      want.select("rk").as[Long].collect().sorted.toSeq)
    assert(ranked.select("o_orderkey", "rk").as[(Long, Long)].collect().toSet ==
      want.as[(Long, Long)].collect().toSet)
  }

  test("no constraint of a placeholder survives the node: filters and joins on the rank see the real ranks") {
    // the fixture's order keys run 0, 1, 2, ..., so k1 is the rank by key
    val input = orders.withColumn("k1", col("o_orderkey") + 1)
    val byKey = Seq(col("o_orderkey").asc)
    val ranked = Global.withGlobalRank(input, byKey, "rk", Some(("v", "run")))
    val want = input.withColumn("rk", row_number().over(Window.orderBy(byKey: _*)).cast("long"))
      .withColumn("run", sum(col("v")).over(Window.orderBy(byKey: _*)))
    val ids = spark.range(1, 51).toDF("id")
    def rows(df: DataFrame) = df.select("o_orderkey", "rk", "run").as[(Long, Long, Long)].collect().toSet
    val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
      "rk === k1" -> (_.filter(col("rk") === col("k1"))),
      "run === v" -> (_.filter(col("run") === col("v"))),
      "join on rk" -> (_.join(ids, col("rk") === col("id"))))
    val wrong = queries.collect { case (name, q) if rows(q(ranked)) != rows(q(want)) => name }
    assert(queries.forall { case (_, q) => rows(q(want)).nonEmpty })
    assert(wrong.isEmpty, s"differ from the Window: $wrong")
  }

  test("a global as-of join rejects a right column that differs from a left one only in case") {
    val clash = right.withColumnRenamed("rid", "LID")
    intercept[IllegalArgumentException](AsofJoin.join(left, clash, "lt", "rt"))
  }

  test("numOutputRows on the three custom execs") {
    val keyed = (0 until 1000).map(i => ((i % 10).toLong, i.toLong)).toDF("k", "v")
    val cases = Seq(
      ("SinglePassAgg", SinglePass.sumLongByKey(keyed, "k", "s"), 10L),
      ("AsofJoin", AsofJoin.join(left.withColumn("k", col("lid") % 3), right.withColumn("rk", col("rid") % 3),
        "lt", "rt", Seq("k"), Seq("rk")), 300L),
      ("RangeTwoPass", Global.withGlobalRank(keyed, Seq(col("v")), "rank"), 1000L))
    for ((node, df, rows) <- cases) {
      val (out, metrics) = ExecMetrics.collectWithMetrics(df)
      assert(out.length == rows)
      assert(ExecMetrics.metricSum(metrics, node, "numOutputRows") == rows, s"$node output rows")
    }
  }
}
