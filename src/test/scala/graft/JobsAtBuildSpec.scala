package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsofJoin, Curate, ExecMetrics, Global, Tokenize}

/** The range two-pass operators are lazy: building their frames, and
  * explaining them, runs no Spark job; the range shuffle and pass 1 run
  * in the action. Each action's budget is the job count the eager
  * RDD-based operators paid at build and action together (sf0.001,
  * local[4]: 3 + 1 per rank or as-of call, 4 + 1 for the vocabulary,
  * 21 + 1 for `tpcds_return_rank`'s six ranks, 4 + 8 for
  * `tokenize_roundtrip`), so the lazy plan may move jobs into the action
  * but not add any. `tokenize_roundtrip` uses one vocabulary frame twice,
  * under two broadcasts keyed differently: its range shuffle runs once,
  * the second copy reusing the first's exchange, and so does pass 1. */
class JobsAtBuildSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  // every job but a table load's schema read: `spark.read.parquet` runs
  // one job (stage "parquet at ...") to read a footer each time a frame
  // loads a table, eager or lazy operator alike
  private val started = new AtomicInteger
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (!e.stageInfos.forall(_.name.startsWith("parquet at "))) started.incrementAndGet()
  })

  /** `f`'s result and the number of jobs started while it ran. */
  private def jobs[A](f: => A): (A, Int) = {
    Bridge.drainListenerBus(spark)
    val before = started.get
    val a = f
    Bridge.drainListenerBus(spark)
    (a, started.get - before)
  }

  private def docs = Tables(spark, dir).documents
  private def events = Tables(spark, dir).events

  private val cases: Seq[(String, () => DataFrame, Int)] = Seq(
    ("withGlobalRank with a running sum", () => Global.withGlobalRank(
      Tables(spark, dir).orders.select(col("o_orderkey"), col("o_totalprice"),
        floor(col("o_totalprice")).cast("long").as("v")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), "rk", Some(("v", "run"))), 4),
    ("Tokenize.buildVocab", () => Tokenize.buildVocab(docs, "text"), 5),
    ("Curate.prioritySample", () => Curate.prioritySample(
      docs.select(col("doc_id"), (pmod(col("n_chars"), lit(97)) + 1).cast("double").as("wt")),
      "doc_id", "wt", k = 50), 4),
    ("global AsofJoin.join", () => AsofJoin.join(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("ts").as("p_ts")),
      "ts", "p_ts"), 4),
    ("tpcds_return_rank", () => SparkEntry.queries("tpcds_return_rank")(spark, dir), 22),
    ("tokenize_roundtrip", () => SparkEntry.queries("tokenize_roundtrip")(spark, dir), 12))

  for ((name, build, budget) <- cases)
    test(s"$name: no job at build or explain, at most $budget in the action") {
      val (df, atBuild) = jobs(build())
      val (_, atExplain) = jobs(Console.withOut(new java.io.ByteArrayOutputStream)(df.explain()))
      val (rows, atAction) = jobs(df.collect())
      info(s"build $atBuild, explain $atExplain, action $atAction jobs")
      assert(atBuild == 0, s"$name ran $atBuild jobs while it was built")
      assert(atExplain == 0, s"$name ran $atExplain jobs to explain")
      assert(rows.nonEmpty)
      assert(atAction <= budget, s"$name ran $atAction jobs in the action, budget $budget")
    }

  test("tokenize_roundtrip shuffles its vocabulary once for both uses") {
    val df = SparkEntry.queries("tokenize_roundtrip")(spark, dir)
    df.collect()
    val nodes = ExecMetrics.allNodes(df.queryExecution.executedPlan)
    val ranges = nodes.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e }
    assert(ranges.size == 1, s"one range shuffle under the vocabulary, got ${ranges.size}")
    assert(nodes.count(_.nodeName == "RangeTwoPass") == 2)
    assert(nodes.exists {
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeExec]
      case _ => false
    }, "the second use reuses the range exchange")
  }
}
