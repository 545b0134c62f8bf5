package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** `Engine.session`'s plan-shaping confs are constants: the optimizer
  * rules and CBO are toggled per session through `spark.conf`, never
  * through the environment, so every caller of the library plans alike. */
class EngineConfSpec extends AnyFunSuite {

  test("a default session sets the rule, CBO and AQE sizing confs to their constants") {
    val conf = Engine.session("4").conf
    val expected = Map(
      "spark.graft.optimizer.bloomPrefilter.enabled" -> "true",
      "spark.graft.optimizer.factBroadcastGuard.enabled" -> "true",
      "spark.graft.optimizer.eagerAggregation.enabled" -> "true",
      "spark.sql.cbo.enabled" -> "false",
      "spark.sql.cbo.joinReorder.enabled" -> "false",
      // Spark's own default: the session leaves it unset
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "16",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (32L << 20).toString,
      // the one cap for a join side AQE has measured (q14-derived, 8 MB)
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> (8L << 20).toString,
      // the codegen cache sized to the measured compile working set
      "spark.sql.codegen.cache.maxEntries" -> "1024")
    expected.foreach { case (k, v) => assert(conf.get(k) == v, s"$k") }
  }

  private def sourceLines(file: String): Seq[String] = {
    val f = new java.io.File(s"src/main/scala/graft/$file")
    assert(f.isFile, s"source not found at ${f.getAbsolutePath}")
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("Engine reads only SPARK_GRAFT_CPUS and SPARK_GRAFT_LOCAL_DIR from the environment") {
    val named = sourceLines("Engine.scala").filter(_.contains("sys.env")).flatMap(l =>
      "sys\\.env[.\\w]*\\(\\s*\"([^\"]*)\"".r.findAllMatchIn(l).map(_.group(1))).toSet
    assert(named == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOCAL_DIR"), s"$named")
  }

  test("the Graft facade reads no environment: its session default comes from Engine") {
    assert(!sourceLines("api.scala").exists(_.contains("sys.env")))
  }
}
