package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark caches Janino-compiled classes JVM-wide in an LRU whose size is
  * the static `spark.sql.codegen.cache.maxEntries` (default 100).
  * `Engine.session` sizes it to the engine's measured working set, so a
  * query set that needs more than 100 classes compiles each of them once
  * and a repeat run reuses every one. */
class CodegenReuseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // 37–51 distinct classes each on perfbench's tpch pass
  private val queries = Seq("q3", "q9", "q16", "q18", "q21")

  /** Classes compiled while every query of the set runs once, leased
    * caches released after each as `graft.Bench` does. */
  private def compiledByOneRun(): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, TestSpark.sfDir).collect()
      finally graft.ops.Caches.releaseAll(blocking = true)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a repeat run of a query set that outgrows Spark's default cache compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == Engine.codegenCacheEntries.toString)
    // in a JVM whose earlier suites ran these queries, part of the set is
    // already cached; run alone it compiles the whole set
    info(s"first run of ${queries.mkString(" ")} compiled ${compiledByOneRun()} classes")
    assert(compiledByOneRun() == 0)
  }
}
