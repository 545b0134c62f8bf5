package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** tpcds_price_chain narrows extendedprice cents and quantity to Int
  * before its exchanges. With ANSI off a bare cast would wrap, so an
  * out-of-range row must fail the query with an error naming the column.
  * The fixture is the sf0.001 lineitem/orders/part with one column
  * overwritten past the Int range. */
class PriceChainGuardSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Runs price_chain over sf0.001 with `column` of every lineitem row set
    * to `value`, and returns the failure's message chain. */
  private def failure(column: String, value: Column): String = {
    val dir = Files.createTempDirectory("price_chain_guard").toString
    val src = Tables(spark, TestSpark.sfDir)
    val li = src.lineitem
    li.withColumn(column, value.cast(li.schema(column).dataType))
      .write.parquet(s"$dir/lineitem.parquet")
    src.orders.write.parquet(s"$dir/orders.parquet")
    src.part.write.parquet(s"$dir/part.parquet")
    val e = intercept[Exception](SparkEntry.queries("tpcds_price_chain")(spark, dir).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  test("extendedprice cents past Int.MaxValue fail naming the column") {
    // 3e7 → 3e9 cents > 2^31 − 1
    val msg = failure("l_extendedprice", lit(3.0e7))
    assert(msg.contains("l_extendedprice cents out of int range"), msg)
  }

  test("a quantity past Int.MaxValue fails naming the column") {
    val msg = failure("l_quantity", lit(3.0e9))
    assert(msg.contains("l_quantity out of int range"), msg)
  }
}
