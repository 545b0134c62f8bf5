package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Caches, Dedup, Similarity}

/** A null or all-zero vector has no direction: its cosine is null or NaN,
  * so it ranks in no top-k and passes no pair threshold. Left to the
  * comparison, Spark would order NaN above every number and pass it
  * through `>=`. */
class ZeroVectorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private val gaussians =
    (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
  private val Zero = 40L
  private val Twin = 41L // an exact copy of vector 0: it must still pair

  private def vectors(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_zero_vec").toString
    rows.toDF("id", "v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val corpus =
    vectors(gaussians ++ Seq(Zero -> new Array[Float](8), Twin -> gaussians(0)._2))

  private def neighbors(df: DataFrame): Seq[Long] =
    df.select("neighbor_id").as[Long].collect().toSeq

  test("the zero vector is in no top-k, and as a query ranks nothing") {
    val queries = corpus.filter(col("id") < 3)
    try {
      val brute = neighbors(Similarity.bruteForceTopK(queries, corpus, "id", "v", "id", "v", 3))
      assert(brute.length == 9 && !brute.contains(Zero))
      val ivf = neighbors(Similarity.ivfTopK(queries, corpus, "id", "v", "id", "v",
        k = 3, nlist = 2, nprobe = 2))
      assert(ivf.length == 9 && !ivf.contains(Zero))
      val pq = neighbors(Similarity.ivfPqTopK(queries, corpus, "id", "v", "id", "v",
        k = 3, nlist = 2, nprobe = 2, m = 2, ksub = 4))
      assert(pq.length == 9 && !pq.contains(Zero))
      val asQuery = Similarity.bruteForceTopK(corpus.filter(col("id") === Zero), corpus,
        "id", "v", "id", "v", 3)
      assert(asQuery.isEmpty)
    } finally Caches.releaseAll()
  }

  test("the zero vector is in no semantic or exact pair; an exact copy still pairs") {
    try {
      val pairs = Seq(
        Dedup.semanticDedupPairs(corpus, "id", "v", threshold = 0.99, nClusters = 2),
        Dedup.embeddingCosinePairs(corpus, "id", "v", threshold = 0.99))
        .map(_.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
      pairs.foreach { p =>
        assert(!p.exists { case (a, b) => a == Zero || b == Zero }, s"$p")
        assert(p.contains((0L, Twin)), s"$p")
      }
    } finally Caches.releaseAll()
  }
}
