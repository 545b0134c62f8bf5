package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One timed unit of a workload. `construct` calls into the engine; it
  * returns a DataFrame (drained with `collect`) or a value the call has
  * already materialised (a Delta commit version, merge counts). Pipeline
  * steps may hand state to later steps of the same pass through `ctx`. */
final case class Op(name: String, construct: (SparkSession, Ctx) => Any)

final class Ctx(val pass: Int) {
  val state = scala.collection.mutable.Map.empty[String, Any]
}

/** `ops` run in this order in every pass: the first ops of a run pay the
  * JVM's cold start, so a varying order would move that cost between ops
  * from run to run. The set-up ends with one `warmup` op; a run then
  * measures at least `passes` passes. */
final case class Workload(ops: Seq[Op], warmup: Op, passes: Int)

object Workloads {

  private def entry(name: String, dir: String): Op =
    Op(name, (s, _) => graft.SparkEntry.queries(name)(s, dir))

  /** The TPC-H queries that carry the engine's relational mechanisms:
    * scan + aggregate (q1, q6), bloom-prefiltered joins with leased build
    * sides (q3, q9), an outer join (q13) and the four single-pass kernel
    * queries (q9, q16, q18, q21). */
  val tpchQueries = Seq("q1", "q3", "q6", "q9", "q13", "q16", "q18", "q21")

  /** Two passes: a TPC-H pass is short next to the JVM's cold start, and
    * the warm second pass halves that cost's share of each op's median. */
  def tpch(dir: String): Workload =
    Workload(tpchQueries.map(entry(_, dir)), entry("q6", dir), passes = 2)

  /** The dedup / search / Delta pipeline, in step order. Operator
    * settings are those of the engine's own pipeline queries
    * (`graft.queries.Pipeline`): near-duplicate minhash-LSH at 3-gram
    * Jaccard 0.2 with 64 one-row bands, simhash at Hamming distance 2,
    * embedding-LSH at cosine 0.9, and IVF with 16 cells of which 10 are
    * probed; top-k is 10 where those queries use 5. */
  def llm(dir: String, tmp: String): Workload = {
    import graft.Graft
    import graft.ops.{Dedup, Similarity}
    def docs(s: SparkSession) = s.read.parquet(s"$dir/documents.parquet")
    def vecs(s: SparkSession) = s.read.parquet(s"$dir/embeddings.parquet")
    def queries(s: SparkSession) = s.read.parquet(s"$dir/ann_queries.parquet")
    def table(c: Ctx) = s"$tmp/delta-pass${c.pass}"
    val range = {
      val src = scala.io.Source.fromFile(s"$dir/truth.json")
      try {
        val m = "\"read_range\": \\[(\\d+), (\\d+)\\]".r.findFirstMatchIn(src.mkString).get
        (m.group(1).toLong, m.group(2).toLong)
      } finally src.close()
    }
    val ops = Seq(
      Op("dedup_exact", (s, _) =>
        Dedup.exact(docs(s), Seq("text"), "doc_id").select("doc_id")),
      Op("dedup_minhash", (s, c) => {
        val pairs = Dedup.minhashLshPairs(docs(s), "doc_id", "text",
          shingleN = 3, k = 64, bandRows = 1, threshold = 0.2)
          .select("doc_a", "doc_b").collect()
        c.state("pairs") = pairs
        pairs
      }),
      Op("dedup_simhash", (s, _) =>
        Dedup.simhashPairs(docs(s), "doc_id", "text", shingleN = 3, maxHamming = 2)
          .select("doc_a", "doc_b")),
      Op("dedup_clusters", (s, c) => {
        val rows = c.state("pairs").asInstanceOf[Array[org.apache.spark.sql.Row]]
        val pairs = s.createDataFrame(
          s.sparkContext.parallelize(rows.toSeq.map(r => (r.getLong(0), r.getLong(1))), 1))
          .toDF("doc_a", "doc_b")
        Dedup.clusters(pairs, "doc_a", "doc_b")
      }),
      Op("embed_lsh", (s, _) =>
        Dedup.embeddingCosineLshPairs(vecs(s), "vec_id", "embedding", threshold = 0.9)
          .select("id_a", "id_b")),
      Op("ann_brute", (s, _) =>
        Similarity.bruteForceTopK(queries(s), vecs(s), "vec_id", "embedding",
          "vec_id", "embedding", 10).select("query_id", "neighbor_id")),
      Op("ann_ivf", (s, _) =>
        Similarity.ivfTopK(queries(s), vecs(s), "vec_id", "embedding",
          "vec_id", "embedding", k = 10, nlist = 16, nprobe = 10).select("query_id", "neighbor_id")),
      Op("delta_write", (s, c) => {
        val survivors = Dedup.exact(docs(s), Seq("text"), "doc_id")
          .select("doc_id", "text").repartitionByRange(8, col("doc_id"))
        Graft.writeDeltalake(survivors, table(c), "overwrite")
      }),
      Op("delta_merge", (s, c) => {
        val (a, b, d) = Graft.mergeDeltalake(s, table(c),
          s.read.parquet(s"$dir/upserts.parquet"), "doc_id")
        Seq(a, b, d)
      }),
      Op("delta_read", (s, c) =>
        Graft.readDeltalake(s, table(c),
          dataFilter = Some(col("doc_id") >= range._1 && col("doc_id") < range._2))
          .select("doc_id", "text"))
    )
    Workload(ops, ops.head, passes = 1)
  }

  def apply(name: String, dir: String, tmp: String): Workload = name match {
    case "tpch" => tpch(dir)
    case "llm_pipeline" => llm(dir, tmp)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
