package graft.ops

import graft.expressions.{VectorKernelExprs => VK}
import graft.functions.{Distance => GDist}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over embedding columns (builder
  * brief). Baseline: exact brute-force cosine top-k — a broadcast join of
  * the (small) query set against the corpus, ranked per query; no corpus
  * shuffle, scales linearly with corpus size. Scale path: IVF — KMeans
  * coarse quantizer, search only the nprobe nearest centroid cells
  * (corpus scan cost / (nlist/nprobe)). */
object Similarity {

  /** Hard cap on the broadcast query set (VERDICT r13 #6): the contract
    * is a SMALL query frame — a 10M-row query side would OOM every
    * executor as a broadcast build. ~100k queries × ~128 floats ≈ 64 MB,
    * around Spark's own broadcast comfort ceiling. Past the cap the
    * caller should flip the roles (query the corpus in batches) or use
    * [[ivfTopK]], whose probe join shuffles instead of broadcasting. */
  val MaxBroadcastQueries = 100000L

  /** The one rule for similarity scores: a null or NaN score (the cosine
    * of a null or all-zero vector, which has no direction) never ranks
    * and never passes a threshold. Left to the comparison, Spark would
    * order NaN above every number and pass it through `>=`. */
  private[ops] def rankable(score: Column): Column = score.isNotNull && !isnan(score)

  /** Exact top-k: every (query, corpus) pair scored, top k per query.
    * The query side is broadcast; the corpus is never shuffled — the
    * window ranks within query-id partitions of the (small) scored set.
    * Only [[rankable]] scores rank, here and in the IVF searches.
    *
    * The cap check evaluates the query plan a second time (once for the
    * guard count, once for the broadcast) — pass a cached/leased frame,
    * or at least a DETERMINISTIC one: an unseeded `sample` could pass
    * the count yet broadcast a different row set (ADVICE r14). The guard
    * projects only the id column and counts a `limit(cap+1)` so the
    * probe job stops at the cap instead of scanning a huge frame. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String, k: Int): DataFrame = {
    val nq = queries.select(col(qId))
      .limit((MaxBroadcastQueries + 1).toInt).count()
    require(nq <= MaxBroadcastQueries,
      s"bruteForceTopK broadcasts the query set: >$MaxBroadcastQueries " +
        "queries exceed the cap — batch the queries or use ivfTopK " +
        "(shuffled probe join) for corpus-scaled query frames")
    val scored = corpus.join(
        broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("qv"))))
      .withColumn("cos_sim", GDist.cosineSimilarityNative(col("qv"), col(cVec)))
      .filter(rankable(col("cos_sim")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col(cId).asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(cId).as("neighbor_id"), col("cos_sim"), col("rk"))
  }

  /** IVF top-k: assign corpus vectors to KMeans cells once (an O(n·nlist)
    * map pass), then for each query probe only the `nprobe` nearest cells.
    * Recall < 1 by construction; pair with `bruteForceTopK` as the
    * verification stage on candidate subsets. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nlist: Int, nprobe: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // Train the coarse quantizer on a bounded sample: centroid quality needs
    // only ~O(100) points per cell, so cap the fit input at ~max(100k,
    // 100*nlist) vectors instead of scanning the full corpus per KMeans
    // iteration (at 100 TB the full-corpus fit would dominate the query).
    // Vectors are L2-normalized for clustering: on the unit sphere
    // euclidean distance is monotone in cosine, so cell assignment matches
    // the cosine metric.
    val fitCap = math.max(100000L, 100L * nlist)
    val corpusN = corpus.count()
    val trainBase =
      if (corpusN <= fitCap) corpus
      else corpus.sample(withReplacement = false, fitCap.toDouble / corpusN, seed)
    val train = unitVectors(trainBase, cVec).select(array_to_vector(col("nv")).as("features"))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(train)
    val cents: Array[Array[Double]] = model.clusterCenters.map(_.toArray)
    val bcCents = corpus.sparkSession.sparkContext.broadcast(cents)

    // per-row nearest-cells scan over the broadcast centroid table: a pure
    // map pass — no n×nlist row blowup, no shuffle, no per-id window. Ties
    // break toward the lower cell index.
    val corpusCells = corpus
      .withColumn("cell", VK.nearestCells(col(cVec), bcCents, 1)(0))
      .select(col(cId), col(cVec), col("cell"))

    // queries probe their nprobe nearest cells
    val queryCells = queries
      .withColumn("cell", explode(VK.nearestCells(col(qVec), bcCents, nprobe)))
      .select(col(qId).as("query_id"), col(qVec).as("qv"), col("cell"))

    val scored = queryCells.join(corpusCells, Seq("cell"))
      .withColumn("cos_sim", GDist.cosineSimilarityNative(col("qv"), col(cVec)))
      .filter(rankable(col("cos_sim")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col(cId).asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(cId).as("neighbor_id"), col("cos_sim"), col("rk"))
  }

  /** IVF-PQ top-k (IVFADC; Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): [[ivfTopK]]'s coarse
    * cells plus an m-way product quantizer, so candidate scoring reads m
    * small integer codes per vector instead of the full float vector.
    * THIS is the 100 TB ANN shape: the codes table is (4·d)/m× smaller
    * than the raw embeddings (64-dim float → 8 codes ≈ 32× with byte
    * packing), so the probed-cell scan is bandwidth-bound on codes, and
    * raw vectors are fetched (joined) only for the refine·k finalists
    * per query.
    *
    * Scoring is ADC (asymmetric distance computation): each query builds
    * one m×ksub lookup table of partial inner products against the
    * broadcast codebooks — built ONCE per query, not per candidate — and
    * every candidate scores with m table lookups. The top refine·k PQ
    * candidates re-rank EXACTLY on the raw vectors, so returned cos_sim
    * values are true cosines and ordering errors are confined to the
    * PQ→exact candidate handoff.
    *
    * All passes are map-side over broadcast models (centroids +
    * codebooks); the only shuffles are the cell equi-join and the two
    * per-query windows, whose input is candidates, not corpus. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nlist: Int, nprobe: Int,
      m: Int = 8, ksub: Int = 256, refine: Int = 4, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val spark = corpus.sparkSession
    val dim = vectorDim(corpus, cVec).getOrElse(
      throw new IllegalArgumentException(s"ivfPqTopK: corpus column $cVec holds no non-null vector"))
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val sub = dim / m

    // one bounded sample feeds BOTH the coarse quantizer and the m
    // sub-quantizers (same rationale as ivfTopK's fit cap)
    val fitCap = math.max(100000L, 100L * math.max(nlist, ksub))
    val corpusN = corpus.count()
    val trainBase =
      if (corpusN <= fitCap) corpus
      else corpus.sample(withReplacement = false, fitCap.toDouble / corpusN, seed)
    val train = unitVectors(trainBase, cVec).persist()
    val nTrain = train.count() // materialize the lease once

    val coarse = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
      .fit(train.select(array_to_vector(col("nv")).as("features")))
    val cents: Array[Array[Double]] = coarse.clusterCenters.map(_.toArray)

    // per-subspace codebooks: KMeans over the subvector slices. ksub is
    // clamped so tiny corpora (tests, cold starts) still fit.
    val ksubEff = math.min(ksub, math.max(2, (nTrain / 2).toInt))
    val codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      val slice = train.select(array_to_vector(
        slice_(col("nv"), j * sub + 1, sub)).as("features"))
      new KMeans().setK(ksubEff).setSeed(seed + j).setMaxIter(10)
        .fit(slice).clusterCenters.map(_.toArray)
    }
    train.unpersist()
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcBooks = spark.sparkContext.broadcast(codebooks)

    // the scan side carries ONLY (id, cell, codes) — never the raw vector;
    // codes are the nearest sub-centroid per subspace, m per vector
    val corpusCodes = corpus
      .withColumn("cell", VK.nearestCells(col(cVec), bcCents, 1)(0))
      .withColumn("codes", VK.pqEncode(col(cVec), bcBooks))
      .select(col(cId).as("__cid"), col("cell"), col("codes"))

    // ADC lookup table: partial inner products query-subvector × centroid
    val queryCells = queries
      .withColumn("lut", VK.pqLut(col(qVec), bcBooks))
      .withColumn("cell", explode(VK.nearestCells(col(qVec), bcCents, nprobe)))
      .select(col(qId).as("query_id"), col(qVec).as("qv"), col("lut"), col("cell"))

    val pqScored = queryCells.join(corpusCodes, Seq("cell"))
      .withColumn("pq_sim", VK.pqAdc(col("lut"), col("codes")))
      .filter(rankable(col("pq_sim")))
    val wPq = Window.partitionBy("query_id").orderBy(col("pq_sim").desc, col("__cid").asc)
    val finalists = pqScored
      .withColumn("prk", row_number().over(wPq))
      .filter(col("prk") <= refine.toLong * k)
      .select(col("query_id"), col("qv"), col("__cid"))

    // exact re-rank: fetch raw vectors for the finalists only
    val exact = finalists
      .join(corpus.select(col(cId).as("__cid"), col(cVec).as("__cv")), Seq("__cid"))
      .withColumn("cos_sim", GDist.cosineSimilarityNative(col("qv"), col("__cv")))
      .filter(rankable(col("cos_sim")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("__cid").asc)
    exact
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("__cid").as("neighbor_id"), col("cos_sim"), col("rk"))
  }

  /** The length of the first non-null vector of `vec`, or None when the
    * frame holds none (null vectors are allowed anywhere, first included). */
  private[ops] def vectorDim(df: DataFrame, vec: String): Option[Int] =
    df.filter(col(vec).isNotNull).select(size(col(vec))).head(1).headOption.map(_.getInt(0))

  /** KMeans training input of the IVF quantizers and semantic dedup: the
    * L2-normalized vectors as `nv`, without null vectors and vectors holding
    * a null element. Those have no direction (and `array_to_vector` rejects
    * their nulls); the cell kernels give them no cell either. */
  private[ops] def unitVectors(df: DataFrame, vec: String): DataFrame =
    df.select(VK.l2Normalize(col(vec)).as("nv")).filter(forall(col("nv"), _.isNotNull))

  // `slice` collides with the DataFrame method name in scope
  private def slice_(c: org.apache.spark.sql.Column, start: Int, len: Int) =
    org.apache.spark.sql.functions.slice(c, start, len)
}
