package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.{VectorKernelExprs => VK}
import graft.functions.{Distance => GDist}
import graft.ops.{Caches, Dedup, Similarity}

/** The native vector kernels behind IVF, IVF-PQ, semantic dedup and
  * embedding LSH, checked against plain-`Array` references on seeded
  * vectors. Inputs go through parquet so the kernels run inside
  * whole-stage codegen; the null cases run on local relations, which the
  * optimizer folds through the interpreted `eval` path. */
class VectorKernelsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private def gaussian(d: Int): Array[Float] = Array.fill(d)(rnd.nextGaussian().toFloat)

  /** `rows` of (id, vector) written to parquet and read back. */
  private def vectors(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec").toString
    rows.toDF("id", "v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def normalizedRef(v: Array[Float]): Array[Double] = {
    val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
    v.map(x => if (norm == 0) 0.0 else x / norm)
  }

  private def signBitsRef(v: Array[Float], planes: Array[Array[Double]]): Long =
    planes.indices.foldLeft(0L) { (sig, i) =>
      val dot = v.indices.foldLeft(0.0)((a, j) => a + planes(i)(j) * v(j))
      if (dot >= 0) sig | (1L << i) else sig
    }

  private val byDistThenCell = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** Squared L2 distance of x(off until off + c.length) to c. */
  private def dist(x: Array[Double], off: Int, c: Array[Double]): Double =
    c.indices.foldLeft(0.0) { (d, j) => val t = x(off + j) - c(j); d + t * t }

  /** Sort every cell by (distance, index) and keep the first n. */
  private def nearestRef(v: Array[Float], cents: Array[Array[Double]], n: Int): Seq[Int] = {
    val nv = normalizedRef(v)
    cents.indices.map(c => (dist(nv, 0, cents(c)), c))
      .sorted(byDistThenCell).take(n).map(_._2)
  }

  test("l2Normalize is bit-identical to the transform/aggregate form") {
    for (d <- Seq(1, 64, 768)) {
      val df = vectors((0 until 20).map(i => (i.toLong, gaussian(d))))
        .select(VK.l2Normalize(col("v")).as("native"),
          transform(col("v"), x => x.cast("double") / GDist.norm(col("v"))).as("hof"))
      val rows = df.collect()
      assert(rows.length == 20)
      rows.foreach { r =>
        val (a, b) = (r.getSeq[Double](0), r.getSeq[Double](1))
        assert(a.length == d && a.indices.forall(i => a(i) == b(i)),
          s"d=$d: native $a differs from the HOF form $b")
      }
    }
  }

  test("l2Normalize: zero vector → zeros, null → null, null element → all-null") {
    val df = Seq[(Long, Array[java.lang.Float])](
        (1L, Array(0f, 0f, 0f).map(Float.box)),
        (2L, null),
        (3L, Array[java.lang.Float](1f, null, 2f)))
      .toDF("id", "v").select(col("id"), VK.l2Normalize(col("v")).as("n"))
    val got = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getSeq[Double](1) == Seq(0.0, 0.0, 0.0))
    assert(got(2L).isNullAt(1))
    val allNull = got(3L).getSeq[java.lang.Double](1)
    assert(allNull.length == 3 && allNull.forall(_ == null))
  }

  test("sign bits and nearest cells equal plain-Array references, ties to the lower cell") {
    val d = 16
    val planes = Array.fill(32, d)(rnd.nextGaussian())
    // cells 3 and 6 repeat cells 1 and 0: every vector is equidistant to
    // both copies, so only the index decides their order
    val base = Array.fill(6)(normalizedRef(gaussian(d)))
    val cents = base.take(3) ++ Array(base(1)) ++ base.slice(3, 5) ++ Array(base(0)) ++ base.drop(5)
    val vs = (0 until 40).map(i => (i.toLong, gaussian(d))) :+ (40L -> new Array[Float](d))
    val bcPlanes = spark.sparkContext.broadcast(planes)
    val bcCents = spark.sparkContext.broadcast(cents)
    val rows = vectors(vs)
      .select(col("id"), VK.signBits(col("v"), bcPlanes).as("sig"),
        VK.nearestCells(col("v"), bcCents, 1).as("c1"),
        VK.nearestCells(col("v"), bcCents, 4).as("c4"),
        VK.nearestCells(col("v"), bcCents, 20).as("call"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.size == vs.size)
    vs.foreach { case (id, v) =>
      val r = rows(id)
      assert(r.getLong(1) == signBitsRef(v, planes), s"sign bits of $id")
      assert(r.getSeq[Int](2) == nearestRef(v, cents, 1), s"nearest cell of $id")
      assert(r.getSeq[Int](3) == nearestRef(v, cents, 4), s"4 nearest cells of $id")
      assert(r.getSeq[Int](4) == nearestRef(v, cents, 20), s"all cells of $id")
      val all = r.getSeq[Int](4)
      assert(all.indexOf(1) < all.indexOf(3) && all.indexOf(0) < all.indexOf(6),
        s"equal distances keep the lower cell first: $all")
    }
    // the zero vector: every plane's dot is 0, so every bit is set
    assert(rows(40L).getLong(1) == (1L << 32) - 1)
  }

  test("sign bits and nearest cells: null vector or null element → null") {
    val bcPlanes = spark.sparkContext.broadcast(Array.fill(4, 3)(1.0))
    val bcCents = spark.sparkContext.broadcast(Array.fill(2, 3)(0.5))
    val df = Seq[(Long, Array[java.lang.Float])](
        (1L, Array(1f, 2f, 3f).map(Float.box)),
        (2L, null),
        (3L, Array[java.lang.Float](1f, null, 2f)))
      .toDF("id", "v")
      .select(col("id"), VK.signBits(col("v"), bcPlanes).as("sig"),
        VK.nearestCells(col("v"), bcCents, 2).as("cells"))
    val got = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 15L && got(1L).getSeq[Int](2) == Seq(0, 1))
    Seq(2L, 3L).foreach(id =>
      assert(got(id).isNullAt(1) && got(id).isNullAt(2), s"row $id: ${got(id)}"))
  }

  test("PQ encode, lookup table and ADC score equal plain-Array references") {
    val (d, m, ksub) = (16, 4, 5)
    val sub = d / m
    val books = Array.fill(m, ksub)(Array.fill(sub)(rnd.nextGaussian() * 0.3))
    val bcBooks = spark.sparkContext.broadcast(books)
    val vs = (0 until 30).map(i => (i.toLong, gaussian(d)))
    val rows = vectors(vs)
      .select(col("id"), VK.pqEncode(col("v"), bcBooks).as("codes"),
        VK.pqLut(col("v"), bcBooks).as("lut"))
      .select(col("id"), col("codes"), col("lut"), VK.pqAdc(col("lut"), col("codes")).as("adc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    vs.foreach { case (id, v) =>
      val nv = normalizedRef(v)
      val codes = (0 until m).map(j =>
        (0 until ksub).minBy(c => (dist(nv, j * sub, books(j)(c)), c))(byDistThenCell))
      val lut = for (j <- 0 until m; c <- 0 until ksub)
        yield (0 until sub).foldLeft(0.0)((s, i) => s + nv(j * sub + i) * books(j)(c)(i))
      val adc = (0 until m).foldLeft(0.0)((s, j) => s + lut(j * ksub + codes(j)))
      val r = rows(id)
      assert(r.getSeq[Int](1) == codes, s"codes of $id")
      assert(r.getSeq[Double](2) == lut, s"lookup table of $id")
      assert(r.getDouble(3) == adc, s"ADC score of $id")
    }
  }

  test("PQ kernels take codebooks of different lengths (stride = longest book)") {
    // Spark's KMeans returns fewer than k centres for a slice with fewer
    // distinct points, so one quantizer's books need not be equally long
    val (d, m) = (16, 4)
    val sub = d / m
    val lengths = Array(5, 2, 7, 1)
    val books = lengths.map(n => Array.fill(n)(Array.fill(sub)(rnd.nextGaussian() * 0.3)))
    val stride = lengths.max
    val bcBooks = spark.sparkContext.broadcast(books)
    val vs = (0 until 30).map(i => (i.toLong, gaussian(d)))
    val rows = vectors(vs)
      .select(col("id"), VK.pqEncode(col("v"), bcBooks).as("codes"),
        VK.pqLut(col("v"), bcBooks).as("lut"))
      .select(col("id"), col("codes"), col("lut"), VK.pqAdc(col("lut"), col("codes")).as("adc"))
      .collect().map(r => r.getLong(0) -> r).toMap
    vs.foreach { case (id, v) =>
      val nv = normalizedRef(v)
      // nested reference: lut(j)(c) over books(j)'s own centroids
      val codes = (0 until m).map(j =>
        books(j).indices.minBy(c => (dist(nv, j * sub, books(j)(c)), c))(byDistThenCell))
      val lut = (0 until m).map(j => books(j).map(cent =>
        (0 until sub).foldLeft(0.0)((s, i) => s + nv(j * sub + i) * cent(i))).toSeq)
      val adc = (0 until m).foldLeft(0.0)((s, j) => s + lut(j)(codes(j)))
      val r = rows(id)
      assert(r.getSeq[Int](1) == codes, s"codes of $id")
      val flat = r.getSeq[Double](2)
      assert(flat.length == m * stride, s"lookup table length of $id")
      (0 until m).foreach(j =>
        assert(flat.slice(j * stride, j * stride + lengths(j)) == lut(j), s"lut subspace $j of $id"))
      assert(r.getDouble(3) == adc, s"ADC score of $id")
    }
  }

  test("IVF-PQ: a subspace slice with fewer distinct values than ksub") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    // premise: KMeans over 40 identical points returns fewer than k centres
    val same = Seq.fill(40)(Tuple1(Vectors.dense(0.0, 0.0))).toDF("features")
    assert(new KMeans().setK(4).setSeed(1L).fit(same).clusterCenters.length < 4)
    // the zero half is the second slice in one corpus and the first in the
    // other, so the short codebook sits after and before the full one
    for (zeroFirst <- Seq(false, true)) {
      val corpus = vectors((0 until 40).map { i =>
        val half = gaussian(4)
        i.toLong -> (if (zeroFirst) new Array[Float](4) ++ half else half ++ new Array[Float](4))
      })
      val queries = corpus.filter(col("id") < 3)
      try {
        // all cells probed and every candidate re-ranked: equals brute force
        val pq = Similarity.ivfPqTopK(queries, corpus, "id", "v", "id", "v",
            k = 5, nlist = 2, nprobe = 2, m = 2, ksub = 4, refine = 8)
          .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
        val exact = Similarity.bruteForceTopK(queries, corpus, "id", "v", "id", "v", 5)
          .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
        assert(pq.size == 15 && pq == exact, s"zeroFirst=$zeroFirst")
      } finally Caches.releaseAll()
    }
  }

  test("IVF, IVF-PQ and semantic dedup accept an all-zero embedding") {
    // ANSI division by a zero norm used to fail the training-side
    // normalization with DIVIDE_BY_ZERO
    val corpus = vectors((0 until 50).map(i => (i.toLong, gaussian(8))) :+ (50L -> new Array[Float](8)))
    // row 51 holds a null element: it is left out of KMeans training and
    // has no cell, so IVF and IVF-PQ leave it out of every top-k (as a
    // query it probes nothing) and semantic dedup pairs it with nothing
    val withNullElem = corpus.union(Seq[(Long, Array[java.lang.Float])](
      (51L, Array[java.lang.Float](1f, null, 1f, 1f, 1f, 1f, 1f, 1f))).toDF("id", "v"))
    val queries = corpus.filter(col("id") < 3)
    try {
      // every cell probed: IVF is exact, so it equals brute force
      val ivf = Similarity.ivfTopK(queries.union(withNullElem.filter(col("id") === 51L)),
          withNullElem, "id", "v", "id", "v", k = 5, nlist = 2, nprobe = 2)
        .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
      val exact = Similarity.bruteForceTopK(queries, corpus, "id", "v", "id", "v", 5)
        .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
      assert(ivf.size == 15 && ivf == exact)
      val pq = Similarity.ivfPqTopK(queries, withNullElem, "id", "v", "id", "v",
          k = 5, nlist = 2, nprobe = 2, m = 2, ksub = 4)
        .select("neighbor_id").as[Long].collect()
      assert(pq.length == 15 && !pq.contains(51L))
      val sem = Dedup.semanticDedupPairs(withNullElem, "id", "v", threshold = 0.99, nClusters = 2)
        .collect()
      assert(sem.forall(r => r.getLong(0) < r.getLong(1) && r.getLong(1) != 51L))
    } finally Caches.releaseAll()
  }
}
