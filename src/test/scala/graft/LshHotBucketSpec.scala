package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Hot-bucket guard for the LSH dedup family (VERDICT r11 #4): exact
  * duplicates are pre-collapsed before banding, so candidate volume stays
  * ~linear in duplicate multiplicity (a 10k-identical plant would otherwise
  * push ~10⁹ candidate rows through one bucket), while the emitted PAIR set
  * is unchanged — intra-group pairs at the exact-match score, cross-group
  * pairs at the representative pair's score. */
class LshHotBucketSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Sum of shuffle-write records across all jobs run inside `body` — the
    * mechanical linearity instrument: banding a hot group shuffles its
    * candidate pairs, collapse shuffles only ids/keys. */
  private def shuffleRecords[A](body: => A): (A, Long) = {
    val rec = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) rec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      Thread.sleep(500) // let the listener bus drain task-end events
      (out, rec.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Join nodes of every kind in `df`'s physical plan, descending into
    * adaptive plans, query stages and subqueries, and into each cached
    * frame the plan reads (counted once: it is computed once). */
  private def joinCount(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) count(m.relation.cachedPlan) else 0
      case other =>
        (if (other.isInstanceOf[BaseJoinExec]) 1 else 0) +
          (other.children ++ other.subqueries).map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  test("10k identical docs: pair count exact, candidate volume stays linear") {
    val n = 10000
    val hot = (0 until n).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
    val distinct = Seq(
      (20001L, "completely different text about spark physical planning"),
      (20002L, "another unrelated document mentioning parquet row groups"))
    val docs = (hot ++ distinct).toDF("doc_id", "text").repartition(8)
    val (cnt, shufRecs) = shuffleRecords {
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, k = 16, bandRows = 1, threshold = 0.5).count()
    }
    assert(cnt == n.toLong * (n - 1) / 2,
      s"all C(10000,2) intra pairs owed, got $cnt")
    // un-collapsed banding would shuffle ≥ nBands·C(10k,2) ≈ 8·10⁸ candidate
    // records; the collapsed pipeline shuffles only ids/content keys (the
    // 5·10⁷ intra pairs are JOIN OUTPUT feeding a local count, not shuffle)
    assert(shufRecs < 1000000L,
      s"candidate shuffle must stay ~linear, saw $shufRecs records")
  }

  test("cross-group expansion: every member pair appears at the rep pair's jaccard") {
    // group A = 3 copies, group B = 2 copies, A~B near-dup; one unrelated doc
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "alpha beta gamma delta epsilon zeta eta iota" // 1 token differs
    val docs = Seq(
      (1L, a), (2L, a), (3L, a),
      (10L, b), (11L, b),
      (99L, "nothing in common with those texts at all")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, k = 64, bandRows = 1, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (x, y, j) => ((x, y), math.rint(j * 1e6) / 1e6) }.toMap
    // intra: C(3,2)=3 in A, C(2,2)=1 in B, all jac 1.0
    val intra = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L))
    intra.foreach(p => assert(got.get(p).contains(1.0), s"intra $p"))
    // cross: 3×2 pairs, every one at the SAME exact jaccard of (a,b)
    val cross = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 11L))
    val jabs = cross.flatMap(got.get).distinct
    assert(jabs.size == 1 && jabs.head > 0.2 && jabs.head < 1.0,
      s"cross pairs must share the rep pair's exact jaccard, got $jabs")
    assert(got.size == intra.size + cross.size, s"no extra pairs: $got")
  }

  test("parity: no-exact-dup corpus matches the exact jaccard pipeline") {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0 until 150).map { i =>
      val len = 8 + rnd.nextInt(8)
      (i.toLong, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ") + s" uniq$i")
    }.toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect()
        .map { case (x, y, j) => (x, y, math.rint(j * 1e6) / 1e6) }.toSet
    // bandRows=1, k=64: per-pair miss prob ≤ (1-0.3)^64 ≈ 1e-10 at t=0.3
    val lsh = canon(Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 2, k = 64, bandRows = 1, threshold = 0.3))
    val exact = canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.3))
    assert(lsh == exact)
  }

  test("simhash: duplicates collapse, intra pairs carry hamming 0") {
    val docs = Seq(
      (1L, "spark shuffles are keyed by partition id and map id"),
      (2L, "spark shuffles are keyed by partition id and map id"),
      (3L, "spark shuffles are keyed by partition id and map index"),
      (4L, "tokyo is rainy in june")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, "doc_id", "text", shingleN = 3, maxHamming = 10)
      .as[(Long, Long, Int)].collect().map { case (a, b, h) => ((a, b), h) }.toMap
    assert(got.get((1L, 2L)).contains(0), "exact dups at hamming 0")
    // expansion symmetry: doc 2 is a copy of doc 1, so (1,3) and (2,3)
    // either both appear (same hamming) or both miss (pigeonhole banding
    // only guarantees candidates at hamming ≤ 3)
    assert(got.get((1L, 3L)) == got.get((2L, 3L)))
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("embedding LSH: identical vectors expand, zero vectors never pair") {
    val v = Array(0.6f, 0.8f, 0.0f)
    val near = Array(0.6f, 0.79f, 0.02f)
    val docs = Seq(
      (1L, v), (2L, v), (3L, v),
      (10L, near),
      (50L, Array(0.0f, 0.0f, 0.0f)), (51L, Array(0.0f, 0.0f, 0.0f)),
      (99L, Array(-1.0f, 0.2f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosineLshPairs(docs, "vec_id", "embedding",
        threshold = 0.9, k = 16, bandRows = 2)
      .as[(Long, Long, Double)].collect().map { case (a, b, c) => ((a, b), c) }.toMap
    // self-cosine of the exact FP computation (1.0 within an ulp — the
    // same value the un-collapsed pipeline produced for identical vectors)
    Seq((1L, 2L), (1L, 3L), (2L, 3L)).foreach(p =>
      assert(got.get(p).exists(c => c > 0.9999999 && c <= 1.0),
        s"identical-vector pair $p: ${got.get(p)}"))
    // near vector pairs with every copy at one exact cosine
    val nearCos = Seq((1L, 10L), (2L, 10L), (3L, 10L)).flatMap(got.get).distinct
    assert(nearCos.size == 1 && nearCos.head > 0.99 && nearCos.head < 1.0)
    // zero vectors score NaN against ANYTHING (0/0) and Spark's
    // NaN-is-greatest comparison passes `>= threshold` — the un-collapsed
    // pipeline emitted those NaN pairs (all-ones sign pattern collides), so
    // the collapsed one must too, NaN-scored rather than fabricating 1.0
    assert(got.get((50L, 51L)).exists(_.isNaN),
      "identical zero vectors pair with NaN score, never a fabricated 1.0")
    assert(got.filterKeys { case (a, b) => a == 50L || b == 50L || a == 51L || b == 51L }
      .values.forall(_.isNaN), s"every zero-vector pair is NaN-scored: $got")
  }

  test("embedding LSH: null embeddings expand to nothing") {
    // ADVICE r12: the pre-collapse pipeline never banded null vectors (null
    // band bits fail the equi-join), so identical-null groups must not emit
    // NULL-scored intra pairs from the collapse path either
    val v = Array(0.6f, 0.8f, 0.0f)
    val docs = Seq(
      (1L, v), (2L, v),
      (70L, null.asInstanceOf[Array[Float]]),
      (71L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosineLshPairs(docs, "vec_id", "embedding",
        threshold = 0.9, k = 16, bandRows = 2)
      .as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"null-embedding rows must never pair, got ${got.toSeq}")
  }

  test("contentKey components are independently seeded (ADVICE r12)") {
    // Spark's multi-arg xxhash64 CHAINS: xxhash64(c, lit(1)) re-hashes
    // lit(1) seeded by xxhash64(c), so a 64-bit collision on component 1
    // propagated to component 2 and the 2^-128 false-merge bound was
    // really 2^-65. The fixed key hashes c under a DIFFERENT effective
    // seed (constant first). Crafting a real xxhash64 collision is
    // infeasible, so pin the expression shape: component 2 must equal
    // xxhash64(lit(1), c) — i.e. NOT be derivable from component 1 by
    // hashing a constant under it.
    val df = Seq("a", "b", "xyz", "").toDF("c").select(
      Dedup.contentKey(col("c")).as("k"),
      xxhash64(col("c")).as("h1"),
      xxhash64(lit(1), col("c")).as("independent"),
      xxhash64(col("c"), lit(1)).as("chained"))
    df.collect().foreach { r =>
      val k = r.getStruct(0)
      assert(k.getLong(0) == r.getLong(1), "component 1 = xxhash64(c)")
      assert(k.getLong(1) == r.getLong(2),
        "component 2 must hash c under an independent seed (constant FIRST)")
      assert(k.getLong(1) != r.getLong(3),
        "component 2 must not be the chained xxhash64(c, lit(1)) form")
    }
  }

  test("collapse plans compute the group map once: join-count pin") {
    // Re-deriving the representative map, the eligible groups and the
    // members frame at each reference planned 21 joins for minhash, 31 for
    // embedding LSH and 19 for simhash. One leased (id, __rep) map, one
    // leased members frame and embedding LSH's leased signature frame leave
    // the pipeline's own joins (3 for minhash and embedding LSH, 1 for
    // simhash), the semi-join selecting the representatives, the members
    // join, 2 cross-group joins and 1 intra-group join.
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(0.6f, 0.8f)), (2L, Array(0.6f, 0.8f)), (3L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    try {
      val minhash = joinCount(Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, k = 16, bandRows = 1, threshold = 0.2))
      val embed = joinCount(Dedup.embeddingCosineLshPairs(vecs, "vec_id", "embedding",
        threshold = 0.9, k = 16, bandRows = 2))
      val simhash = joinCount(Dedup.simhashPairs(docs, "doc_id", "text",
        shingleN = 2, maxHamming = 3))
      assert(minhash <= 8, s"minhash-LSH plans $minhash joins")
      assert(embed <= 8, s"embedding-LSH plans $embed joins")
      assert(simhash <= 6, s"simhash plans $simhash joins")
    } finally graft.ops.Caches.releaseAll()
  }

  test("simhash at hamming <= 3 equals the brute-force all-pairs hamming filter") {
    // pigeonhole over 4 x 16-bit chunks: hamming <= 3 leaves some chunk
    // equal, so banding misses no pair and the pipeline is exact
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 40).map(i => s"w$i")
    val bases = (0 until 30).map(_ => Seq.fill(200)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // each original in an exact-duplicate group of 1 to 3 copies, plus
    // three near-duplicates one appended token (one shingle) away
    val texts = bases.zipWithIndex.flatMap { case (b, i) =>
      Seq.fill(1 + i % 3)(b) ++ (1 to 3).map(e => s"$b tail$i$e")
    } ++ Seq("", null)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
        graft.expressions.DedupKernelExprs.hashedShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), graft.expressions.DedupKernelExprs.simhash64(col("sh")))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(sigs.length == texts.size - 2, "the empty and the null text have no shingles")
    val all = for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
    } yield (sigs(i)._1, sigs(j)._1, java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2))
    try (0 to 3).foreach { h =>
      val brute = all.filter(_._3 <= h).toSet
      val got = Dedup.simhashPairs(docs, "doc_id", "text", shingleN = 3, maxHamming = h)
        .as[(Long, Long, Int)].collect()
      assert(got.length == got.toSet.size, s"h=$h: a pair is emitted twice")
      assert(got.toSet == brute, s"h=$h")
    } finally graft.ops.Caches.releaseAll()
    // the corpus reaches every distance the banding must not miss
    assert((0 to 3).forall(h => all.exists(_._3 == h)),
      s"distances <= 3 seen: ${all.map(_._3).filter(_ <= 3).distinct.sorted}")
  }

  test("array payloads never ride the bucket explode: the bucket self-join carries ids only") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.ArrayType
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val vecs = Seq((1L, Array(0.6f, 0.8f)), (2L, Array(0.6f, 0.8f)), (3L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    def bucketJoins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.condition.exists(_.references.exists(_.name == "band")) => j
      }
    try Seq(
      "minhash" -> Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, k = 16, bandRows = 1, threshold = 0.2),
      "embedding" -> Dedup.embeddingCosineLshPairs(vecs, "vec_id", "embedding",
        threshold = 0.9, k = 16, bandRows = 2)
    ).foreach { case (name, df) =>
      val joins = bucketJoins(df)
      assert(joins.size == 1, s"$name: one bucket self-join, found ${joins.size}")
      joins.head.children.foreach { side =>
        assert(!side.output.exists(_.dataType.isInstanceOf[ArrayType]),
          s"$name: a bucket-join input carries an array: ${side.output}")
      }
    } finally graft.ops.Caches.releaseAll()
  }

  test("embedding LSH and IVF-PQ take the dimension from the first non-null vector") {
    val v = Array(0.6f, 0.8f, 0.0f, 0.0f)
    val nul = null.asInstanceOf[Array[Float]]
    val vecs = Seq((0L, nul), (1L, v), (2L, v), (3L, Array(0.0f, 0.6f, 0.8f, 0.0f)))
      .toDF("vec_id", "embedding").coalesce(1)
    try {
      val got = Dedup.embeddingCosineLshPairs(vecs, "vec_id", "embedding",
          threshold = 0.9, k = 16, bandRows = 2)
        .as[(Long, Long, Double)].collect().map(p => (p._1, p._2))
      assert(got.toSet == Set((1L, 2L)), s"${got.toSeq}")
      // no non-null vector, or no row at all: no pairs
      Seq(vecs.filter(col("vec_id") === 0L), vecs.limit(0)).foreach { df =>
        assert(Dedup.embeddingCosineLshPairs(df, "vec_id", "embedding", threshold = 0.9)
          .count() == 0)
      }
      val top = graft.ops.Similarity.ivfPqTopK(vecs.filter(col("vec_id") =!= 3L), vecs,
          "vec_id", "embedding", "vec_id", "embedding", k = 1, nlist = 2, nprobe = 2, m = 2)
        .as[(Long, Long, Double, Int)].collect()
      assert(top.map(_._1).toSet == Set(1L, 2L) && top.forall(_._2 != 0L), s"${top.toSeq}")
    } finally graft.ops.Caches.releaseAll()
  }
}
