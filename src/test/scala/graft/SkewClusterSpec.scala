package graft

import graft.ops.{Dedup, Skew}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components dedup clustering + salted skew join/agg: results
  * must equal their unsalted / pairwise-naive equivalents, and clustering
  * must actually close transitively (chains, not just cliques). */
class SkewClusterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import spark.implicits._

  test("clusters closes a chain transitively and splits disjoint components") {
    // two components: a 4-chain {1-2-3-4} and a pair {10-11}; node 20 absent
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.clusters(pairs, "a", "b")
      .orderBy("member").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("clusters fails loudly when labels still change at the round cap") {
    // a 64-node path needs several pointer-jumping rounds; one round
    // leaves labels moving, and two rounds do not finish it either
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    Seq(1, 2).foreach { cap =>
      val e = intercept[IllegalStateException](Dedup.clusters(path, "a", "b", maxIter = cap))
      assert(e.getMessage.contains(s"maxIter = $cap") && e.getMessage.contains("labels"),
        e.getMessage)
    }
    val got = Dedup.clusters(path, "a", "b").select("cluster").distinct().as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("dedupLines drops corpus-frequent lines, keeps order, drops all-boilerplate docs") {
    // banner in all 5 docs (df=5 ≥ 3); "promo" in 3 docs (df=3 ≥ 3);
    // unique bodies survive. Doc 4 is banner+promo only → disappears.
    // Doc 0 repeats its own body line twice: within-doc repetition counts
    // ONCE toward document frequency, so it survives (df=1) — both copies.
    val docs = Seq(
      (0L, "BANNER\nbody zero\nbody zero\npromo"),
      (1L, "BANNER\nbody one\npromo"),
      (2L, "BANNER\nbody two\npromo"),
      (3L, "BANNER\nbody three"),
      (4L, "BANNER\npromo")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", minDocFreq = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, "body zero\nbody zero"),
      (1L, "body one"),
      (2L, "body two"),
      (3L, "body three")))
  }

  test("dedupSubstrings excises shared >=W-token runs, keeps untouched docs verbatim") {
    // docs 0 and 1 share an 8-token passage (planted mid-doc and at the
    // end); doc 2 is untouched and must keep its text byte-identical
    // (including the double space — no whitespace rewrite on the
    // pass-through path); doc 3 repeats a window WITHIN itself (counts
    // toward minCount); doc 4 IS the passage alone → fully covered →
    // disappears, per Lee et al.
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8"
    val docs = Seq(
      (0L, s"alpha beta $passage gamma"),
      (1L, s"delta $passage"),
      (2L, "unique text with  a double space"),
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 mid r1 r2 r3 r4 r5 r6 r7 r8"),
      (4L, passage)).toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, "alpha beta gamma"),
      (1L, "delta"),
      (2L, "unique text with  a double space"),
      (3L, "mid")))
  }

  test("ngram jaccard df-cap bounds the candidate blowup from a hot shingle") {
    // 60 docs all share one boilerplate trigram ("aa bb cc"); each also has
    // a unique tail. Without a cap the hot shingle alone self-joins into
    // 60*59/2 = 1770 candidate pairs; with a cap below 60 it is dropped
    // from candidate generation, so no pair survives (their only common
    // shingles are hot) — the blowup is bounded by O(#shingles · cap²).
    val docs = (0 until 60)
      .map(i => (i.toLong, s"aa bb cc u$i v$i w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.0)
    assert(uncapped.count() == 1770L, "hot shingle creates the quadratic pair set")
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.0, maxShingleDf = Some(10L))
    assert(capped.count() == 0L, "capped: non-discriminative shingle generates no candidates")

    // correctness of the capped path where rare shingles DO discriminate:
    // two near-dup docs share rare shingles; their jaccard must equal the
    // exact (uncapped) value because verification uses full shingle sets
    val docs2 = docs.union(Seq(
      (100L, "aa bb cc p q r s t"), (101L, "aa bb cc p q r s t u")).toDF("doc_id", "text"))
    val exactPair = Dedup.ngramJaccardPairs(docs2, "doc_id", "text", n = 3, threshold = 0.2)
      .filter(col("doc_a") === 100L && col("doc_b") === 101L)
      .select("jac").as[Double].head()
    val cappedPair = Dedup.ngramJaccardPairs(docs2, "doc_id", "text", n = 3,
        threshold = 0.2, maxShingleDf = Some(10L))
      .filter(col("doc_a") === 100L && col("doc_b") === 101L)
      .select("jac").as[Double].head()
    assert(math.abs(exactPair - cappedPair) < 1e-12,
      "capped verification must report the exact jaccard")
  }

  test("clusters converges on a long path (diameter > default clique depth)") {
    val n = 33
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val got = Dedup.clusters(pairs, "a", "b").agg(
      countDistinct("cluster").cast("long").as("c"),
      count(lit(1)).cast("long").as("n"),
      min("cluster").cast("long").as("m")).as[(Long, Long, Long)].head()
    assert(got == ((1L, n.toLong, 1L)))
  }

  test("bloomSemiPrefilter keeps every matching row and drops most others") {
    val t = Tables(spark, dir)
    val hot = t.orders.filter(col("o_totalprice") > 400000).select("o_orderkey")
    val filtered = graft.ops.Prune.bloomSemiPrefilter(
      t.lineitem, "l_orderkey", hot, "o_orderkey")
    // no false negatives: the semi join over the filtered side equals the
    // semi join over the full side
    val exact = t.lineitem.join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
    assert(filtered.join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi").count() ==
      exact.count())
    // and the prefilter actually prunes (hot orders are a small minority)
    assert(filtered.count() < t.lineitem.count() / 2)
  }

  test("bloomSemiPrefilter with an empty build side yields exactly no rows") {
    import spark.implicits._
    val big = (1L to 100L).toDF("k")
    val empty = big.filter(col("k") < 0)
    assert(graft.ops.Prune.bloomSemiPrefilter(big, "k", empty, "k").count() == 0)
    assert(graft.ops.Prune.bloomPrefilteredJoin(big, empty.select(col("k").as("bk")),
      "k", "bk", expectedItems = 1).count() == 0)
  }

  test("bloomSemiPrefilter past the build-key cap degrades to a no-op superset") {
    import spark.implicits._
    // 100 TB guard: a build too big to broadcast must NOT be filtered on
    // (the downstream exact join still runs) — only null keys drop
    val big = (1L to 100L).map(Some(_)).:+(None.asInstanceOf[Option[Long]]).toDF("k")
    val build = (1L to 50L).toDF("bk")
    val out = graft.ops.Prune.bloomSemiPrefilter(big, "k", build, "bk",
      maxBuildKeys = 10)
    assert(out.count() == 100)
  }

  test("bloomSemiPrefilter works on string keys (no silent long-cast drop)") {
    val big = Seq(("alpha", 1), ("beta", 2), ("gamma", 3), (null, 4)).toDF("k", "v")
    val build = Seq("alpha", "gamma").toDF("bk")
    val kept = graft.ops.Prune.bloomSemiPrefilter(big, "k", build, "bk")
      .select("k").as[String].collect().toSet
    assert(kept.contains("alpha") && kept.contains("gamma"))
    assert(!kept.contains(null), "null keys cannot match an inner join")
  }

  test("scrubPii redacts email, ip, and phone but not plain prose") {
    val df = Seq(
      ("reach me at a.b-c_1@mail.example.org thanks", "<EMAIL>"),
      ("server 10.0.255.7 is down", "<IP>"),
      ("call +44 (0) 7911 123456 now", "<PHONE>"),
      ("version 1.2 of chapter 3 has 4 parts", null))
      .toDF("text", "expect")
    val out = df.select(col("expect"), graft.ops.TextAnalysis.scrubPii(col("text")).as("c"))
      .collect()
    out.foreach { r =>
      val (expect, c) = (r.getString(0), r.getString(1))
      if (expect == null)
        assert(!c.contains("<"), s"over-redacted: $c")
      else assert(c.contains(expect), s"missing $expect in: $c")
    }
  }

  test("saltedJoin equals the plain join") {
    val t = Tables(spark, dir)
    val plain = t.lineitem.join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("s_nationkey").collect().toSeq
    val salted = Skew.saltedJoin(t.lineitem, t.supplier, "l_suppkey", "s_suppkey", 8)
      .groupBy("s_nationkey").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .orderBy("s_nationkey").collect().toSeq
    assert(salted == plain)
  }

  test("saltedAgg equals the plain aggregation and spreads hot keys") {
    val t = Tables(spark, dir)
    val plain = t.lineitem.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_l_quantity"))
      .orderBy("l_returnflag").collect().toSeq
    val salted = Skew.saltedAgg(t.lineitem, Seq("l_returnflag"), "l_quantity", 16)
      .orderBy("l_returnflag").collect().toSeq
    assert(salted == plain)
    // the phase-1 salt must actually split a key's rows (not constant),
    // including EXACT duplicate rows (ordinal mixed into the hash)
    val dupRows = t.lineitem.limit(1).union(t.lineitem.limit(1))
      .union(t.lineitem.limit(1)).union(t.lineitem.limit(1))
    val nPartials = dupRows
      .withColumn("s", pmod(
        xxhash64((dupRows.columns.map(col) :+ monotonically_increasing_id()).toSeq: _*),
        lit(16)))
      .select(countDistinct("s")).head().getLong(0)
    assert(nPartials > 1, s"identical rows must still spread, got $nPartials buckets")
  }

  test("decontaminate drops exactly the n-gram-overlapping docs, map-side") {
    val evalSet = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("id", "text")
    val corpus = Seq(
      (10L, "a corpus document about Spark joins and shuffles entirely"),
      // shares the 5-gram "quick brown fox jumps over" (case/space differ)
      (11L, "she saw THE   Quick Brown FOX jumps over something else"),
      (12L, "another clean training document with plenty of words inside"),
      // verbatim eval sentence embedded mid-document
      (13L, "prefix pack my box with five dozen liquor jugs suffix")).toDF("id", "text")
    val out = graft.ops.Dedup.decontaminate(corpus, "text", evalSet, "text", n = 5)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(10L, 12L))
    // scale shape: the corpus side is a pure scan+filter — no shuffle,
    // no explode, no join operator in the probe plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"corpus probe must be map-side:\n$plan")
    assert(!plan.contains("Generate"), s"corpus must not be exploded:\n$plan")
  }
}
