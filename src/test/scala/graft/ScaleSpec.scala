package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-posture checks: plans must keep the shapes that survive a 100×
  * scale-up — filters/projections pushed into the parquet scan, small
  * dimensions broadcast, whole-stage codegen on the hot paths. The
  * reference gets these from its own optimizer (SURVEY §4); we assert
  * Catalyst actually produces them for our plans. */
class ScaleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("q6: filter + projection pushed down to the parquet scan") {
    val plan = executedPlan(queries.Tpch.q6(spark, dir))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_shipdate"), "shipdate filter should reach the scan")
    // projection pruning: schema read must not include unused columns
    assert(!plan.contains("l_orderkey"), "q6 must not read l_orderkey")
  }

  test("q3: eager aggregation below the join; customer applied as a semi filter") {
    // r8 shape: revenue aggregates from lineitem BEFORE any join (the
    // group key is functionally dependent on l_orderkey), the custkey
    // check is a LeftSemi on the aggregated stream, no fact side is
    // broadcast, and the top-10 is a TakeOrdered — no global sort.
    val plan = executedPlan(queries.Tpch.q3(spark, dir))
    assert(plan.contains("SortMergeJoin"), s"expected shuffle-merge joins:\n$plan")
    assert(plan.contains("LeftSemi"), s"expected the customer semi filter:\n$plan")
    assert(plan.contains("partial_sum"), s"expected pre-join partial aggregation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"no fact side may broadcast:\n$plan")
  }

  test("q1: two-phase hash aggregation with map-side partial combine") {
    val plan = executedPlan(queries.Tpch.q1(spark, dir))
    assert(plan.contains("HashAggregate"), "hash aggregate expected")
    assert(plan.contains("partial_sum"), "map-side partial aggregation expected")
  }

  test("top_n compiles to TakeOrderedAndProject (no global sort)") {
    val plan = executedPlan(queries.Relational.top_n(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("native cosine expression stays inside whole-stage codegen") {
    val e = Tables(spark, dir).embeddings
    val df = e.select(
      graft.functions.Distance.cosineSimilarityNative(col("embedding"), col("embedding")).as("c"))
    // whole-stage-codegen stages print as "*(n)" in the executed plan
    val plan = executedPlan(df)
    assert(plan.contains("*(1) Project [cosinesimilarityexpr"),
      s"expected the native expression inside a codegen stage:\n$plan")
  }

  test("bloom probe stays inside whole-stage codegen") {
    val li = Tables(spark, dir).lineitem
    val ord = Tables(spark, dir).orders.filter(col("o_orderkey") < 100)
    val df = graft.ops.Prune.bloomSemiPrefilter(li, "l_orderkey", ord, "o_orderkey")
    val plan = executedPlan(df)
    assert(plan.contains("bloommightcontainexpr"), s"expected the native probe:\n$plan")
    // the filter stage must be codegen'd: the probe appears inside a "*(n)" span
    val line = plan.linesIterator.find(_.contains("bloommightcontainexpr")).get
    assert(line.trim.matches("^[+\\-:\\s]*\\*\\(\\d+\\).*"),
      s"bloom probe stage not codegen'd:\n$plan")
  }

  test("minhash LSH dedup never materializes a cartesian product") {
    val plan = executedPlan(queries.Pipeline.dedup_minhash_lsh(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "candidate generation must go through the band-bucket join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on (band, bucket)")
  }

  test("ngram jaccard dedup joins through the inverted index, not all pairs") {
    val plan = executedPlan(queries.Pipeline.dedup_ngram_jaccard(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("exact embedding dedup tiles the pair space — no cartesian product") {
    val plan = executedPlan(queries.Pipeline.dedup_embedding_cosine(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs must go through the tiled (block-matrix) equi-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "tile key must be an equi-join key")
  }

  test("LSH embedding dedup joins on band buckets — no cartesian product") {
    val plan = executedPlan(queries.Pipeline.dedup_embedding_lsh(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"no all-pairs:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF cell assignment is a map pass, not an n×nlist join+window") {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < 10)
    val c = e.filter(col("vec_id") >= 10)
    val plan = executedPlan(graft.ops.Similarity.ivfTopK(
      q, c, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4))
    assert(!plan.contains("CartesianProduct"),
      s"centroid assignment must be a broadcast map pass:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "no nested-loop join against the centroid table")
  }

  test("bruteForceTopK refuses a corpus-scaled query frame (broadcast cap)") {
    // the contract is a SMALL query set: the query side is broadcast, so
    // an unbounded query frame would OOM every executor build — the guard
    // must fail loudly BEFORE any executor sees the broadcast
    val e = Tables(spark, dir).embeddings
    val wide = e.crossJoin(spark.range(
      graft.ops.Similarity.MaxBroadcastQueries / 10 + 2).select(col("id")))
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Similarity.bruteForceTopK(
        wide, e, "vec_id", "embedding", "vec_id", "embedding", k = 3)
    }
    assert(ex.getMessage.contains("ivfTopK"),
      s"guard should point at the scale path: ${ex.getMessage}")
    // and the documented small-query contract still works
    val ok = graft.ops.Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 3), e, "vec_id", "embedding",
      "vec_id", "embedding", k = 2)
    assert(ok.count() == 6)
  }

  test("commonCrawl refuses a corpus-scaled manifest (driver collect cap)") {
    // the loader collects the crawl manifest driver-side (bounded for real
    // crawls at ~90k lines) — if `root` ever points at user data, the
    // collect must fail loudly at the cap instead of OOMing the driver
    // (VERDICT r14; same pattern as the bruteForceTopK broadcast guard)
    val root = java.nio.file.Files.createTempDirectory("graft_cc_guard").toString
    val crawl = "CC-GUARD"
    val p = java.nio.file.Paths.get(s"$root/crawl-data/$crawl/wet.paths.gz")
    java.nio.file.Files.createDirectories(p.getParent)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(p), 1 << 16), "UTF-8"), 1 << 16)
    try {
      var i = 0L
      while (i <= graft.datasets.Datasets.ManifestCollectCap) {
        w.write("seg/"); w.write(i.toString); w.write(".warc.gz\n"); i += 1
      }
    } finally w.close()
    val ex = intercept[IllegalArgumentException] {
      graft.datasets.Datasets.commonCrawl(spark, root, crawl, content = "text")
    }
    assert(ex.getMessage.contains("num_files"),
      s"guard should point at the subset knobs: ${ex.getMessage}")
    // the documented bounded contract still works: num_files caps the
    // manifest BEFORE the collect, so the same oversized file passes the
    // guard (any later failure on the missing WARC payloads is not the
    // guard's concern)
    try graft.datasets.Datasets.commonCrawl(
      spark, root, crawl, content = "text", numFiles = Some(2))
    catch {
      case e: IllegalArgumentException if e.getMessage.contains("manifest") =>
        fail(s"num_files-capped load must pass the manifest guard: ${e.getMessage}")
      case _: Throwable => () // missing payload files — fine here
    }
  }

  test("order-only global window runs two-pass — no single-task Window") {
    val plan = executedPlan(queries.Windows.window_order_only(spark, dir))
    assert(!plan.contains("Window"),
      s"global rank must use the two-pass range-partition scheme, not a Window:\n$plan")
    val vocabPlan = executedPlan(
      graft.ops.Tokenize.buildVocab(Tables(spark, dir).documents, "text"))
    assert(!vocabPlan.contains("Window"),
      s"vocab ranking must not funnel tokens through one Window task:\n$vocabPlan")
  }

  test("batch sessionization pays one data shuffle for both windows and the agg") {
    // lag, the running-sum session numbering and the per-(user, session)
    // aggregate must all ride the same hash(user_id) partitioning — a
    // second data exchange means the window specs diverged. Only the
    // final presentation orderBy may add a range exchange.
    val plan = executedPlan(queries.Windows.window_sessionize(spark, dir))
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"sessionize: expected exactly 1 hash exchange (user_id), got $hashEx:\n$plan")
  }

  test("funnel pays one user shuffle; both window passes and the agg ride it") {
    // the two running-max passes and the per-user rollup share
    // hash(user_id); only the tiny funnel_level rollup may add a second
    // hash exchange. A third means the cascade broke into a self-join
    // or re-partitioned between windows.
    val plan = executedPlan(queries.ClickBench.cb_funnel(spark, dir))
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"cb_funnel: expected <= 2 hash exchanges, got $hashEx:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"cb_funnel must not materialize event pairs:\n$plan")
  }

  test("as-of join shuffles each side once on the by-keys") {
    // EnsureRequirements plans the by-key exchanges under the as-of
    // operator: one per side, and none on a side the query already
    // hash-partitioned by user_id (asof_planned's clicks)
    def exchanges(plan: String, kind: String) =
      plan.linesIterator.count(l => l.contains("Exchange hashpartitioning") && l.contains(kind))
    val plan = executedPlan(queries.AsofQueries.asof_backward(spark, dir))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("AsofJoin"), s"expected the AsofJoin operator:\n$plan")
    assert(exchanges(plan, "ENSURE_REQUIREMENTS") == 2, s"one exchange per side:\n$plan")
    val planned = executedPlan(queries.AsofQueries.asof_planned(spark, dir))
    assert(planned.contains("AsofJoin"), s"expected the AsofJoin operator:\n$planned")
    assert(exchanges(planned, "REPARTITION_BY_COL") == 1, planned)
    assert(exchanges(planned, "ENSURE_REQUIREMENTS") == 1,
      s"only the purchases side is shuffled:\n$planned")
  }

  test("brute-force similarity broadcasts the query side") {
    val plan = executedPlan(queries.Pipeline.similarity_topk(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must be broadcast, corpus never shuffled for scoring:\n$plan")
  }

  test("range join buckets the inequality — no cartesian product") {
    val plan = executedPlan(queries.Relational.join_range(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"interval join must go through the bucket equi-join:\n$plan")
    assert(plan.contains("__bkt"), "bucket key expected in the join")
  }

  test("per-key top-k windows get the WindowGroupLimit pushdown") {
    // rank()<=k filters compile to partial+final WindowGroupLimit (per-key
    // heaps before the shuffle) — the grouped-top-k shape that survives
    // scale; a plain full-sort Window here would be a regression
    val plan = executedPlan(queries.Pipeline.similarity_topk(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit before the rank Window:\n$plan")
  }

  test("stratified sample keeps per-stratum heaps, not a full sort") {
    val plan = executedPlan(queries.Relational.sample_stratified(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit for the per-stratum row_number cap:\n$plan")
  }

  test("no query in the suite plans an accidental cartesian product") {
    // intentional exceptions: join_cross IS a cross join; the others use a
    // deliberate bounded-broadcast nested loop (scalar-subquery broadcast,
    // theta band join, brute-force scoring, quantile-bound compare)
    val intentionalCartesian = Set("join_cross")
    val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      // streaming/io queries execute work at plan time; skip the slow ones
      val skip = name.startsWith("streaming_") || name.startsWith("io_") ||
        name == "checkpoint_resume" || name == "tokenize_pretrained" ||
        name == "similarity_ivf_recall" || name == "llm_generate" ||
        name == "fn_url_download" || name == "fn_file" || name == "udf_process"
      if (skip || intentionalCartesian(name)) None
      else
        try {
          val plan = executedPlan(SparkEntry.queries(name)(spark, dir))
          if (plan.contains("CartesianProduct")) Some(name) else None
        } catch { case _: Throwable => None }
    }
    assert(failures.isEmpty, s"unexpected CartesianProduct in: $failures")
  }

  test("summarize scans the table exactly once for all columns") {
    // k columns of stats from ONE pass (ref ops/summarize.rs one-pass
    // semantics); the per-column-union shape would be k full scans at 100 TB
    val plan = executedPlan(queries.Relational.summarize_op(spark, dir))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one FileScan, got $scans:\n$plan")
  }

  test("bucketed fact-fact join plans no shuffle exchange") {
    // the co-location pattern for the 100 TB fact⋈fact case: bucket both
    // sides on the join key at write time → join reads are pre-partitioned
    // and the plan must contain no ShuffleExchange on either side
    val sess = GraftSession(spark)
    val t = Tables(spark, dir)
    sess.dropTable("bkt_orders"); sess.dropTable("bkt_lineitem")
    sess.createBucketedTable("bkt_orders",
      t.orders.select("o_orderkey", "o_orderstatus"), Seq("o_orderkey"), 4)
    sess.createBucketedTable("bkt_lineitem",
      t.lineitem.select("l_orderkey", "l_quantity"), Seq("l_orderkey"), 4)
    val joined = spark.table("bkt_orders")
      .join(spark.table("bkt_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select("o_orderstatus", "l_quantity")
    // disable broadcast to force the join to prove bucketing, not size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not re-shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"), "scans must use the bucket layout")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("shuffle partitions are configured for local core count, not 200") {
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt <= 64)
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
  }
}
