package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the TPC-DS-shaped slice (VERDICT r12 #3: "plan-pinned,
  * no fact broadcast") at the BENCH k=100 scaled tier — the size where AQE
  * and file statistics actually influence planning. Every tpcds_* query may
  * broadcast only bounded-domain frames (nation/region, per-type averages,
  * per-year totals); anything keyed by a fact join key must shuffle, because
  * a fact broadcast is the plan that dies at 100 TB.  Reuses Bench's
  * idempotent fixture, so after first generation this suite costs plan time
  * only. */
class TpcdsPlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private lazy val dir = Bench.ensureScaled(spark, "/root/testdata/sf0.1", 100)

  private def plan(name: String): String =
    try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    finally graft.ops.Caches.releaseAll()

  // part/orders/customer/lineitem all scale with the data; the compressed
  // fixture slips slim projections of each under the broadcast threshold,
  // so the guard/hints must hold the line. Precise check (same as
  // ScaledPlanSpec): no BroadcastHashJoin may involve a FACT join key —
  // raw BroadcastExchange counts would also see the true-dim joins
  // (nation/region, bounded aggregate frames), which are fine.
  private val factKeys = Seq(
    "o_custkey", "c_custkey", "l_orderkey", "o_orderkey", "l_partkey",
    "p_partkey", "user_id") // user_id: events is a fact too (r14 3-fact shape)

  for (q <- graft.queries.Tpcds.queries.keys.toSeq.sorted)
    test(s"$q never broadcasts on a fact join key at bench scale") {
      val p = plan(q)
      val offending = p.linesIterator
        .filter(_.contains("BroadcastHashJoin"))
        .filter(l => factKeys.exists(k => l.contains(s"[$k#")))
        .toSeq
      assert(offending.isEmpty,
        s"$q: fact-key broadcast join(s):\n${offending.mkString("\n")}\nfull plan:\n$p")
    }

  test("tpcds_rollup_qoh pre-aggregates below the part join (partials, not rows)") {
    // the rollup must consume partkey-sized partials — the eager aggregate
    // below the join is the property that keeps the grouping passes off
    // corpus-sized input
    val p = plan("tpcds_rollup_qoh")
    assert(p.contains("Expand"), s"rollup should plan an Expand:\n$p")
    val expandIdx = p.indexOf("Expand")
    val aggBelow = p.indexOf("HashAggregate", expandIdx)
    assert(aggBelow > 0, s"expected partial aggregate below the Expand:\n$p")
  }

  test("tpcds_grouping_sets plans ONE Expand pass, not a self-union") {
    val p = plan("tpcds_grouping_sets")
    assert(p.linesIterator.count(_.trim.startsWith("+- Expand")) +
      p.linesIterator.count(_.trim.startsWith("Expand")) <= 2,
      s"grouping sets should be one Expand, not a union of re-scans:\n$p")
    assert(!p.contains("Union"), s"no self-union for grouping sets:\n$p")
  }

  test("tpcds_multi_fact_star merges its channels without re-shuffling them") {
    // both per-custkey aggregates are custkey-partitioned; the right-outer
    // merge must ride that partitioning (a USING full-outer coalesces the
    // key and re-shuffles the merged frame — the r13 defect this pins).
    // Budget: lineitem(orderkey), orders(orderkey), lineitem-agg(custkey),
    // orders-agg(custkey), customer, and the final tiny n_name agg = 6 hash
    // exchanges; the merge itself adds NONE (no coalesce'd custkey).
    val p = plan("tpcds_multi_fact_star")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 6, s"merge join re-shuffled a custkey frame:\n$p")
    assert(!p.contains("coalesce(o_custkey"),
      s"USING-join coalesce key broke custkey partitioning:\n$p")
  }

  test("tpcds_cumulative_channels exchanges the orders fact exactly once") {
    // the hand (custkey, month) pre-aggregate this query shipped with first
    // cost a SECOND full-orders exchange for a ~1.1:1 collapse; the natural
    // form moves orders exactly once (the custkey join) — the remaining
    // exchanges (segment-month agg, two window passes) are bounded-domain.
    val p = plan("tpcds_cumulative_channels")
    val ordersExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(o_custkey"))
    assert(ordersExchanges == 1,
      s"orders fact must shuffle exactly once, saw $ordersExchanges:\n$p")
  }

  test("tpcds_moving_deviation: one fact exchange, domain-sized agg, partitioned window") {
    // the shipped shape (r13 A/B — see the query's scaladoc): lineitem
    // shuffles exactly once (the part join; a (partkey, month) pre-agg
    // collapsed nothing and cost 86 s at 13 GB; this shape: 26 s), the post-join aggregate
    // exchange is (brand, month)-keyed — domain-sized after the map-side
    // partial — and the window partitions by brand
    val p = plan("tpcds_moving_deviation")
    val liExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning(l_partkey"))
    assert(liExchanges == 1, s"lineitem must shuffle exactly once (the join):\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(p_brand") && l.contains("mo#")),
      s"expected a (brand, month) aggregate exchange:\n$p")
    assert(p.contains("partial_sum"), s"expected a map-side partial aggregate:\n$p")
    assert(p.contains("Window"), s"expected a window pass:\n$p")
    assert(!p.contains("SinglePartition"),
      s"window must not run on a single partition:\n$p")
  }

  test("tpcds_multi_band_counts answers all eight bands in ONE fact scan") {
    // the TPC-DS original is eight subqueries over the fact; the fused
    // plan must be scan → partial agg → single final row: one lineitem
    // scan, no Expand, no join
    val p = plan("tpcds_multi_band_counts")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"expected exactly one lineitem scan, saw $scans:\n$p")
    assert(!p.contains("Expand") && !p.contains("Join"),
      s"multi-band counts must not expand or join:\n$p")
  }

  test("tpcds_multi_supp_returned: per-order aggregate below a broadcast-free join") {
    // both join sides are facts — ANY broadcast here is the plan that dies
    // at 100 TB; and the distinct-supplier/returned/revenue collapse must
    // happen in ONE grouped pass below the orders join
    val p = plan("tpcds_multi_supp_returned")
    assert(!p.contains("BroadcastHashJoin"),
      s"fact-fact join must not broadcast either side:\n$p")
    // r15: the per-order collapse is the single-pass kernel (the
    // collect_set ObjectHashAggregate measured 253.9 s @ clean bw 53.0 at
    // k=1000 — set objects + sort-based fallback; A/B in
    // OPTIMIZATION_r15.md)
    assert(p.contains("SinglePassAgg(q95OrderStats)"),
      s"expected the single-pass per-order rollup:\n$p")
  }

  test("tpcds_best_cust_frequent_parts gates via LEFT SEMI, never materializing sets") {
    val p = plan("tpcds_best_cust_frequent_parts")
    val semis = p.linesIterator.count(_.contains("LeftSemi"))
    assert(semis >= 2, s"expected two semi gates (frequent parts, best customers):\n$p")
    // the derived part/customer-domain sets must not broadcast (generic
    // fact-key test also covers this; assert the positive shuffle form)
    assert(p.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin") && l.contains("LeftSemi")),
      s"semi gates should be shuffle-hash joins:\n$p")
  }

  test("tpcds_exists_demographics: two semi probes, broadcast only the nation dim") {
    val p = plan("tpcds_exists_demographics")
    val semis = p.linesIterator.count(_.contains("LeftSemi"))
    assert(semis == 2, s"expected exactly two existence probes, saw $semis:\n$p")
    val badBcast = p.linesIterator
      .filter(_.contains("BroadcastHashJoin"))
      .filterNot(_.contains("n_nationkey"))
      .toSeq
    assert(badBcast.isEmpty,
      s"only the nation dim may broadcast:\n${badBcast.mkString("\n")}\n$p")
  }

  test("tpcds_selective_star pushes the brand filter to the part scan") {
    val p = plan("tpcds_selective_star")
    assert(p.contains("PushedFilters"), s"no pushdown at all:\n$p")
    assert(p.contains("In(p_brand") || p.contains("p_brand#"),
      s"brand filter should reach the part side:\n$p")
  }

  test("tpcds_price_chain: single-pass drop kernel on a key-preserving exchange") {
    // r16: the per-(part,yr) rollup + cross-year drop test run in ONE
    // kernel pass over a hash(l_partkey) exchange — no lease, no
    // self-join, no partial+final HashAggregate pair over the fact (the
    // r15 two-phase shape spilled 74 GB at k=1000); the kernel's
    // key-preserving output must feed the part SHJ with NO exchange
    // between them, and all joins stay shuffle-hash (part-domain frames
    // are fact-derived, never broadcast)
    val p = plan("tpcds_price_chain")
    assert(p.contains("SinglePassAgg(priceDropPairs)"),
      s"expected the single-pass drop kernel:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"no lease in the kernel shape (the r15 self-join needed one):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"all joins should be shuffle-hash at this tier:\n$p")
    // key-preserving: no Exchange line between the part join and the
    // kernel node (tree order: join line appears above the kernel line,
    // with the part side's own exchange BELOW the kernel subtree)
    val lines = p.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("ShuffledHashJoin") &&
      l.contains("p_partkey"))
    val kernelIdx = lines.indexWhere(_.contains("SinglePassAgg(priceDropPairs)"))
    assert(joinIdx >= 0 && kernelIdx > joinIdx &&
      !lines.slice(joinIdx + 1, kernelIdx).exists(_.contains("Exchange")),
      s"the part join must consume the kernel's preserved partitioning:\n$p")
  }

  test("tpcds_three_channel_yoy: single-pass per-order and grower kernels, union merge") {
    // r16: the per-order pass is a single-pass kernel (the two-phase
    // partial HashAggregate collapsed ~nothing over the round-robin file
    // layout yet spilled 63 GB at k=1000) whose key-preserving output
    // fuses the orders SHJ; the channel merge is the UNION feeding the
    // yoyGrowerStats kernel over ONE hash(custkey) exchange — no
    // collect_list ObjectHashAggregate, no lease
    val p = plan("tpcds_three_channel_yoy")
    assert(p.contains("SinglePassAgg(sumLongByKey)"),
      s"expected the single-pass per-order kernel:\n$p")
    assert(p.contains("SinglePassAgg(yoyGrowerStats)"),
      s"expected the single-pass grower kernel:\n$p")
    assert(p.contains("Union"),
      s"expected the union channel merge:\n$p")
    assert(!p.contains("ObjectHashAggregate") && !p.contains("collect_list"),
      s"no boxed collect_list pairing in the kernel shape:\n$p")
    assert(!p.contains("InMemoryRelation"),
      s"no lease in the union shape (the rejected self-join needed one):\n$p")
  }

  test("tpcds_wow_ratio: leased weekly aggregate, one fact pass, broadcast offset join") {
    // both self-join sides must read the ONE leased union+aggregate —
    // without the lease Catalyst pushes each year filter below the
    // aggregate and plans two full fact scans; the weekly frame is
    // calendar-bounded so the offset join must broadcast, and the union
    // aggregate needs a map-side partial (slim rows into the wk exchange)
    val p = plan("tpcds_wow_ratio")
    assert(p.linesIterator.count(_.contains("InMemoryRelation")) >= 2,
      s"expected the leased weekly aggregate on BOTH join sides:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the calendar-bounded weekly self-join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge join:\n$p")
  }

  test("tpcds_geo_share_shift: quarter pivot replaces the 6-way self-join") {
    // the reference's ss1..ss3 × ws1..ws3 self-join collapses into
    // conditional sums inside ONE nation-grain aggregate: no window, no
    // lease, shuffle-hash joins only, and a per-order partial below the
    // orders join (same restructure family as three_channel_yoy)
    val p = plan("tpcds_geo_share_shift")
    assert(!p.contains("Window"), s"pivot shape needs no window:\n$p")
    assert(!p.contains("InMemoryRelation"), s"pivot shape needs no lease:\n$p")
    assert(!p.contains("SortMergeJoin"), s"joins stay shuffle-hash:\n$p")
    assert(p.linesIterator.exists(l =>
      l.matches(".*\\bHashAggregate\\b.*") && l.contains("keys=[l_orderkey")),
      s"expected the per-(order, quarter) partial below the orders join:\n$p")
    assert(p.contains("Union"), s"expected the channel union:\n$p")
  }

  test("tpcds_cov_pairing: single aggregate pass, no join, exact long moments") {
    // the reference's inv1⋈inv2 month self-join collapses into per-month
    // conditional moments in ONE supplier-grain aggregate — a join or a
    // second fact scan would double the heavy work; moments must be
    // codegen long sums (partial_sum), not object aggregates
    val p = plan("tpcds_cov_pairing")
    assert(!p.contains("Join"), s"pivoted moments need no join:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"expected exactly one lineitem scan, saw $scans:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side partial moments:\n$p")
  }

  test("tpcds_return_rank: global ranks via two-pass range scheme, no single-task window") {
    // the reference's rank() OVER (ORDER BY ...) is the single-partition
    // WindowExec trap at item-grain cardinality — the plan must contain
    // NO window and no SinglePartition exchange; the three ranked
    // channels arrive as Global.withGlobalRank's RangeTwoPass nodes under
    // a TakeOrdered final page
    val p = plan("tpcds_return_rank")
    assert(!p.contains("Window"), s"global ranks must not use WindowExec:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition funnel:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final page should be TakeOrdered, not a global sort:\n$p")
    assert(p.contains("Union"), s"expected the three-channel union:\n$p")
  }

  test("tpcds_three_fact_behavior: events pre-aggregate below the fact joins") {
    // the (user, dom, type) pre-agg bounds the orders⋈events multiplicity
    // (≤ type domain per key) — joining raw events would explode the
    // orderkey exchange by events-per-(user,dom)
    val p = plan("tpcds_three_fact_behavior")
    assert(p.linesIterator.exists(l =>
      l.matches(".*\\b(HashAggregate|ObjectHashAggregate)\\b.*") &&
        l.contains("user_id")),
      s"expected the per-(user,dom,type) events aggregate:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"three facts — nothing may broadcast:\n$p")
  }
}
