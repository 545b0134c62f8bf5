package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.ops.SinglePass — the r15 single-pass replacements for the
  * partial+final HashAggregate pairs on q16/q18's hottest stages. Each
  * helper is checked value-for-value against the two-phase DataFrame plan
  * it replaces, on data that exercises the grow path (≫ initial capacity),
  * collision-heavy structured keys (the q16 gid*base+key packing), and
  * the filter threshold boundary. */
class SinglePassSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("distinctCountByGid matches distinct().groupBy(gid).count()") {
    val packBase = 1000000L
    // 400k rows, ~50% duplicates, 37 gids, keys structured exactly like
    // q16's packing (gid*base + suppkey) — enough entries to force two
    // LongSet grows past the 128k initial capacity
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(400000) {
      val gid = 1 + rnd.nextInt(37)
      val supp = 1 + rnd.nextInt(8000)
      gid * packBase + supp
    }
    val df = rows.toDF("gk")
    val got = graft.ops.SinglePass.distinctCountByGid(df, 7, packBase)
      .groupBy("gid").agg(sum("cnt").as("supplier_cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = df.distinct()
      .select((col("gk") / packBase).cast("int").as("gid"))
      .groupBy("gid").agg(count(lit(1)).as("supplier_cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("distinctCountByGid: empty input, single partition, gid growth") {
    val packBase = 1000L
    assert(graft.ops.SinglePass
      .distinctCountByGid(Seq.empty[Long].toDF("gk"), 3, packBase)
      .count() == 0L)
    // gids beyond the initial 1024-slot counts array force its growth
    val big = Seq(5000L * packBase + 1, 5000L * packBase + 2, 7L * packBase + 1)
      .toDF("gk")
    val m = graft.ops.SinglePass.distinctCountByGid(big, 2, packBase)
      .groupBy("gid").agg(sum("cnt").as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m == Map(5000 -> 2L, 7 -> 1L))
  }

  test("sumIntByKeyFiltered matches groupBy(key).sum(value).filter(> t)") {
    val rnd = new scala.util.Random(7)
    // 300k rows over 60k keys (~5 rows/key) — forces one map grow; values
    // sized so a meaningful sliver crosses the 300 threshold, with exact
    // boundary keys (sum == threshold must be EXCLUDED, > not >=)
    val rows = Seq.fill(300000)((1L + rnd.nextInt(60000), 1 + rnd.nextInt(120))) ++
      Seq((999991L, 300), (999992L, 301)) // exact-boundary and just-over keys
    val df = rows.toDF("k", "v")
    val got = graft.ops.SinglePass
      .sumIntByKeyFiltered(df.select(col("k"), col("v").cast("int")),
        300L, "k", "total")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("k").agg(sum(col("v").cast("double")).as("total"))
      .filter(col("total") > 300)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
    assert(!got.contains(999991L) && got(999992L) == 301.0)
  }

  test("sumDoubleByKey matches groupBy(key).sum(value)") {
    val rnd = new scala.util.Random(11)
    // integral doubles so both accumulation orders are exact-equal
    val rows = Seq.fill(200000)((1L + rnd.nextInt(50000), rnd.nextInt(1000).toDouble))
    val df = rows.toDF("k", "v")
    val got = graft.ops.SinglePass.sumDoubleByKey(df, "k", "s")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }

  test("distinctPairCountByKey matches size(collect_set)") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(250000)((rnd.nextInt(40000).toLong, rnd.nextInt(300).toLong))
    val df = rows.toDF("k1", "k2") // includes key 0 (0-based fixture keys)
    val got = graft.ops.SinglePass.distinctPairCountByKey(df, "k1", "c")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("k1").agg(countDistinct("k2").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("q95OrderStats matches the grouped collect_set rollup") {
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(200000)((rnd.nextInt(30000).toLong,
      rnd.nextInt(40).toLong, rnd.nextInt(5), rnd.nextInt(100000).toLong))
    val df = rows.toDF("lk", "ls", "rf", "rev")
      .select(col("lk"), col("ls"),
        when(col("rf") === 0, 1).otherwise(0).as("isR"), col("rev"))
    val got = graft.ops.SinglePass.q95OrderStats(df, 2, "lk", "rev")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("lk").agg(
        size(collect_set(col("ls"))).as("ns"),
        max(col("isR")).as("hr"), sum("rev").as("rev"))
      .filter(col("ns") >= 2 && col("hr") === 1)
      .select("lk", "rev")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("tpcds multi_supp/best_cust single-pass shapes equal the oracle shapes at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val ms = queries.Tpcds.queries("tpcds_multi_supp_returned")(spark, dir)
      .collect().toSeq
    val bc = queries.Tpcds.queries("tpcds_best_cust_frequent_parts")(spark, dir)
      .collect().toSeq
    graft.ops.Caches.releaseAll()
    val tt = Tables(spark, dir)
    def revL = (round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long")))
    val refMs = tt.lineitem.groupBy("l_orderkey").agg(
        size(collect_set(col("l_suppkey"))).as("ns"),
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("hr"),
        sum(revL).as("rev"))
      .filter(col("ns") >= 2 && col("hr") === 1)
      .join(tt.orders.filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("order_count"),
        (sum("rev").cast("double") / 10000.0).as("total_rev"))
      .collect().toSeq
    assert(ms.map(_.toSeq) == refMs.map(_.toSeq))
    val pcRef = tt.lineitem.groupBy("l_partkey")
      .agg(countDistinct(col("l_orderkey")).as("cnt"))
    val fpRef = pcRef.crossJoin(broadcast(pcRef.agg(avg("cnt").as("a"))))
      .filter(col("cnt") > col("a") * 1.1).select("l_partkey")
    val csRef = tt.orders.groupBy("o_custkey")
      .agg((sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
        .as("spend"))
    val bcRef0 = csRef.crossJoin(broadcast(csRef.agg(max("spend").as("m"))))
      .filter(col("spend") > col("m") * 0.5).select(col("o_custkey").as("bck"))
    val refBc = tt.lineitem.select(col("l_orderkey"), col("l_partkey"), revL.as("r"))
      .join(fpRef, Seq("l_partkey"), "left_semi")
      .join(tt.orders.select("o_orderkey", "o_custkey")
          .join(bcRef0, col("o_custkey") === col("bck"), "left_semi"),
        col("l_orderkey") === col("o_orderkey"))
      .agg((sum("r").cast("double") / 10000.0).as("total_rev"),
        count(lit(1)).as("n_lines"))
      .collect().toSeq
    assert(bc.map(_.toSeq) == refBc.map(_.toSeq))
  }

  test("q16/q18 single-pass results equal their two-phase toggles at sf0.001") {
    // end-to-end: the full queries with and without the single-pass path
    // must produce identical rows (the toggle env vars can't be set from
    // here, so compare the single-pass default against the two-phase
    // DataFrame shapes inlined from the pre-r15 code)
    val dir = "/root/testdata/sf0.001"
    val q16 = queries.Tpch2.q16(spark, dir).collect().toSeq
    val q18 = queries.Tpch2.q18(spark, dir).collect().toSeq
    graft.ops.Caches.releaseAll()
    val tt = Tables(spark, dir)
    // reference q16 distinct-count, straight from the oracle shape
    val ref16 = tt.lineitem.join(tt.part, col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand") =!= "Brand#3")
      .groupBy(col("p_brand"), col("p_type"),
        floor(col("p_size") / 10).cast("int").as("size_band"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc,
        col("size_band").asc)
      .collect().toSeq
    assert(q16.map(_.toSeq) == ref16.map(_.toSeq))
    // reference q18 big-order sliver via the plain two-phase aggregate
    val refBig = tt.lineitem.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("total_qty")).filter(col("total_qty") > 300)
    val ref18 = tt.customer.join(tt.orders, col("c_custkey") === col("o_custkey"))
      .join(refBig, col("o_orderkey") === col("l_orderkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100).collect().toSeq
    assert(q18.map(_.toSeq) == ref18.map(_.toSeq))
  }

  test("sumLongByKey matches groupBy(key).sum(value), negatives included") {
    val rnd = new scala.util.Random(23)
    // signed values (the ±revL per-line nets) over keys including 0
    val rows = Seq.fill(200000)((rnd.nextInt(50000).toLong,
      (rnd.nextInt(2000000) - 500000).toLong))
    val df = rows.toDF("k", "v")
    val got = graft.ops.SinglePass.sumLongByKey(df, "k", "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("priceDropPairs matches the grouped self-join drop detection") {
    val rnd = new scala.util.Random(13)
    // ~6k parts × ≤6 years with integral cents/quantities and year gaps
    // (a missing prev year must NOT pair) — several rows per (part, year)
    // so the in-kernel sums actually accumulate
    val rows = Seq.fill(120000) {
      val pk = rnd.nextInt(6000).toLong
      val yr = 1992 + rnd.nextInt(6)
      (pk, yr, 100 + rnd.nextInt(99000), 1 + rnd.nextInt(50))
    }.filter { case (pk, yr, _, _) => (pk + yr) % 7 != 0 } // year gaps
    val df = rows.toDF("pk", "yr", "p", "q")
      .select(col("pk"), col("yr").cast("int"),
        col("p").cast("int"), col("q").cast("int"))
    val got = graft.ops.SinglePass.priceDropPairs(df, 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val ppy = df.groupBy("pk", "yr")
      .agg((sum("p").cast("double") / 100.0).as("ps"), sum("q").as("qs"))
    val cur = ppy.select(col("pk"), col("yr"), (col("ps") / col("qs")).as("cp"))
    val prev = ppy.select(col("pk"), (col("yr") + 1).as("yr"),
      (col("ps") / col("qs")).as("pp"))
    val want = cur.join(prev, Seq("pk", "yr"))
      .filter(col("cp") < col("pp") * 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(want.nonEmpty && got == want)
  }

  test("yoyGrowerStats matches the grouped self-join grower rollup") {
    val rnd = new scala.util.Random(17)
    // customers × years with positive and NEGATIVE nets (pnet > 0 gate)
    // and zero-osum channel rows, several rows per (ck, yr)
    val rows = Seq.fill(150000) {
      val ck = rnd.nextInt(8000).toLong
      val yr = 1992 + rnd.nextInt(6)
      (ck, yr, (rnd.nextInt(400000) - 50000).toLong,
        if (rnd.nextBoolean()) rnd.nextInt(100000).toLong else 0L)
    }.filter { case (ck, yr, _, _) => (ck + yr) % 5 != 0 } // year gaps
    val df = rows.toDF("ck", "yr", "net", "osum")
      .select(col("ck"), col("yr").cast("int"), col("net"), col("osum"))
    val got = graft.ops.SinglePass.yoyGrowerStats(df, 1.1)
      .groupBy("yr")
      .agg(sum("n").as("n"), (sum("nets").cast("double") / 10000.0).as("gn"),
        (sum("osums").cast("double") / 100.0).as("gs"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val cy = df.groupBy("ck", "yr")
      .agg(sum("net").as("net"), sum("osum").as("osum"))
    val cur = cy.select(col("ck"), col("yr"), col("net"), col("osum"))
    val prev = cy.select(col("ck"), (col("yr") + 1).as("yr"),
      col("net").as("pnet"))
    val want = cur.join(prev, Seq("ck", "yr"))
      .filter((col("net").cast("double") / 10000.0) >
          (col("pnet").cast("double") / 10000.0) * 1.1 &&
        (col("pnet").cast("double") / 10000.0) > 0)
      .groupBy("yr")
      .agg(count(lit(1)).as("n"),
        (sum("net").cast("double") / 10000.0).as("gn"),
        (sum("osum").cast("double") / 100.0).as("gs"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(want.nonEmpty && got == want)
  }

  test("price_chain/three_channel_yoy single-pass equal the r15 two-phase shapes at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val pc = queries.Tpcds.queries("tpcds_price_chain")(spark, dir)
      .collect().map(_.toSeq).toSet
    val yoy = queries.Tpcds.queries("tpcds_three_channel_yoy")(spark, dir)
      .collect().map(_.toSeq).toSet
    graft.ops.Caches.releaseAll()
    val tt = Tables(spark, dir)
    // price_chain reference: the r15 leased self-join shape, inlined
    val ppy = tt.lineitem.select(col("l_orderkey"), col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("__p"),
        col("l_quantity"))
      .join(tt.orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"), year(col("o_orderdate")).cast("int").as("yr"))
      .agg((sum("__p").cast("double") / 100.0).as("ps"), sum("l_quantity").as("qs"))
    val cur = ppy.select(col("l_partkey"), col("yr"), (col("ps") / col("qs")).as("cp"))
    val prev = ppy.select(col("l_partkey"), (col("yr") + 1).as("yr"),
      (col("ps") / col("qs")).as("pp"))
    val refPc = cur.join(prev, Seq("l_partkey", "yr"))
      .filter(col("cp") < col("pp") * 0.95)
      .join(tt.part.select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "yr").agg(count(lit(1)).as("n_cheaper"))
      .collect().map(_.toSeq).toSet
    assert(pc == refPc && pc.nonEmpty)
    // three_channel_yoy reference: the oracle's outer-join CTE shape
    def revL = (round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long")))
    val li = tt.lineitem.select(col("l_orderkey"),
        when(col("l_returnflag") === "R", lit(0L)).otherwise(revL).as("__s"),
        when(col("l_returnflag") === "R", revL).otherwise(lit(0L)).as("__r"))
      .join(tt.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("ck"),
        year(col("o_orderdate")).cast("int").as("yr"))
      .agg((sum("__s") - sum("__r")).as("net"))
    val ord = tt.orders.groupBy(col("o_custkey").as("ck"),
        year(col("o_orderdate")).cast("int").as("yr"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("osum"))
    val cy = ord.join(li, Seq("ck", "yr"), "left")
      .select(col("ck"), col("yr"),
        coalesce(col("net"), lit(0L)).as("net"), col("osum"))
    val refYoy = cy.join(
        cy.select(col("ck"), (col("yr") + 1).as("yr"), col("net").as("pnet")),
        Seq("ck", "yr"))
      .filter((col("net").cast("double") / 10000.0) >
          (col("pnet").cast("double") / 10000.0) * 1.1 &&
        (col("pnet").cast("double") / 10000.0) > 0)
      .groupBy("yr")
      .agg(count(lit(1)).as("n_growers"),
        (sum("net").cast("double") / 10000.0).as("grower_net"),
        (sum("osum").cast("double") / 100.0).as("grower_spend"))
      .collect().map(_.toSeq).toSet
    assert(yoy == refYoy && yoy.nonEmpty)
  }

  test("per-task entry cap fails loudly when forced low") {
    val saved = graft.ops.SinglePass.maxEntries
    try {
      graft.ops.SinglePass.maxEntries = 16
      val df = (1L to 1000L).map(k => (k, 1.0)).toDF("k", "v")
      val e = intercept[Exception] {
        graft.ops.SinglePass.sumDoubleByKey(df, "k", "s").collect()
      }
      def rootMsg(t: Throwable): String =
        if (t.getCause != null) rootMsg(t.getCause)
        else String.valueOf(t.getMessage)
      assert(rootMsg(e).contains("SPARK_GRAFT_SINGLEPASS_MAX_ENTRIES"))
    } finally graft.ops.SinglePass.maxEntries = saved
  }

  test("q21 single-pass culprit rollup equals the window shape at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val q21 = queries.Tpch2.q21(spark, dir).collect().toSeq
    graft.ops.Caches.releaseAll()
    // reference straight from the oracle shape: distinct late/ontime pair
    // sets, exists-other-supplier semi join
    val tt = Tables(spark, dir)
    val f = tt.lineitem.join(tt.orders.filter(col("o_orderstatus") === "F"),
      col("l_orderkey") === col("o_orderkey"))
    val late = f.filter(col("l_shipdate") > date_add(col("o_orderdate"), 90))
      .select(col("l_orderkey").as("lk"), col("l_suppkey").as("ls")).distinct()
    val ontime = f.filter(col("l_shipdate") <= date_add(col("o_orderdate"), 90))
      .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("os2")).distinct()
    val ref = late.join(ontime,
        col("lk") === col("ok2") && col("ls") =!= col("os2"), "left_semi")
      .join(tt.supplier, col("ls") === col("s_suppkey"))
      .groupBy(col("s_name"), col("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(25).collect().toSeq
    assert(q21.map(_.toSeq) == ref.map(_.toSeq))
  }

  test("q16's Bench fingerprint is equal across two plannings and names no kernel closure") {
    val cap = new Bench.PlanCapture
    def plan(): (String, String) = {
      val df = SparkEntry.queries("q16")(spark, TestSpark.sfDir)
      try df.collect() finally graft.ops.Caches.releaseAll(blocking = true)
      cap.last = df.queryExecution.executedPlan
      (cap.fingerprint(), cap.last.toString)
    }
    val (fp1, text) = plan()
    val (fp2, _) = plan()
    assert(text.contains("SinglePassAgg"))
    // the lambda's class name differs from JVM to JVM, so one in the plan
    // text changes the fingerprint between runs of an identical plan
    assert(!text.contains("$$Lambda"), text)
    assert(fp1 == fp2)
  }
}
