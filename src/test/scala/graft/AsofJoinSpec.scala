package graft

import graft.ops.AsofJoin
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** As-of join vs a brute-force in-memory oracle over seeded random data —
  * the reference's test strategy for its asof suite
  * (tests/dataframe/test_asof_join*.py + property-based sort tests). */
class AsofJoinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val rng = new scala.util.Random(12345)
  private val leftRows = (1 to 300).map { i =>
    (i.toLong, rng.nextInt(5).toLong, rng.nextInt(1000).toLong)
  } // (id, key, t)
  private val rightRows = (1 to 200).map { i =>
    (i.toLong + 1000, rng.nextInt(5).toLong, rng.nextInt(1000).toLong)
  }

  private def mkDf(rows: Seq[(Long, Long, Long)], prefix: String) = {
    val schema = StructType(Seq(
      StructField(s"${prefix}id", LongType), StructField(s"${prefix}k", LongType),
      StructField(s"${prefix}t", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 4), schema)
  }

  private def bruteForce(strategy: AsofJoin.Strategy): Map[Long, Option[Long]] =
    leftRows.map { case (id, k, t) =>
      val cands = rightRows.filter(_._2 == k)
      val pick = strategy match {
        case AsofJoin.Backward =>
          val le = cands.filter(_._3 <= t)
          if (le.isEmpty) None else Some(le.maxBy(_._3))
        case AsofJoin.Forward =>
          val ge = cands.filter(_._3 >= t)
          if (ge.isEmpty) None else Some(ge.minBy(_._3))
        case AsofJoin.Nearest =>
          if (cands.isEmpty) None
          else {
            val minDiff = cands.map(c => math.abs(c._3 - t)).min
            val best = cands.filter(c => math.abs(c._3 - t) == minDiff)
            Some(best.minBy(_._3)) // tie -> backward (earlier t)
          }
      }
      id -> pick.map(_._3)
    }.toMap

  for (strategy <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)) {
    test(s"asof $strategy matches brute force on random data") {
      val got = AsofJoin.join(
          mkDf(leftRows, "l"), mkDf(rightRows, "r"), "lt", "rt",
          Seq("lk"), Seq("rk"), strategy)
        .collect()
        .map(r => r.getLong(0) -> Option(r.get(5)).map(_.asInstanceOf[Long]))
        .toMap
      val expect = bruteForce(strategy)
      assert(got.size == leftRows.size, "left rows must all be preserved")
      val diffs = expect.collect { case (id, e) if got(id) != e => (id, e, got(id)) }
      assert(diffs.isEmpty, s"mismatches (id, expected_t, got_t): ${diffs.take(5)}")
    }
  }

  for (strategy <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)) {
    test(s"global asof $strategy (range-partitioned) matches brute force") {
      val noKeyLeft = leftRows.map { case (id, _, t) => (id, 0L, t) }
      val noKeyRight = rightRows.map { case (id, _, t) => (id, 0L, t) }
      val got = withShufflePartitions(7) {
          AsofJoin.join(mkDf(noKeyLeft, "l"), mkDf(noKeyRight, "r"), "lt", "rt",
            strategy = strategy).collect()
        }
        .map(r => r.getLong(0) -> Option(r.get(5)).map(_.asInstanceOf[Long]))
        .toMap
      val expect = noKeyLeft.map { case (id, _, t) =>
        val pick = strategy match {
          case AsofJoin.Backward =>
            val le = noKeyRight.filter(_._3 <= t)
            if (le.isEmpty) None else Some(le.map(_._3).max)
          case AsofJoin.Forward =>
            val ge = noKeyRight.filter(_._3 >= t)
            if (ge.isEmpty) None else Some(ge.map(_._3).min)
          case AsofJoin.Nearest =>
            if (noKeyRight.isEmpty) None
            else {
              val minDiff = noKeyRight.map(c => math.abs(c._3 - t)).min
              Some(noKeyRight.filter(c => math.abs(c._3 - t) == minDiff).map(_._3).min)
            }
        }
        id -> pick
      }.toMap
      assert(got.size == noKeyLeft.size)
      val diffs = expect.collect { case (id, e) if got(id) != e => (id, e, got(id)) }
      assert(diffs.isEmpty, s"mismatches: ${diffs.take(5)}")
    }
  }

  test("asof tolerance nulls far matches") {
    val got = AsofJoin.join(
        mkDf(leftRows, "l"), mkDf(rightRows, "r"), "lt", "rt",
        Seq("lk"), Seq("rk"), AsofJoin.Backward, toleranceMicros = Some(50L))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(5)).map(_.asInstanceOf[Long]))
      .toMap
    val expect = leftRows.map { case (id, k, t) =>
      val le = rightRows.filter(c => c._2 == k && c._3 <= t)
      id -> (if (le.isEmpty) None else Some(le.maxBy(_._3)._3).filter(rt => t - rt <= 50L))
    }.toMap
    assert(got == expect)
  }

  test("planner-integrated asof matches brute force on the events fixture") {
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, TestSpark.sfDir).events
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val purchases = e.filter(col("event_type") === "purchase")
      .selectExpr("event_id as p_event_id", "user_id as p_user", "ts as p_ts", "value as p_value")
    def micros(df: org.apache.spark.sql.DataFrame, id: String, user: String, ts: String) =
      df.select(col(id), col(user), Tables.eventTimeMicros(df, ts)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ls = micros(clicks, "event_id", "user_id", "ts")
    val rs = micros(purchases, "p_event_id", "p_user", "p_ts")
    assert(ls.nonEmpty && rs.nonEmpty)
    for (strat <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)) {
      // the picked purchase's time: equal-time purchases of one user are
      // interchangeable, so the time (not the id) is what is determined
      val joined = AsofJoin
        .join(clicks, purchases, "ts", "p_ts", Seq("user_id"), Seq("p_user"), strat)
      val got = joined.select(col("event_id"), Tables.eventTimeMicros(joined, "p_ts")).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      val expect = ls.map { case (id, u, t) =>
        id -> oracle(strat, t, rs.filter(_._2 == u).map(_._3).toSeq)
      }.toMap
      assert(got == expect, s"strategy $strat")
    }
    // the physical plan is the custom operator with planner-owned exchanges
    val plan = AsofJoin
      .join(clicks, purchases, "ts", "p_ts", Seq("user_id"), Seq("p_user"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"expected the custom operator:\n$plan")
  }

  test("asof self-join and by-keys of different types") {
    import spark.implicits._
    val df = Seq((1L, 1, 10L), (2L, 1, 20L), (3L, 2, 15L), (4L, 1, 25L)).toDF("id", "k", "t")
    // both sides share attributes; the output keeps both sides' names
    val self = AsofJoin.join(df, df.filter($"id" =!= 4), "t", "t", Seq("k"), Seq("k"))
    assert(self.columns.toSeq == Seq("id", "k", "t", "id", "k", "t"))
    assert(self.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
    // an int left key against a long right key hashes and compares alike
    val right = Seq((100L, 1L, 12L), (101L, 2L, 1L)).toDF("rid", "rk", "rt")
    val mixed = AsofJoin.join(df, right, "t", "rt", Seq("k"), Seq("rk"))
    assert(mixed.schema("rk").dataType == LongType)
    assert(mixed.collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap ==
      Map(1L -> None, 2L -> Some(100L), 3L -> Some(101L), 4L -> Some(100L)))
  }

  /** The brute-force pick among candidate right times `cands` for a left
    * row at `t`: backward = greatest <= t, forward = least >= t, nearest =
    * min |diff| with ties going backward. */
  private def oracle(strategy: AsofJoin.Strategy, t: Long, cands: Seq[Long]): Option[Long] =
    strategy match {
      case AsofJoin.Backward => cands.filter(_ <= t).maxOption
      case AsofJoin.Forward => cands.filter(_ >= t).minOption
      case AsofJoin.Nearest => cands.map(c => (math.abs(c - t), c)).minOption.map(_._2)
    }

  private def withShufflePartitions[A](n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prior)
  }

  test("as-of joins follow one null rule: a null by-key or on-key matches nothing") {
    // (id, k1, k2, t), every field but id nullable. Right on-keys are
    // distinct, so each pick is one right id. Fixed probes first:
    // (1, null) vs (null, 1) must not collide as keys, a null by-key must
    // not match a null by-key, a right row with a null t is never picked
    // (backward from t=5 finds nothing), and a null left t keeps its row.
    type R = (Long, Integer, Integer, java.lang.Long)
    def box(v: Option[Int]): Integer = v.map(Int.box).orNull
    val nr = new scala.util.Random(777)
    def maybe[A](a: => A): Option[A] = if (nr.nextInt(8) == 0) None else Some(a)
    val probesL: Seq[R] = Seq(
      (1L, 1, null, 5L), (2L, null, null, 5L), (3L, 7, 7, 5L), (4L, 0, 0, null))
    val probesR: Seq[R] = Seq(
      (1001L, null, 1, 1L), (1002L, null, null, 2L), (1003L, 7, 7, null))
    val randL: Seq[R] = (5 to 200).map(i => (i.toLong, box(maybe(nr.nextInt(3))),
      box(maybe(nr.nextInt(2))), maybe(nr.nextInt(400).toLong).map(Long.box).orNull))
    val rTimes = nr.shuffle((10 until 400).toList).take(150)
    val randR: Seq[R] = rTimes.zipWithIndex.map { case (t, i) => (1004L + i,
      box(maybe(nr.nextInt(3))), box(maybe(nr.nextInt(2))), maybe(t.toLong).map(Long.box).orNull) }
    val (ls, rs) = (probesL ++ randL, probesR ++ randR)
    def df(rows: Seq[R], p: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3, r._4)), 3),
      StructType(Seq(StructField(s"${p}id", LongType), StructField(s"${p}k1", IntegerType),
        StructField(s"${p}k2", IntegerType), StructField(s"${p}t", LongType))))
    // SQL equality: null = anything is not true
    def eq(a: Any, b: Any) = a != null && b != null && a == b
    def expect(strat: AsofJoin.Strategy, keyed: Boolean): Map[Long, Option[Long]] =
      ls.map { case (id, k1, k2, t) =>
        val cands = rs.filter(r => r._4 != null &&
          (!keyed || (eq(k1, r._2) && eq(k2, r._3))))
        val byT = cands.map(r => r._4.longValue -> r._1).toMap
        id -> Option(t).flatMap(tt => oracle(strat, tt, byT.keys.toSeq)).map(byT)
      }.toMap
    def got(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    for (strat <- Seq(AsofJoin.Backward, AsofJoin.Forward, AsofJoin.Nearest)) {
      val keyed = got(AsofJoin.join(df(ls, "l"), df(rs, "r"), "lt", "rt",
        Seq("lk1", "lk2"), Seq("rk1", "rk2"), strat))
      assert(keyed == expect(strat, keyed = true), s"keyed $strat")
      val global = withShufflePartitions(5) {
        got(AsofJoin.join(df(ls, "l"), df(rs, "r"), "lt", "rt", strategy = strat))
      }
      assert(global == expect(strat, keyed = false), s"global $strat")
    }
  }
}
