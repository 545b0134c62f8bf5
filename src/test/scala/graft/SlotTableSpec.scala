package graft

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SinglePass, SlotTable}

/** Properties of the open-address slot table under every SinglePass
  * kernel, checked against a `mutable.HashMap` oracle (FIXTURES.md §B:
  * seeded generators vs a brute-force oracle). No SparkSession: the table
  * is a plain JVM object. Covers adversarial single and pair keys,
  * brute-forced `mix` collisions at the initial capacity, entry counts
  * around the first two grows, the fresh/existing mark returned by
  * `slot`, `find` misses and the per-task cap trip. Raw ScalaCheck
  * generators with fixed seeds (same pattern as PropertiesSpec). */
class SlotTableSpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7300L + i)))

  private val NoCap = Int.MaxValue

  /** Slot index, fresh or not. */
  private def at(r: Int): Int = if (r < 0) ~r else r

  /** Grow trigger: the entry count at which n·10 ≥ cap·7 first holds. */
  private def trigger(cap: Int): Int = (cap * 7 + 9) / 10

  private val firstKey: Gen[Long] = Gen.frequency(
    4 -> Gen.oneOf(1L, Long.MaxValue, Long.MinValue, -1L, 2L),
    4 -> Gen.choose(1L, 300L),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue).filter(_ != 0L))

  private val secondKey: Gen[Long] = Gen.frequency(
    4 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue, 1L),
    4 -> Gen.choose(-20L, 20L),
    2 -> Gen.choose(Long.MinValue, Long.MaxValue))

  /** `m` distinct nonzero keys whose `mix(k) & (cap − 1)` all equal one
    * bucket, found by brute force from a seeded start. The bucket is
    * drawn near the end of the table half the time so probe runs wrap. */
  private def colliding(cap: Int, m: Int): Gen[Seq[Long]] = for {
    bucket <- Gen.oneOf(Gen.const(cap - 1), Gen.choose(0, cap - 1))
    start <- Gen.choose(1L, Long.MaxValue / 2)
  } yield Iterator.iterate(start)(_ + 1L)
    .filter(k => (SinglePass.mix(k) & (cap - 1)) == bucket).take(m).toSeq

  /** Drive `keys` through a one-long-column table and the oracle side by
    * side: the fresh mark must match oracle membership on every call,
    * and the final contents must equal the oracle exactly. */
  private def checkSingle(keys: Seq[Long], initialCap: Int): SlotTable = {
    val t = new SlotTable("spec", initialCap, longCols = 1, maxEntries = NoCap)
    val oracle = mutable.HashMap.empty[Long, Long]
    keys.zipWithIndex.foreach { case (k, v) =>
      val r = t.slot(k)
      assert((r < 0) == !oracle.contains(k), s"fresh mark for $k")
      assert(t.key(at(r)) == k)
      t.longs(0)(at(r)) += v
      oracle(k) = oracle.getOrElse(k, 0L) + v
    }
    assert(t.size == oracle.size)
    assert(t.slots.map(i => t.key(i) -> t.longs(0)(i)).toMap == oracle.toMap)
    oracle.foreach { case (k, v) =>
      val i = t.find(k)
      assert(i >= 0 && t.key(i) == k && t.longs(0)(i) == v)
    }
    t
  }

  test("single keys: slot/find/slots agree with a HashMap oracle") {
    val gen = Gen.choose(0, 400).flatMap(Gen.listOfN(_, firstKey))
    for (keys <- samples(gen, 60)) checkSingle(keys, 1 << 4)
    // the extreme keys on their own, twice each
    checkSingle(Seq(1L, Long.MaxValue, 1L, Long.MaxValue, Long.MinValue, -1L), 1 << 4)
  }

  test("pair keys: second keys 0, -1, Long.MinValue are ordinary values") {
    val pairGen = for { a <- firstKey; b <- secondKey } yield (a, b)
    val gen = Gen.choose(0, 400).flatMap(Gen.listOfN(_, pairGen))
    for (pairs <- samples(gen, 60)) {
      val t = new SlotTable("spec", 1 << 4, pairKeys = true, longCols = 1,
        doubleCols = 1, byteCols = 1, maxEntries = NoCap)
      val oracle = mutable.HashMap.empty[(Long, Long), (Long, Double, Byte)]
      pairs.zipWithIndex.foreach { case ((a, b), v) =>
        val r = t.slot(a, b)
        assert((r < 0) == !oracle.contains((a, b)), s"fresh mark for ($a, $b)")
        val i = at(r)
        assert(t.key(i) == a && t.key2(i) == b)
        t.longs(0)(i) |= 1L << (v % 63)
        t.doubles(0)(i) += v * 0.5
        t.bytes(0)(i) = (t.bytes(0)(i) | 1 << (v % 7)).toByte
        val (f, d, g) = oracle.getOrElse((a, b), (0L, 0.0, 0.toByte))
        oracle((a, b)) = (f | 1L << (v % 63), d + v * 0.5, (g | 1 << (v % 7)).toByte)
      }
      assert(t.size == oracle.size)
      assert(t.slots.map(i => (t.key(i), t.key2(i)) ->
        ((t.longs(0)(i), t.doubles(0)(i), t.bytes(0)(i)))).toMap == oracle.toMap)
    }
    // (1, b) for every adversarial b stays distinct
    val t = new SlotTable("spec", 1 << 4, pairKeys = true, maxEntries = NoCap)
    val bs = Seq(0L, -1L, Long.MinValue, Long.MaxValue, 1L)
    assert(bs.forall(b => t.slot(1L, b) < 0) && bs.forall(b => t.slot(1L, b) >= 0))
    assert(t.size == bs.size)
  }

  test("keys colliding at the initial capacity, across probe wrap-around") {
    for (cap <- Seq(1 << 4, 1 << 12, 1 << 17)) {
      val m = math.min(trigger(cap) - 1, 40)
      for (keys <- samples(colliding(cap, m), 6)) {
        assert(keys.distinct.size == m)
        // inserted twice over: the second pass must find every key
        val t = checkSingle(keys ++ keys.reverse, cap)
        assert(t.capacity == cap)
      }
    }
    // enough colliding keys to force growth while they share one bucket
    for (keys <- samples(colliding(1 << 4, 60), 3)) checkSingle(keys, 1 << 4)
  }

  test("entry counts around the first two grows") {
    for (cap <- Seq(1 << 3, 1 << 12, 1 << 16); second <- Seq(false, true)) {
      val growAt = if (second) trigger(cap * 4) else trigger(cap)
      val capBefore = if (second) cap * 4 else cap
      for (count <- Seq(growAt - 1, growAt, growAt + 1)) {
        // distinct keys on a stride so mix sees structured input
        val base = samples(Gen.choose(1L, Long.MaxValue / 2), 1).head
        val t = checkSingle((0 until count).map(j => base + j * 1000003L), cap)
        assert(t.capacity == (if (count < growAt) capBefore else capBefore * 4),
          s"cap $cap, count $count")
      }
    }
  }

  test("find misses absent keys, and on an empty table") {
    assert(new SlotTable("spec", 1 << 4, maxEntries = NoCap).find(1L) == -1)
    val gen = for {
      present <- Gen.listOfN(200, firstKey)
      absent <- Gen.listOfN(200, firstKey)
    } yield (present, absent)
    for ((present, absent) <- samples(gen, 30)) {
      val t = checkSingle(present, 1 << 4)
      val before = t.size
      absent.filterNot(present.toSet).foreach(k => assert(t.find(k) == -1, s"$k"))
      assert(t.size == before, "find must not insert")
    }
  }

  test("cap trip fires exactly at maxEntries distinct entries") {
    for (cap <- samples(Gen.choose(1, 300), 25)) {
      val t = new SlotTable("specKernel", 1 << 4, longCols = 1, maxEntries = cap)
      (1 until cap).foreach(k => t.slot(k.toLong))
      (1 until cap).foreach(k => assert(t.slot(k.toLong) >= 0)) // re-touch: no trip
      assert(t.size == cap - 1)
      val e = intercept[IllegalStateException](t.slot(cap.toLong))
      assert(e.getMessage.contains("specKernel") &&
        e.getMessage.contains(s">= cap $cap") &&
        e.getMessage.contains("SPARK_GRAFT_SINGLEPASS_MAX_ENTRIES"))
    }
  }

  test("parseMaxEntries: default, valid values, and loud errors naming the variable") {
    assert(SinglePass.parseMaxEntries(None) == (1 << 26))
    assert(SinglePass.parseMaxEntries(Some("123")) == 123)
    assert(SinglePass.parseMaxEntries(Some(" 42 ")) == 42)
    for (bad <- Seq("", "abc", "0", "-5", "1.5", "1e6", "99999999999")) {
      val e = intercept[IllegalArgumentException](SinglePass.parseMaxEntries(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SINGLEPASS_MAX_ENTRIES"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }
}
