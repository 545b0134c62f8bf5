package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import Bench.{Args, Host, QRes, Rep}

/** The measurement runner's pure parts — argument parsing, run order, the
  * budgeted fixed-rep loop and the post-run weather verdicts — driven by an
  * injected clock and injected rep durations. No SparkSession. */
class BenchPlanSpec extends AnyFunSuite {

  private val known: Set[String] =
    ((1 to 22).map(i => s"q$i") ++ Seq("tpcds_a", "tpcds_b", "cb_x")).toSet

  /** A fake clock that each rep advances by its duration, plus a log of
    * tier entries and reps run. */
  private final class Sim(start: Double, durations: (Int, String, Int) => Double) {
    var now: Double = start
    val entered = mutable.Buffer[Int]()
    val ran = mutable.Map[(Int, String), Int]().withDefaultValue(0)
    def run(jobs: Seq[(Int, String)], reps: Int): (Seq[QRes], Seq[String]) =
      Bench.runBudgeted(jobs, reps, () => now, k => entered += k, { (k, n) =>
        val d = durations(k, n, ran((k, n)))
        ran((k, n)) += 1
        now += d
        Rep(d, ok = true, calib = 0.1, bw = 40.0)
      })
  }

  private def rep(sec: Double, calib: Double = 0.1, bw: Double = 40.0, ok: Boolean = true) =
    Rep(sec, ok, calib, bw)

  test("a query's first rep is cut once the budget is spent, and named in skipped") {
    val sim = new Sim(0.0, (_, _, _) => 400.0)
    val (res, cut) = sim.run(Seq("q1", "q2", "q3", "q4").map(1 -> _), reps = 3)
    // q1: 0→1200 (3 reps); q2: 1200→2000, a third 400 s rep would end at 2400;
    // q3 starts at 2000 < 2100 and overruns to 2400; q4 never starts
    assert(res.map(r => r.name -> r.reps.size) == Seq("q1" -> 3, "q2" -> 2, "q3" -> 1))
    assert(cut == Seq("base/q2/reps", "base/q3/reps", "base/q4"))
    assert(sim.ran((1, "q4")) == 0)
  }

  test("a later rep is cut when elapsed plus the query's last rep time exceeds the budget") {
    val times = Seq(100.0, 450.0, 10.0)
    val sim = new Sim(Bench.BudgetSec - 600, (_, _, i) => times(i))
    val (res, cut) = sim.run(Seq(100 -> "q18"), reps = 3)
    // after rep 2 the clock reads BudgetSec - 50: the projection uses the
    // last rep (450 s), not the 10 s the third rep would actually take
    assert(res.head.reps.map(_.sec) == Seq(100.0, 450.0))
    assert(cut == Seq("100/q18/reps"))
  }

  test("the exact budget edge: a projected rep that ends at the budget still runs") {
    val sim = new Sim(Bench.BudgetSec - 200, (_, _, _) => 100.0)
    val (res, cut) = sim.run(Seq(1 -> "q6"), reps = 3)
    assert(res.head.reps.size == 2 && cut == Seq("base/q6/reps"))
  }

  test("tiers are entered once per contiguous run, and never once the budget is spent") {
    val sim = new Sim(0.0, (k, _, _) => if (k == 1000) 1000.0 else 1.0)
    val jobs = Seq(1 -> "q1", 100 -> "q1", 1000 -> "q1", 100 -> "q11", 1000 -> "q11",
      1000 -> "q12", 100 -> "q12")
    val (_, cut) = sim.run(jobs, reps = 1)
    // q12 at k=1000 starts at 2003 s and overruns; q12 at k=100 then finds
    // the budget spent, so tier 100 is not prepared a third time
    assert(sim.entered == Seq(1, 100, 1000, 100, 1000))
    assert(cut == Seq("100/q12"))
  }

  test("headline runs at every tier before any extended query; base has no extended") {
    val a = Bench.parseArgs(Nil, 32, known)
    assert(a.isDefault && a.tiers == Seq(1, 100, 1000) && a.reps == 3 && !a.repsGiven)
    val js = Bench.jobs(a)
    val head = (1 to 10).map(i => s"q$i")
    val ext = (11 to 22).map(i => s"q$i")
    assert(js.take(30) == Seq(1, 100, 1000).flatMap(k => head.map(k -> _)))
    assert(js.drop(30) == Seq(100, 1000).flatMap(k => ext.map(k -> _)))
  }

  test("an explicit selection runs at every tier, headline first, prefixes expanded") {
    val a = Bench.parseArgs(Seq("--tiers", "10,100", "tpcds_*", "q3", "cb_x", "q3"), 4, known)
    assert(!a.isDefault && a.reps == 1 && a.names == Seq("tpcds_a", "tpcds_b", "q3", "cb_x"))
    assert(Bench.jobs(a) == Seq(10 -> "q3", 100 -> "q3") ++
      Seq(10, 100).flatMap(k => Seq("tpcds_a", "tpcds_b", "cb_x").map(k -> _)))
  }

  test("--reps and --explain parse; the default rep count follows the cores") {
    val a = Bench.parseArgs(Seq("--reps", "5", "--explain", "--tiers", "base", "q8"), 4, known)
    assert(a == Args(Seq(1), 5, repsGiven = true, explain = true, Seq("q8"), isDefault = false))
    assert(Bench.parseArgs(Nil, 16, known).reps == 3)
    assert(Bench.parseArgs(Nil, 15, known).reps == 1)
  }

  test("each argument error names its argument") {
    def err(args: String*): String =
      intercept[IllegalArgumentException](Bench.parseArgs(args, 32, known)).getMessage
    assert(err("q99").contains("'q99'"))
    assert(err("tpch_*").contains("'tpch_*'"))
    assert(err("--tiers", "base,1").contains("'1'"))
    assert(err("--tiers", "base,huge").contains("'huge'"))
    assert(err("--tiers", "").contains("''"))
    assert(err("--reps", "0").contains("'0'"))
    assert(err("--reps", "-2").contains("'-2'"))
    assert(err("--reps", "x").contains("'x'"))
    assert(err("--reps").contains("'--reps'"))
    assert(err("--budget", "10").contains("'--budget'"))
  }

  test("a query's result: median and min of ok reps, spread gate, failures") {
    val r = QRes(1, "q1", Seq(rep(10.0), rep(14.0), rep(11.0), rep(1.0, ok = false)))
    assert(r.ok && r.sec == 11.0 && r.min == 10.0 && r.spread == 4.0 && r.unstable)
    val steady = QRes(1, "q2", Seq(rep(10.0), rep(11.0), rep(12.0)))
    assert(!steady.unstable && steady.sec == 11.0)
    val dead = QRes(1, "q3", Seq(rep(3.0, ok = false), rep(2.0, ok = false)))
    assert(!dead.ok && dead.sec == 2.0 && !dead.unstable)
  }

  test("contended_queries judges every tier against the run's final best readings") {
    // the 0.08 s best calib and 50 GB/s best bw arrive in the LAST tier;
    // a 0.12 s / 30 GB/s reading is slow in both tiers alike
    val t100 = Seq(QRes(100, "q1", Seq(rep(5.0, calib = 0.12))),
      QRes(100, "q2", Seq(rep(5.0, calib = 0.09))),
      QRes(100, "q3", Seq(rep(5.0, bw = 30.0))))
    val t1000 = Seq(QRes(1000, "q1", Seq(rep(5.0, calib = 0.12))),
      QRes(1000, "q2", Seq(rep(5.0, calib = 0.08, bw = 50.0))),
      QRes(1000, "q3", Seq(rep(5.0, bw = 30.0))))
    val all = t100 ++ t1000
    assert(Bench.contendedNames(t100, all) == Seq("q1", "q3"))
    assert(Bench.contendedNames(t1000, all) == Seq("q1", "q3"))
    // one clean rep next to the query clears it: the verdict uses the best
    val cleared = QRes(100, "q4", Seq(rep(5.0, calib = 0.2), rep(5.0, calib = 0.09)))
    assert(Bench.contendedNames(Seq(cleared), all :+ cleared).isEmpty)
    // unstable reps are contended whatever the weather
    val swung = QRes(100, "q5", Seq(rep(10.0), rep(20.0)))
    assert(Bench.contendedNames(Seq(swung), Seq(swung)) == Seq("q5"))
  }

  test("weather ratios are worst over best, ignoring empty readings") {
    val reps = Seq(rep(1.0, calib = 0.10, bw = 40.0), rep(1.0, calib = 0.15, bw = 20.0),
      rep(1.0, calib = 0.0, bw = 0.0))
    val (bw, calib) = Bench.weather(reps)
    assert(bw.contains(0.5))
    assert(calib.exists(c => math.abs(c - 1.5) < 1e-12))
    assert(Bench.weather(Nil) == (None, None))
  }

  private val host = Host("/data/sf0.1", 4, 0.5, 0.7, "/tmp", 1.0)
  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(n: JsonNode): Set[String] = {
    val it = n.fieldNames(); val b = Set.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result()
  }

  test("a run without base or headline queries reports null headline totals, not 0") {
    val a = Bench.parseArgs(Seq("--tiers", "10", "tpcds_*"), 4, known)
    val rs = Seq(QRes(10, "tpcds_a", Seq(rep(3.0))), QRes(10, "tpcds_b", Seq(rep(5.0, ok = false))))
    val j = parse(Bench.report(a, rs, Seq("10/tpcds_a/reps"), k => 0.1 * k, Map.empty, host))
    assert(j.get("value").isNull && j.get("sec_per_gb").isNull)
    assert(j.get("queries").size == 0 && !j.has("scaled2"))
    val s = j.get("scaled")
    assert(s.get("k").asInt == 10 && s.get("extended").get("tpcds_a").asDouble == 3.0)
    assert(s.get("total_sec").isNull && s.get("sec_per_gb").isNull)
    assert(s.get("extended_failed").get(0).asText == "tpcds_b" && s.get("weather").has("bw_ratio"))
    assert(j.get("skipped").toString == """["reps_reduced_to_1","10/tpcds_a/reps"]""")
  }

  test("the default run's line carries every key of the previous harness's default line") {
    // key sets of the 8-core default line before the one-runner change
    val tierKeys = Set("contended_queries", "failed", "input_gb", "k", "over_budget", "queries",
      "reps", "sec_per_gb", "spread", "total_sec", "unstable")
    val topKeys = Set("bw_best_gbps", "bw_worst_gbps", "calib_best", "calib_worst", "contended",
      "contended_queries", "failed", "input_gb", "load_end", "load_start", "local_dir", "metric",
      "over_budget", "queries", "scaled", "scaled2", "sec_per_gb", "sf", "shm_free_gb", "skipped",
      "spread", "unit", "unstable", "value")
    val ext = Set("extended", "extended_failed", "extended_total_sec")
    val a = Bench.parseArgs(Nil, 8, known)
    val rs = Bench.jobs(a).map { case (k, n) => QRes(k, n, Seq(rep(math.max(1.0, k / 100.0)))) }
    val j = parse(Bench.report(a, rs, Nil, k => 0.014 * k, Map.empty, host.copy(cpus = 8)))
    assert(topKeys ++ Set("min", "weather") subsetOf keys(j))
    assert(j.get("value").asDouble == 10.0 && j.get("sec_per_gb").isNumber)
    for (t <- Seq("scaled", "scaled2"))
      assert(tierKeys ++ ext ++ Set("min", "extended_min", "weather") subsetOf keys(j.get(t)))
    assert(j.get("scaled2").get("k").asInt == 1000 && j.get("scaled2").get("total_sec").asDouble == 100.0)
  }
}
