package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** The JVM side of the benchmark: sets the engine up, runs one workload
  * closed loop with a single client thread, and writes every op's timing
  * and result (and, traced, the listener records) to one JSON file. The
  * Python runner generates the inputs, checks the results and computes the
  * metrics.
  *
  * Usage: Harness workload=<name> data=<dir> tmp=<dir> out=<file>
  *   seconds=<n> trace=<0|1> cores=<n>
  */
object Harness {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L

  /** Epoch microseconds of a `System.nanoTime` reading. */
  private def us(ns: Long): Long = anchorUs + (ns - anchorNs) / 1000L
  private def now(): Long = us(System.nanoTime())

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads, JIT and GC included). Time
    * the hypervisor steals from the guest is not charged to it. */
  private def cpuNs(): Long = os.getProcessCpuTime

  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Heap in use right after a full collection, in MB. Collected twice,
    * so objects Spark's ContextCleaner releases after the first are gone. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val workload = Workloads(a("workload"), a("data"), a("tmp"))

    def runOp(spark: SparkSession, op: Op, ctx: Ctx, record: Boolean): String = {
      val c0 = if (record) compileNs() else 0L
      val g0 = if (record) gcMs() else 0L
      val t0 = now()
      val cpu0 = cpuNs()
      var cpu1 = cpu0
      var spans = Seq.empty[(String, Long, Long)]
      def span[T](name: String)(f: => T): T = {
        val s = now()
        try f finally spans :+= ((name, s, now()))
      }
      var cacheMb = 0.0
      val outcome = try {
        val v = span("ops.construct")(op.construct(spark, ctx))
        val out = span("engine.drain") {
          v match {
            case ds: Dataset[_] => (ds.columns.toSeq, ds.toDF().collect())
            case other => other
          }
        }
        if (record) cacheMb = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0
        span("ops.release")(graft.ops.Caches.releaseAll(blocking = true))
        cpu1 = cpuNs()
        val result = span("check") {
          out match {
            case (cols: Seq[_], rs: Array[Row]) => Json.obj("cols" -> cols, "rows" -> rs.map(_.toSeq))
            case rs: Array[Row] => Json.obj("rows" -> rs.map(_.toSeq))
            case x => Json.obj("value" -> x)
          }
        }
        "result" -> Json.raw(result)
      } catch {
        case e: Throwable =>
          try graft.ops.Caches.releaseAll(blocking = true) catch { case _: Throwable => () }
          cpu1 = cpuNs()
          "error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
      }
      val t1 = now()
      Json.obj(
        "name" -> op.name, "pass" -> ctx.pass, "traced" -> record, "start_us" -> t0, "end_us" -> t1,
        "spans" -> spans.map { case (n, s, e) => Map("name" -> n, "start_us" -> s, "end_us" -> e) },
        "compile_ms" -> (if (record) (compileNs() - c0) / 1e6 else 0.0),
        "gc_ms" -> (if (record) gcMs() - g0 else 0L),
        "cache_mb" -> cacheMb,
        "cpu_ms" -> (cpu1 - cpu0) / 1e6,
        outcome)
    }

    // --- set-up: session + one warm-up op, timed from JVM start
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val s0 = now()
    val spark = graft.Engine.session(a("cores"))
    val s1 = now()
    val warmup = Json.raw(runOp(spark, workload.warmup, new Ctx(-1), record = false))
    val s2 = now()
    val setup = Map("session_ms" -> (s1 - s0) / 1e3, "warmup_ms" -> (s2 - s1) / 1e3,
      "setup_s" -> (s2 - jvmStart) / 1e6)

    // a traced run starts with one untraced pass, then alternates traced
    // and untraced passes (at least one of each), so the tracing overhead
    // is measured inside one run between equally warm passes
    val recorder = if (trace) Some(new Recorder) else None
    def attach(on: Boolean): Unit = recorder.foreach { r =>
      if (on) { spark.sparkContext.addSparkListener(r); spark.listenerManager.register(r) }
      else { spark.sparkContext.removeSparkListener(r); spark.listenerManager.unregister(r) }
    }

    // --- measured window: whole passes until `seconds` have elapsed, and
    // at least the workload's pass count. That count outlasts the run
    // length the benchmark sets, so an untraced run measures the same
    // number of passes however fast the host is
    val heap = ArrayBuffer(liveHeapMb())
    val ops = ArrayBuffer.empty[String]
    val runStart = now()
    var pass = 0
    while (pass < math.max(workload.passes, if (trace) 3 else 1) ||
        now() - runStart < seconds * 1e6) {
      val ctx = new Ctx(pass)
      val traced = trace && pass % 2 == 1
      attach(traced)
      workload.ops.foreach(op => ops += runOp(spark, op, ctx, record = traced))
      if (traced) recorder.foreach(_.drain())
      attach(false)
      pass += 1
    }
    heap += liveHeapMb()

    val out = Json.obj(
      "passes" -> pass,
      "spark_version" -> spark.version,
      "local_dir" -> spark.conf.get("spark.local.dir", ""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> setup,
      "warmup" -> warmup,
      "live_heap_mb" -> heap.max,
      "oracle" -> workload.ops.flatMap(o => graft.SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap,
      "ops" -> ops.map(Json.raw),
      "listener" -> recorder.map(r => Json.raw(r.json)))
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.write(out) finally w.close()
    graft.ops.Caches.releaseAll(blocking = true)
    spark.stop()
  }
}
