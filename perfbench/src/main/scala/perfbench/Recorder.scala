package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder: Spark's public listener interfaces only. Jobs,
  * stages (with their tasks' metrics summed) and query executions are kept
  * in memory and rendered as JSON when the run ends; the Python side
  * parents each to the op whose interval contains it. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val jobsStarted = new java.util.concurrent.atomic.AtomicInteger()
  private val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  private val qes = new ConcurrentLinkedQueue[String]()

  // task metric sums per stage attempt, in this order
  private val fields = Seq("tasks", "tasks_failed", "run_ms", "cpu_ns", "sched_delay_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
    "input_bytes", "input_records", "output_bytes", "busy_ms")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val ok = e.jobResult == JobSucceeded
    jobs.add(Json.obj("id" -> e.jobId, "start_ms" -> jobStart.getOrDefault(e.jobId, e.time),
      "end_ms" -> e.time, "ok" -> ok))
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](fields.size))
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val duration = i.finishTime - i.launchTime
    val run = g(_.executorRunTime)
    // Spark UI's scheduler delay: task wall time not spent deserialising,
    // running or shipping the result
    val delay = math.max(0L, duration - run - g(_.executorDeserializeTime) -
      g(_.resultSerializationTime) - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    val v = Array(1L, if (i.successful) 0L else 1L, run, g(_.executorCpuTime), delay,
      g(_.shuffleWriteMetrics.bytesWritten),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(_.shuffleReadMetrics.fetchWaitTime), g(_.diskBytesSpilled),
      g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead), g(_.outputMetrics.bytesWritten),
      duration)
    a.synchronized { for (k <- v.indices) a(k) += v(k) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val sums = Option(tasks.get((s.stageId, s.attemptNumber()))).getOrElse(new Array[Long](fields.size))
    stages.add(Json.obj(Seq(
      "id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "ok" -> s.failureReason.isEmpty) ++ fields.zip(sums.toSeq): _*))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val t = qe.tracker
    val phases = t.phases.toSeq.map { case (n, p) =>
      Map("name" -> n, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs) }
    val graftRules = t.rules.filter { case (n, _) => Recorder.graftRules.exists(n.contains) }.values
    val nodes = Recorder.allNodes(qe.executedPlan)
    // rows out of `p`; a node that does not count them passes on its inputs'
    def rows(p: SparkPlan): Long = p match {
      case q: QueryStageExec => rows(q.plan)
      case _ => p.metrics.get("numOutputRows").map(_.value).getOrElse(rowsIn(p))
    }
    def rowsIn(p: SparkPlan): Long = p.children.map(rows).sum
    def isBloom(e: Expression): Boolean = e.exists(_.getClass.getSimpleName.contains("Bloom"))
    val blooms = nodes.collect { case f: FilterExec if isBloom(f.condition) => f }
    val partials = nodes.collect {
      case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Partial) => h }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val joins = nodes.collect { case j: BaseJoinExec => j }
    qes.add(Json.obj(
      // this callback runs on the listener bus, possibly after later
      // queries; the end of planning, which the tracker stamps as the
      // query runs, is what places the execution in its op
      "planned_ms" -> (0L +: t.phases.values.map(_.endTimeMs).toSeq).max,
      "ok" -> ok, "phases" -> phases,
      "graft_rule_ns" -> graftRules.map(_.totalTimeNs).sum,
      "graft_rule_calls" -> graftRules.map(_.numInvocations).sum,
      "graft_rule_hits" -> graftRules.map(_.numEffectiveInvocations).sum,
      "files_read" -> scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      "bloom_in" -> blooms.map(rowsIn).sum, "bloom_out" -> blooms.map(rows).sum,
      "partial_in" -> partials.map(rowsIn).sum, "partial_out" -> partials.map(rows).sum,
      "join_rows_max" -> (0L +: joins.map(rows)).max,
      "single_pass" -> nodes.exists(_.getClass.getSimpleName.contains("SinglePass"))))
  }

  /** Wait (bounded) until every started job has ended and the listener
    * bus has gone quiet, so the last op's events are in. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(50)
      val n = jobsEnded.get + stages.size + qes.size
      if (jobsStarted.get == jobsEnded.get && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def json: String = Json.obj(
    "jobs" -> jobs.asScala.map(Json.raw),
    "stages" -> stages.asScala.map(Json.raw),
    "qes" -> qes.asScala.map(Json.raw))
}

object Recorder {
  val graftRules = Seq("FactBroadcastGuard", "EagerAggregationRule", "BloomPrefilterRule")

  /** Every node of an executed plan: through AQE wrappers and into
    * subquery plans (bloom builds run as subqueries). */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(allNodes)
  }
}
