package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own events for the traced run: SQL executions (whose
  * description is the short call site of the action that started them, and
  * whose initial plan names the file formats they scan),
  * jobs (tagged with the execution id and the benchmark op id through the
  * job's local properties), per-stage task metrics and Catalyst phase
  * times. Everything stays in memory and is dumped as JSON at exit; the
  * metric math lives in `perfbench/metrics.py`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val execs = new ConcurrentLinkedQueue[Json.Raw]
  private val execEnds = new ConcurrentLinkedQueue[Json.Raw]
  private val jobs = new ConcurrentLinkedQueue[Json.Raw]
  private val jobEnds = new ConcurrentLinkedQueue[Json.Raw]
  private val stages = new ConcurrentLinkedQueue[Json.Raw]
  private val queries = new ConcurrentLinkedQueue[Json.Raw]
  // per-stage task duration stats: (count, sum ms, max ms)
  private val taskStats = mutable.HashMap.empty[(Int, Int), (Long, Long, Long)]
  @volatile var openJobs = 0

  private def prop(p: Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.add(Json.obj("id" -> s.executionId, "desc" -> s.description,
        "scans" -> scanFormats(s.sparkPlanInfo).distinct, "t0" -> s.time))
    case s: SparkListenerSQLExecutionEnd =>
      execEnds.add(Json.obj("id" -> s.executionId, "t1" -> s.time))
    case _ =>
  }

  /** File formats read by a plan: a file scan node is named `Scan <format> `. */
  private def scanFormats(p: SparkPlanInfo): Seq[String] =
    (if (p.nodeName.startsWith("Scan ")) p.nodeName.split(' ').lift(1).toSeq
     else Nil) ++
      p.children.flatMap(scanFormats)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    openJobs += 1
    val exec = prop(j.properties, "spark.sql.execution.id")
    val op = prop(j.properties, Tracer.OpProperty)
    val firstStage = j.stageInfos.sortBy(_.stageId).headOption
      .map(_.name).orNull
    jobs.add(Json.obj("id" -> j.jobId, "t0" -> j.time,
      "exec" -> (if (exec == null) -1L else exec.toLong),
      "op" -> (if (op == null) -1L else op.toLong),
      "stage_name" -> firstStage,
      "stages" -> j.stageIds))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= 1
    jobEnds.add(Json.obj("id" -> j.jobId, "t1" -> j.time,
      "ok" -> (j.jobResult == JobSucceeded)))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val k = (t.stageId, t.stageAttemptId)
    val d = t.taskInfo.duration
    val (n, s, m) = taskStats.getOrElse(k, (0L, 0L, 0L))
    taskStats(k) = (n + 1, s + d, math.max(m, d))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = s.stageInfo
      val m = i.taskMetrics
      val (n, sum, max) =
        taskStats.remove((i.stageId, i.attemptNumber())).getOrElse((0L, 0L, 0L))
      stages.add(Json.obj("id" -> i.stageId, "tasks" -> i.numTasks,
        "t0" -> i.submissionTime.getOrElse(0L),
        "t1" -> i.completionTime.getOrElse(0L),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "in_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "in_records" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
        "out_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
        "out_records" ->
          (if (m == null) 0L else m.outputMetrics.recordsWritten),
        "shuffle_read" ->
          (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write" ->
          (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill" -> (if (m == null) 0L
          else m.memoryBytesSpilled + m.diskBytesSpilled),
        "task_n" -> n, "task_sum_ms" -> sum, "task_max_ms" -> max))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe, ok = false)

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val t0 = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val scans = scanNodes(qe.executedPlan)
    def metric(n: String): Long = scans.flatMap(_.metrics.get(n))
      .map(_.value).sum
    queries.add(Json.obj("t0" -> t0, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"),
      "scan_files" -> metric("numFiles"),
      "scan_rows" -> metric("numOutputRows")))
  }

  private def scanNodes(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
    case q: QueryStageExec => scanNodes(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other =>
      (other.children ++ other.subqueries).flatMap(scanNodes)
  }

  /** Waits (bounded) until every started job has ended, then renders. */
  def dump(timeoutMs: Long): Json.Raw = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (openJobs > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // let trailing stage and execution events land
    def arr(q: ConcurrentLinkedQueue[Json.Raw]) = q.asScala.toSeq
    Json.obj("execs" -> arr(execs), "exec_ends" -> arr(execEnds),
      "jobs" -> arr(jobs), "job_ends" -> arr(jobEnds),
      "stages" -> arr(stages), "queries" -> arr(queries))
  }
}

object Tracer {
  /** Local property carrying the benchmark op id into every job it starts. */
  val OpProperty = "perfbench.op"
}

/** Minimal JSON rendering; nested objects and arrays are [[Json.Raw]]. */
object Json {
  final case class Raw(json: String) { override def toString: String = json }

  def str(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case r: Raw => r.json
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case x => x.toString
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
