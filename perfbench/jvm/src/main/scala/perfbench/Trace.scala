package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: run, setup, pass, query, build,
  * exec, an Engine call or a kernel probe. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startNs: Long, endNs: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  // Listener events carry epoch milliseconds; one anchor maps them onto
  // the nanoTime axis of the harness spans.
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  // open spans of the calling thread, innermost first
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** The innermost open span of the calling thread (0 at top level). */
  def current: Int = open.get.headOption.getOrElse(0)

  def timed[T](kind: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, kind, name, t0, System.nanoTime()))
      open.set(open.get.tail)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Job, stage and task figures from Spark's public listener API. Jobs
  * carry the job group the harness sets before each query, which is how
  * they are parented to the query's span. */
final class StageListener(tracer: Tracer) extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  // task metric slots, summed per stage attempt
  private val Fields = Seq("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
    "spill_mem_bytes", "spill_disk_bytes", "peak_exec_mem_bytes",
    "input_bytes", "input_rows", "task_wall_ms")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart.put(e.jobId, (e.time, group))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, group) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, ""))
    jobs.add(Map("id" -> e.jobId, "group" -> group,
      "start_ns" -> tracer.msToNs(t0), "end_ns" -> tracer.msToNs(e.time),
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = taskAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](Fields.size))
    val m = e.taskMetrics
    val info = e.taskInfo
    a.synchronized {
      a(0) += 1
      if (info != null && info.failed) a(1) += 1
      if (info != null) a(13) += info.duration
      if (m != null) {
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime
        a(4) += m.jvmGCTime
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.shuffleReadMetrics.fetchWaitTime
        a(8) += m.memoryBytesSpilled
        a(9) += m.diskBytesSpilled
        a(10) = math.max(a(10), m.peakExecutionMemory)
        a(11) += m.inputMetrics.bytesRead
        a(12) += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val a = Option(taskAgg.remove((si.stageId, si.attemptNumber())))
      .getOrElse(new Array[Long](Fields.size))
    val t0 = si.submissionTime.getOrElse(0L)
    val t1 = si.completionTime.getOrElse(t0)
    stages.add(Map("id" -> si.stageId, "attempt" -> si.attemptNumber(),
      "job" -> Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1),
      "start_ns" -> tracer.msToNs(t0), "end_ns" -> tracer.msToNs(t1),
      "failed" -> si.failureReason.isDefined) ++ Fields.zip(a.toSeq))
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.asScala.toSeq
  def stageRecords: Seq[Map[String, Any]] = stages.asScala.toSeq
}

/** Per-query planning time and plan shape from Spark's public
  * `QueryExecutionListener`. Every execution delivered while `current`
  * names a query belongs to it; the traced run drains the listener bus
  * before moving to the next query. */
final class PlanListener extends QueryExecutionListener {
  @volatile var current: String = ""
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val nodes = Plans.nodes(qe.executedPlan)
    recs.add(Map("query" -> current, "func" -> funcName, "ok" -> ok,
      "plan_ms" -> planMs,
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      "scans" -> nodes.count(n => n.children.isEmpty && n.nodeName.contains("Scan")),
      "floor_repartitions" -> nodes.count(Plans.isFloor)))
  }

  def records: Seq[Map[String, Any]] = recs.asScala.toSeq
}

object Plans {
  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (inner ++ p.children ++ p.subqueries).flatMap(nodes)
  }

  /** The scan-parallelism floor as seen from outside: a shuffle the user
    * asked for by partition count, directly over the documents scan. */
  def isFloor(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM =>
      scansBelow(s.child).exists(
        _.relation.location.rootPaths.exists(_.getName == "documents.parquet"))
    case _ => false
  }

  private def scansBelow(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case _: Exchange | _: QueryStageExec => Nil
    case _ => p.children.flatMap(scansBelow)
  }
}
