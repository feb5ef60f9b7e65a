package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval at a layer boundary. `op` is the id of the
  * operation's root span, shared by every span of that operation. The
  * counters are the Spark work of the jobs submitted while the span was
  * the innermost one on the submitting thread. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int) {
  var start, end = 0.0
  @volatile var jobs, stages, tasks, failedTasks = 0L
  @volatile var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  @volatile var inBytes, inRecords, outBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "op" -> op, "parent" -> parent,
    "start_s" -> start, "end_s" -> end, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_run_ms" -> runMs,
    "task_cpu_ns" -> cpuNs, "task_gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> inBytes,
    "input_records" -> inRecords, "output_bytes" -> outBytes)
}

/** Per-operation facts only the listeners know: planning phase times and
  * custom exec nodes of its query executions, and how long at least one
  * task was running. */
final case class OpTrace(op: Int, queries: Int, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, customExecNodes: Int,
    busyS: Double, marks: Seq[(String, Double)])

/** The traced run's recorder: spans kept in memory, a SparkListener and a
  * QueryExecutionListener registered on the session. Spans carry their id
  * in the Spark local property `perfbench.span`, so jobs are attributed to
  * the innermost span of the thread that submitted them (local properties
  * are inherited by the threads a span starts, e.g. the bulk sink pool). */
final class Tracer(spark: SparkSession, clock: () => Double) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicInteger(0)
  private val current = new InheritableThreadLocal[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val taskIntervals = new ConcurrentLinkedQueue[(Int, Long, Long)]
  private val queries = new ConcurrentLinkedQueue[(Long, Long, Long, Int)]
  private val marks = new ConcurrentLinkedQueue[(Int, String, Double)]
  @volatile private var opSpan: Span = _
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpTrace]

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(id => byId.get(id.toInt)).orNull match {
      case null => opSpan
      case s => s
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        s.jobs += 1
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
        }
        taskIntervals.add((s.op, e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = try customNodes(qe.executedPlan) catch { case _: Exception => 0 }
      queries.add((ms("analysis"), ms("optimization"), ms("planning"), nodes))
    }
  }

  /** Registers the listeners for one traced operation; [[endOp]]
    * removes them, so untraced operations run without them. */
  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Runs `body` as a span named `name`, a child of the thread's current
    * span (or a new operation's root span when there is none). */
  def span[T](name: String)(body: => T): T = {
    val parent = current.get
    val id = nextId.incrementAndGet()
    val s = new Span(id, name, if (parent == null) id else parent.op,
      if (parent == null) 0 else parent.id)
    byId.put(id, s)
    if (parent == null) opSpan = s
    val prop = sc.getLocalProperty(SpanProp)
    current.set(s)
    sc.setLocalProperty(SpanProp, id.toString)
    s.start = clock()
    try body
    finally {
      s.end = clock()
      current.set(parent)
      sc.setLocalProperty(SpanProp, prop)
      spans.synchronized(spans += s)
    }
  }

  /** An instant event of the current operation (sink start and end). */
  def mark(name: String): Unit = {
    val s = current.get
    marks.add((if (s == null) 0 else s.op, name, clock()))
  }

  /** Closes the bookkeeping of the operation whose root span just ended:
    * waits for its listener events, removes the listeners, then folds the
    * events into an [[OpTrace]]. */
  def endOp(startMs: Long, endMs: Long): Unit = {
    val root = opSpan
    ListenerBusDrain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    val qs = drain(queries)
    val busy = drain(taskIntervals).filter(_._1 == root.id)
      .map { case (_, a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busyMs = 0L
    var reach = Long.MinValue
    busy.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) busyMs += b - from
      reach = math.max(reach, b)
    }
    val ms = drain(marks).filter(_._1 == root.id).map(m => (m._2, m._3))
    ops += OpTrace(root.id, qs.size, qs.map(_._1).sum, qs.map(_._2).sum,
      qs.map(_._3).sum, qs.map(_._4).sum, busyMs / 1000.0, ms)
    opSpan = null
  }

  private def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
    val out = mutable.ArrayBuffer.empty[A]
    var a = q.poll()
    while (a != null) { out += a; a = q.poll() }
    out.toSeq
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val CustomExecs = Set("TopKPerGroupExec", "AsOfJoinExec")

  /** Custom exec nodes in an executed plan, looking through adaptive
    * plans, query stages and subqueries. */
  def customNodes(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => customNodes(a.executedPlan)
    case q: QueryStageExec => customNodes(q.plan)
    case p =>
      (if (CustomExecs(p.getClass.getSimpleName)) 1 else 0) +
        p.children.map(customNodes).sum + p.subqueries.map(customNodes).sum
  }

  /** The no-op stand-in of the untraced run. */
  def spanOrRun[T](t: Option[Tracer], name: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name)(body)
      case None => body
    }
}
