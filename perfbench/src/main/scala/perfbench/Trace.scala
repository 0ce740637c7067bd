package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Whether a layer call builds a plan (work on the calling thread
  * before the result is forced) or executes one. */
sealed trait Phase { def tag: String }
case object Plan extends Phase { val tag = "plan" }
case object Exec extends Phase { val tag = "exec" }

/** Spans around the calls the benchmark makes into the engine. An op is
  * one timed operation of a workload (a query execution, a lake commit
  * or read, an ingest run); spans nest under the op that caused them. */
trait Tracer {
  def op[T](name: String, layer: String, round: Int)(body: => T): T
  def span[T](name: String, phase: Phase)(body: => T): T
  /** A frame a plan-building call returned: its eager analysis ran
    * inside that call, before any action the listener sees. */
  def frame(df: DataFrame): DataFrame = df
}

/** Untraced runs: no listener, no bookkeeping — the end-to-end numbers. */
object NoTrace extends Tracer {
  def op[T](name: String, layer: String, round: Int)(body: => T): T = body
  def span[T](name: String, phase: Phase)(body: => T): T = body
}

/** In-memory span recorder plus the two listeners that attribute engine
  * events to the op that was running when they happened:
  *
  *  - a SparkListener maps every job (and its stages and tasks) to the
  *    op and phase named in the job's local properties, which this
  *    tracer sets on the client thread around each call;
  *  - a QueryExecutionListener reads each action's Catalyst phase
  *    times from `qe.tracker`, attributed to the op whose wall window
  *    holds the end of the action's planning.
  *
  * Listener delivery is asynchronous; [[settle]] waits for the event
  * counters to stop moving before [[rollup]] reads them. */
final class SpanTracer(spark: SparkSession) extends Tracer {
  import SpanTracer._

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  val spans = ArrayBuffer[Span]()
  val ops = ArrayBuffer[OpRec]()
  private var stack: List[Int] = Nil
  private var curOp = -1

  private val sc = spark.sparkContext
  private val jobOwner = new ConcurrentHashMap[Int, (Int, String)]()
  private val stageOwner = new ConcurrentHashMap[Int, (Int, String)]()
  private val stageTasks =
    new ConcurrentHashMap[(Int, Int), TaskAgg]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[CatalystRec]()
  private val events = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val p = j.properties
      val owner =
        if (p == null || p.getProperty(OpKey) == null) (-1, "none")
        else (p.getProperty(OpKey).toInt, p.getProperty(PhaseKey, "none"))
      jobOwner.put(j.jobId, owner)
      j.stageInfos.foreach(s => stageOwner.putIfAbsent(s.stageId, owner))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      if (t.taskInfo == null || !t.taskInfo.finished || t.reason != Success ||
          t.taskMetrics == null) return
      val ms = t.taskMetrics.executorRunTime
      stageTasks.merge((t.stageId, t.stageAttemptId), TaskAgg(ms, ms, 1),
        (a, b) => TaskAgg(math.max(a.maxMs, b.maxMs), a.sumMs + b.sumMs,
          a.n + b.n))
      ()
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = s.stageInfo
      val m = i.taskMetrics
      val (op, phase) = stageOwner.getOrDefault(i.stageId, (-1, "none"))
      val tasks = stageTasks.getOrDefault((i.stageId, i.attemptNumber()),
        TaskAgg(0, 0, 0))
      stages.add(StageRec(i.stageId, i.attemptNumber(), op, phase,
        i.numTasks, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        tasks))
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      events.incrementAndGet()
      record(qe)
    }
    override def onFailure(fn: String, qe: QueryExecution,
                           e: Exception): Unit = {
      events.incrementAndGet()
      record(qe)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty)
      catalyst.add(CatalystRec(ph.values.map(_.startTimeMs).min,
        ph.values.map(_.endTimeMs).max, dur("analysis"),
        dur("optimization"), dur("planning")))
  }

  /** Only the returned frame's analysis is new here: its optimization
    * and planning, if any, run inside the action the listener reports. */
  override def frame(df: DataFrame): DataFrame = {
    df.queryExecution.tracker.phases.get("analysis").foreach { a =>
      catalyst.add(CatalystRec(a.startTimeMs, a.endTimeMs, a.durationMs, 0L, 0L))
    }
    df
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def op[T](name: String, layer: String, round: Int)(body: => T): T = {
    val id = ops.size
    val spanId = spans.size
    val t0 = System.nanoTime()
    spans += Span(spanId, name, t0, -1L, -1, id)
    ops += OpRec(id, name, layer, round, t0, -1L, spanId)
    curOp = id
    stack = spanId :: Nil
    sc.setLocalProperty(OpKey, id.toString)
    sc.setLocalProperty(PhaseKey, "none")
    try body
    finally {
      val t1 = System.nanoTime()
      spans(spanId) = spans(spanId).copy(endNs = t1)
      ops(id) = ops(id).copy(endNs = t1)
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
      stack = Nil
      curOp = -1
    }
  }

  def span[T](name: String, phase: Phase)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, System.nanoTime(), -1L, parent, curOp,
      phase.tag)
    stack = id :: stack
    sc.setLocalProperty(PhaseKey, phase.tag)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(PhaseKey,
        stack.headOption.map(spans(_).phase).getOrElse("none"))
    }
  }

  /** Wait until listener events stop arriving (asynchronous bus). */
  def settle(quietMs: Long = 300, timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && events.get != last) {
      last = events.get
      Thread.sleep(quietMs)
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The op a Catalyst action belongs to: the op whose wall window holds
    * the end of its planning (analysis of a memoized frame may predate
    * the op that finally executes it). */
  private def catalystOwner(c: CatalystRec): Int = {
    val t = msToNs(c.endMs)
    ops.find(o => t >= o.startNs - 1000000L && t <= o.endNs + 1000000L)
      .map(_.id).getOrElse(-1)
  }

  /** Everything the trace knows about one op. */
  def perOp(): Seq[OpStats] = {
    val st = stages.asScala.toSeq.groupBy(_.op)
    val jobsBy = jobOwner.values.asScala.toSeq.groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val cat = catalyst.asScala.toSeq.groupBy(catalystOwner)
    val spanBy = spans.groupBy(_.op)
    ops.toSeq.map { o =>
      val ss = spanBy.getOrElse(o.id, Seq.empty)
      def phaseNs(tag: String) =
        ss.filter(s => s.parent == o.spanId && s.phase == tag)
          .map(s => s.endNs - s.startNs).sum
      OpStats(o, phaseNs(Plan.tag) / 1e9, phaseNs(Exec.tag) / 1e9,
        jobsBy.getOrElse((o.id, Plan.tag), 0),
        jobsBy.filter(_._1._1 == o.id).values.sum,
        st.getOrElse(o.id, Seq.empty), cat.getOrElse(o.id, Seq.empty))
    }
  }

  /** Spans for the trace file: the harness's own spans plus Catalyst
    * phases and completed stages as children of their op. Times are
    * seconds since the tracer started. */
  def spanRecords(): Seq[Map[String, Any]] = {
    def rel(ns: Long) = (ns - originNs) / 1e9
    val own = spans.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name, "start" -> rel(s.startNs),
        "end" -> rel(s.endNs), "parent" -> s.parent, "op" -> s.op)
    }
    var next = spans.size
    val opSpan = ops.map(o => o.id -> o.spanId).toMap
    val cat = catalyst.asScala.toSeq.flatMap { c =>
      val op = catalystOwner(c)
      if (op < 0) None
      else {
        next += 1
        Some(Map("id" -> next, "name" -> "catalyst.action",
          "start" -> rel(msToNs(c.startMs)), "end" -> rel(msToNs(c.endMs)),
          "parent" -> opSpan(op), "op" -> op,
          "analysis_s" -> c.analysisMs / 1e3,
          "optimization_s" -> c.optimizationMs / 1e3,
          "planning_s" -> c.planningMs / 1e3))
      }
    }
    val stg = stages.asScala.toSeq.filter(_.op >= 0).map { s =>
      next += 1
      Map("id" -> next, "name" -> s"stage.${s.phase}",
        "start" -> rel(msToNs(s.submitMs)), "end" -> rel(msToNs(s.completeMs)),
        "parent" -> opSpan(s.op), "op" -> s.op, "stage" -> s.stageId,
        "tasks" -> s.numTasks)
    }
    own ++ cat ++ stg
  }
}

object SpanTracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, op: Int, phase: String = "op")
  final case class OpRec(id: Int, name: String, layer: String, round: Int,
                         startNs: Long, endNs: Long, spanId: Int) {
    def wallS: Double = (endNs - startNs) / 1e9
  }
  final case class TaskAgg(maxMs: Long, sumMs: Long, n: Long)
  final case class StageRec(stageId: Int, attempt: Int, op: Int,
                            phase: String, numTasks: Int, submitMs: Long,
                            completeMs: Long, runMs: Long, cpuNs: Long,
                            gcMs: Long, shuffleWrite: Long,
                            shuffleRead: Long, spill: Long, input: Long,
                            output: Long, tasks: TaskAgg)
  final case class CatalystRec(startMs: Long, endMs: Long, analysisMs: Long,
                               optimizationMs: Long, planningMs: Long)
  final case class OpStats(op: OpRec, planS: Double, execS: Double,
                           planJobs: Int, jobs: Int, stages: Seq[StageRec],
                           catalyst: Seq[CatalystRec])
}
