package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One materializing action seen by the QueryExecution listener: its
  * planning time (analysis + optimization + planning phases of the
  * plan's tracker), its execution time, and what its scans examined.
  */
final case class QeEvent(funcName: String, planMs: Double, execMs: Double,
    rowsExamined: Long, filesRead: Long, fileBytes: Long)

/** Spark task/stage/job counters attributed to one step through the job
  * group the tracer sets before the step runs.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
}

/** A timed interval: the root span of a step (layer "bench") or a child
  * span around one call into a graft layer.
  */
final case class Span(id: Int, parent: Int, step: Int, layer: String,
    name: String, startNs: Long, var endNs: Long = 0L)

/** One user step: what it was, how long it took, how many rows it
  * returned, and whether it (and its output check) succeeded.
  */
final class StepRec(val id: Int, val kind: String, val category: String,
    val unit: Int, val traced: Boolean) {
  var ms = 0.0
  var rows = 0L
  var ok = true
  var error: Option[String] = None
  val counters = new Counters
  val qe = ArrayBuffer.empty[QeEvent]
  val attrs = mutable.LinkedHashMap.empty[String, Double]

  def fail(why: String): Unit = {
    ok = false
    if (error.isEmpty) error = Some(why)
  }
}

/** Records steps always and, in a traced run, spans, Spark counters and
  * QueryExecution events. `active` switches tracing per unit of work (a
  * session, cycle or pass), so a traced run can compare traced and
  * untraced units and report the tracing overhead.
  */
final class Tracer(spark: SparkSession, val traceRun: Boolean) {
  @volatile var active = false
  var unit = 0
  val steps = ArrayBuffer.empty[StepRec]
  val spans = ArrayBuffer.empty[Span]

  private var stack: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, StepRec]()
  private val stageStep = new ConcurrentHashMap[Int, Int]()
  private val pendingQe = new ConcurrentLinkedQueue[QeEvent]()

  private val sparkListener = new SparkListener {
    private def stepOf(props: java.util.Properties): Option[StepRec] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("step-"))
        .flatMap(g => Option(byId.get(g.stripPrefix("step-").toInt)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      stepOf(e.properties).foreach { s =>
        s.counters.synchronized(s.counters.jobs += 1)
        e.stageIds.foreach(id => stageStep.put(id, s.id))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byId.get(stageStep.getOrDefault(e.stageInfo.stageId, -1))).foreach { s =>
        s.counters.synchronized(s.counters.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byId.get(stageStep.getOrDefault(e.stageId, -1))).foreach { s =>
        val m = e.taskMetrics
        val c = s.counters
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val c =
        try Tracer.scanCounts(qe.executedPlan)
        catch { case NonFatal(_) => ScanCounts(0L, 0L, 0L) }
      pendingQe.add(QeEvent(funcName, planMs, durationNs / 1e6, c.rows, c.files, c.bytes))
    }

  if (traceRun) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Run one timed step. The step's wall time covers `body` only. A
    * traced step drains the listener bus before it starts and after it
    * ends, both outside the timing, so every event of the step lands on
    * its record and none of an earlier (untraced) step's does.
    */
  def step[T](kind: String, category: String)(body: StepRec => T): Option[T] = {
    val rec = new StepRec(steps.length, kind, category, unit, active)
    val sc = spark.sparkContext
    if (active) {
      PerfbenchBus.drain(sc)
      pendingQe.clear()
      byId.put(rec.id, rec)
      sc.setJobGroup(s"step-${rec.id}", kind)
      stack = List(Span(spans.length, -1, rec.id, "bench", kind, System.nanoTime()))
      spans += stack.head
    }
    val t0 = System.nanoTime()
    val out =
      try Some(body(rec))
      catch { case NonFatal(e) =>
        rec.fail(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
      }
    rec.ms = (System.nanoTime() - t0) / 1e6
    if (active) {
      stack.head.endNs = System.nanoTime()
      stack = Nil
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      var e = pendingQe.poll()
      while (e != null) { rec.qe += e; e = pendingQe.poll() }
    }
    steps += rec
    out
  }

  /** A child span around one call into a graft layer (no-op untraced). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active || stack.isEmpty) body
    else {
      val s = Span(spans.length, stack.head.id, stack.head.step, layer, name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Self time per layer: each span's duration minus the part of it its
    * direct children cover, summed by layer.
    */
  def selfMsByLayer(): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.toSeq.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def close(): Unit = if (traceRun) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** What a plan's leaf scans examined: rows they produced, files their
  * file scans selected and those files' total size.
  */
final case class ScanCounts(rows: Long, files: Long, bytes: Long) {
  def +(o: ScanCounts): ScanCounts = ScanCounts(rows + o.rows, files + o.files, bytes + o.bytes)
}

object Tracer {
  /** Sum of the leaf scans' `numOutputRows`, `numFiles` and `filesSize`
    * metrics, descending into adaptive query stages. A reused exchange
    * is counted once, where it was first built.
    */
  def scanCounts(plan: SparkPlan): ScanCounts = plan match {
    case a: AdaptiveSparkPlanExec => scanCounts(a.executedPlan)
    case q: QueryStageExec => scanCounts(q.plan)
    case _: ReusedExchangeExec => ScanCounts(0L, 0L, 0L)
    case p if p.children.isEmpty =>
      def m(k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      ScanCounts(m("numOutputRows"), m("numFiles"), m("filesSize"))
    case p => p.children.map(scanCounts).foldLeft(ScanCounts(0L, 0L, 0L))(_ + _)
  }
}
