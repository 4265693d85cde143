package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is 0 for a root span; `op` is the id
  * of the operation the span belongs to (0 outside any operation). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double])

/** In-memory span recorder for the traced run. Spans stay in memory and
  * are written out with the run's raw result when the run ends.
  *
  * The client loop is single-threaded and closed, and in a traced run it
  * drains Spark's listener bus after every operation before starting the
  * next one ([[closeOp]]). Listener events are therefore attributed to the
  * operation that is open while they are processed. Spans opened on other
  * threads (a streaming query's micro-batch thread) hang off the open
  * operation's root span. */
final class Tracer {
  @volatile var enabled: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  @volatile private var opId = 0L
  @volatile private var opRoot = 0L
  private var opStart = 0L
  private var opEnd = 0L
  private val counters = mutable.Map.empty[String, Double]

  /** Spark stamps job, stage and planning-phase times in epoch
    * milliseconds; this maps them onto the System.nanoTime axis. */
  private val epochOffsetNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  def newId(): Long = ids.incrementAndGet()
  def currentOp: Long = opId
  def currentRoot: Long = opRoot

  private def parentHere: Long = stack.get() match {
    case p :: _ => p
    case Nil => opRoot
  }

  def record(name: String, startNs: Long, endNs: Long,
             attrs: Map[String, Double] = Map.empty,
             parent: Long = -1L, id: Long = -1L): Unit =
    if (enabled) spans.add(Span(if (id > 0) id else newId(),
      if (parent >= 0) parent else parentHere, opId, name, startNs, endNs, attrs))

  /** Times `body` as a child of the innermost open span on this thread,
    * with attributes computed from its result. */
  def spanWith[A](name: String)(body: => A)(attrs: A => Map[String, Double]): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = parentHere
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      val out = try body finally stack.set(stack.get().tail)
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, opId, name, t0, t1, attrs(out)))
      out
    }

  def count(name: String, v: Double): Unit =
    if (enabled && opId != 0) counters.synchronized {
      counters(name) = counters.getOrElse(name, 0.0) + v
    }

  /** Opens operation `id`; its root span ends at [[endOp]] and is written
    * at [[closeOp]], carrying the counters collected in between. */
  def beginOp(id: Long): Unit = {
    opId = id
    counters.synchronized(counters.clear())
    if (enabled) {
      opRoot = newId()
      stack.set(opRoot :: Nil)
    }
    opStart = System.nanoTime()
  }

  def endOp(): Unit = {
    opEnd = System.nanoTime()
    stack.set(Nil)
  }

  def closeOp(): Unit = {
    if (enabled) {
      val attrs = counters.synchronized(counters.toMap)
      spans.add(Span(opRoot, 0L, opId, "op", opStart, opEnd, attrs))
    }
    opId = 0L
    opRoot = 0L
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))
}

/** Spark listener that turns jobs and stages into spans and sums task
  * metrics into the open operation's counters. */
final class ExecutionEvents(tracer: Tracer) extends SparkListener {
  private val jobs = mutable.Map.empty[Int, (Long, Long)] // job -> (span id, start)
  private val stageJob = mutable.Map.empty[Int, Long]     // stage -> job span id
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracer.currentOp != 0) {
      val id = tracer.newId()
      jobs(e.jobId) = (id, e.time)
      e.stageIds.foreach(s => stageJob(s) = id)
      tracer.count("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (id, start) =>
      tracer.record("exec.job", tracer.fromEpochMs(start),
        tracer.fromEpochMs(e.time), id = id, parent = tracer.currentRoot)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val start = stageSubmit.remove((si.stageId, si.attemptNumber()))
      .orElse(si.submissionTime)
    if (tracer.currentOp != 0) {
      tracer.count("stages", 1)
      for (s <- start; end <- si.completionTime)
        tracer.record("exec.stage", tracer.fromEpochMs(s), tracer.fromEpochMs(end),
          Map("tasks" -> si.numTasks.toDouble),
          parent = stageJob.getOrElse(si.stageId, tracer.currentRoot))
    }
    stageJob.remove(si.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (tracer.currentOp != 0) {
      tracer.count("tasks", 1)
      val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
      tracer.count("task_wait_ms", math.max(0L, e.taskInfo.launchTime - submit).toDouble)
      val m = e.taskMetrics
      if (m != null) {
        tracer.count("executor_cpu_ms", m.executorCpuTime / 1e6)
        tracer.count("input_bytes", m.inputMetrics.bytesRead.toDouble)
        tracer.count("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        tracer.count("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        tracer.count("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }
}

/** Query-execution listener: Catalyst phase spans from the planning
  * tracker, and the engine's scan counters from the executed plan. */
final class PlanningEvents(tracer: Tracer) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val scanKeys = Seq("graft_manifests_total", "graft_manifests_kept",
    "graft_files_planned", "graft_files_runtime_pruned",
    "graft_records_planned", "graft_bytes_planned")

  private def onQuery(qe: QueryExecution): Unit =
    if (tracer.currentOp != 0) {
      tracer.count("queries", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        tracer.record(s"catalyst.$phase", tracer.fromEpochMs(p.startTimeMs),
          tracer.fromEpochMs(p.endTimeMs), parent = tracer.currentRoot)
        tracer.count(s"catalyst_${phase}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
      }
      val scans = try collect(qe.executedPlan) {
        case s: BatchScanExec if s.metrics.contains("graft_files_planned") => s
      } catch { case _: Exception => Nil }
      scans.foreach { s =>
        tracer.count("scans", 1)
        scanKeys.foreach(k => tracer.count(k, s.metrics(k).value.toDouble))
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)
}
