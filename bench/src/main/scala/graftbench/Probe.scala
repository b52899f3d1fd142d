package graftbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Listener-side counters for the traced run: Spark jobs, stages and task
  * metrics from a `SparkListener`, Catalyst phase times from a
  * `QueryExecutionListener`. Read as deltas at span boundaries, after the
  * listener bus has been drained. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = Seq("jobs", "stages", "single_task_stages", "tasks", "task_run_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    .map(_ -> new AtomicLong).toMap
  private val maxTask = new AtomicLong
  /** Catalyst phases of finished query executions: (phase, startMs, endMs). */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c("stages").incrementAndGet()
    if (e.stageInfo.numTasks == 1) c("single_task_stages").incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c("tasks").incrementAndGet()
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      maxTask.accumulateAndGet(m.executorRunTime, math.max)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Current totals; `max_task_ms` is the longest task since the last call. */
  def take(): Map[String, Long] =
    c.map { case (k, v) => k -> v.get } + ("max_task_ms" -> maxTask.getAndSet(0L))

  def drainPhases(): Seq[(String, Long, Long)] =
    Iterator.continually(phases.poll()).takeWhile(_ != null).toSeq
}

/** One traced interval. Times are nanoseconds since the run's origin. */
final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
  var end: Long = start
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** In-memory span recorder for one client thread. Disabled, it records
  * nothing and `span` only runs its body. Spans are written out once, when
  * the run ends. */
final class Tracer(val runId: String) {
  val originNs: Long = System.nanoTime()
  val originMs: Long = System.currentTimeMillis()
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def now: Long = System.nanoTime() - originNs

  def open(name: String): Span = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, now)
    if (enabled) { spans += s; stack = s :: stack }
    s
  }

  def close(s: Span): Unit = {
    s.end = now
    if (enabled && stack.headOption.contains(s)) stack = stack.tail
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** A span known only by its bounds (a Catalyst phase from its tracker, an
    * asset build from its recorded seconds), clamped into `parent`. */
  def synthetic(parent: Span, name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val s = new Span(spans.size, parent.id, name, math.max(start, parent.start))
      s.end = math.max(s.start, math.min(end, parent.end))
      spans += s
    }

  /** Wall-clock milliseconds (a Catalyst tracker's clock) to span time. */
  def fromMillis(ms: Long): Long = (ms - originMs) * 1000000L

  def toJava: java.util.List[java.util.Map[String, Any]] = spans.map { s =>
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
    m.put("run", runId); m.put("start_ns", s.start); m.put("end_ns", s.end)
    s.attrs.foreach { case (k, v) => m.put(k, v) }
    m: java.util.Map[String, Any]
  }.asJava
}
