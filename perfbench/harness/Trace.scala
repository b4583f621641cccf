package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: `parent` is the id of the span that caused it
  * (0 for the run itself); all spans of a run share `Tracer.runId`. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    counts: Map[String, Long] = Map.empty)

/** Spans kept in memory and written out once, at the end of the run. When
  * disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Span]

  def nextId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.synchronized(spans += s)

  def span[T](name: String, parent: Int)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = nextId()
      val t0 = Harness.epochNanos()
      try body(id) finally add(Span(id, name, parent, t0, Harness.epochNanos()))
    }

  def toJson: Seq[Map[String, Any]] = spans.synchronized(spans.toList).map { s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
      (if (s.counts.isEmpty) Map.empty else Map("counts" -> s.counts))
  }
}

/** Task-level counters of one phase (a layer call of one query, or the
  * whole stream). */
final class TaskStats {
  var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spill, peakMem = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> runMs,
    "task_cpu_ms" -> cpuNs / 1e6, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "peak_exec_memory_bytes" -> peakMem)
}

/** The benchmark's SparkListener: attributes every job, stage and task to
  * the phase named by the `perfbench.phase` local property of the thread
  * that submitted it, and records one span per job under the span named by
  * `perfbench.span`. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  val byPhase = new ConcurrentHashMap[String, TaskStats]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long, Int)]()

  private def stats(phase: String): TaskStats =
    byPhase.computeIfAbsent(phase, _ => new TaskStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val phase = prop("perfbench.phase").getOrElse("other")
    e.stageIds.foreach(stagePhase.put(_, phase))
    val s = stats(phase)
    s.synchronized(s.jobs += 1)
    jobStart.put(e.jobId, (prop("perfbench.span").map(_.toInt).getOrElse(0), e.time,
      e.stageInfos.map(_.numTasks).sum))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (parent, t0, tasks) =>
      tracer.add(Span(tracer.nextId(), "job", parent, t0 * 1000000L, e.time * 1000000L,
        Map("job_id" -> e.jobId.toLong, "planned_tasks" -> tasks.toLong)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stats(stagePhase.getOrDefault(e.stageInfo.stageId, "other"))
    s.synchronized(s.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stagePhase.getOrDefault(e.stageId, "other"))
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

object LayerListener {
  /** Marks the current thread's jobs as belonging to `phase`, under span
    * `span`. Child threads (a stream's execution thread) inherit it. */
  def mark(sc: SparkContext, phase: String, span: Int): Unit = {
    sc.setLocalProperty("perfbench.phase", phase)
    sc.setLocalProperty("perfbench.span", span.toString)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
}

/** The benchmark's StreamingQueryListener: one span per trigger. */
final class ProgressListener(tracer: Tracer, parent: Int) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp)
    val startNs = start.getEpochSecond * 1000000000L + start.getNano
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    tracer.add(Span(tracer.nextId(), "trigger", parent, startNs, startNs + dur * 1000000L,
      Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows)))
  }
}
