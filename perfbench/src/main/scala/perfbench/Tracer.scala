package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one run share the run's trace file;
  * `parent` links a span to the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

/** Counters of one query execution, filled from listener events. */
final class LayerCounters {
  var jobs, buildJobs, stages, tasks = 0L
  var taskWaitMs, runMs, cpuNs, gcMs, deserMs = 0L
  var scanBytes, scanRows, outputBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
  var spillMemoryBytes, spillDiskBytes, peakExecutionBytes = 0L
  var actions, observedActions, analysisMs, optimizationMs, planningMs,
    planNodes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Length of the union of the job spans, in ms. */
  def jobUnionMs: Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
    "tasks" -> tasks, "job_union_ms" -> jobUnionMs,
    "task_wait_ms" -> taskWaitMs, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "deser_ms" -> deserMs,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "output_bytes" -> outputBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_memory_bytes" -> spillMemoryBytes,
    "spill_disk_bytes" -> spillDiskBytes,
    "peak_execution_bytes" -> peakExecutionBytes, "actions" -> actions,
    "observed_actions" -> observedActions, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "plan_nodes" -> planNodes)
}

/** Listener-side tracing, attached only in traced runs. The harness tags
  * every job with the local property `perfbench.query` (and
  * `perfbench.phase`: build or action), and drains the listener bus after
  * each query, so SQL and streaming events, which carry no job
  * properties, belong to the query that was current while they arrived.
  * Spans are kept in memory and written out when the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val nextId = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[String, LayerCounters]
  private val spanOfKey = mutable.HashMap.empty[String, Long]
  @volatile private var current: String = null

  private val jobKey = mutable.HashMap.empty[Int, String]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val jobSpanId = mutable.HashMap.empty[Int, Long]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  def newId(): Long = nextId.incrementAndGet()

  def addSpan(s: Span): Unit = synchronized { spans += s }

  /** Start attributing events to query execution `key`, under span `spanId`. */
  def begin(key: String, spanId: Long): Unit = synchronized {
    counters(key) = new LayerCounters
    spanOfKey(key) = spanId
    current = key
  }

  /** Stop attributing SQL events; call only after draining the bus. */
  def end(): Unit = synchronized { current = null }

  def countersFor(key: String): LayerCounters = synchronized { counters(key) }

  private def countersOf(key: String): Option[LayerCounters] =
    Option(key).flatMap(counters.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val key = props.map(_.getProperty(QueryProperty)).orNull
    countersOf(key).foreach { c =>
      c.jobs += 1
      if (props.exists(_.getProperty(PhaseProperty) == "build")) c.buildJobs += 1
      jobKey(e.jobId) = key
      jobStartMs(e.jobId) = e.time
      jobSpanId(e.jobId) = newId()
      e.stageIds.foreach { s =>
        stageKey.getOrElseUpdate(s, key)
        stageJob.getOrElseUpdate(s, e.jobId)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { key =>
      val start = jobStartMs.remove(e.jobId).get
      counters(key).jobSpans += (start -> e.time)
      spans += Span(jobSpanId.remove(e.jobId).get, spanOfKey(key),
        "scheduler.job", start.toDouble, e.time.toDouble,
        Map("job_id" -> e.jobId))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      countersOf(stageKey.getOrElse(info.stageId, null)).foreach { c =>
        c.stages += 1
        for (s <- info.submissionTime; end <- info.completionTime)
          spans += Span(newId(),
            stageJob.get(info.stageId).flatMap(jobSpanId.get)
              .getOrElse(spanOfKey(stageKey(info.stageId))),
            "scheduler.stage", s.toDouble, end.toDouble,
            Map("stage_id" -> info.stageId, "tasks" -> info.numTasks))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    countersOf(stageKey.getOrElse(e.stageId, null)).foreach { c =>
      c.tasks += 1
      stageSubmitMs.get(e.stageId).foreach { s =>
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillMemoryBytes += m.memoryBytesSpilled
        c.spillDiskBytes += m.diskBytesSpilled
        c.peakExecutionBytes = math.max(c.peakExecutionBytes, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    countersOf(current).foreach { c =>
      c.actions += 1
      if (qe.observedMetrics.nonEmpty) c.observedActions += 1
      val phases = qe.tracker.phases
      def phase(name: String, add: Long => Unit): Unit =
        phases.get(name).foreach { p =>
          add(p.durationMs)
          spans += Span(newId(), spanOfKey(current), s"sql.$name",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble,
            Map("action" -> funcName))
        }
      phase("analysis", c.analysisMs += _)
      phase("optimization", c.optimizationMs += _)
      phase("planning", c.planningMs += _)
      c.planNodes += qe.optimizedPlan.collect { case n => n }.size
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Tracer {
  val QueryProperty = "perfbench.query"
  val PhaseProperty = "perfbench.phase"
}

/** Streaming progress events of the traced run, per stream query name. */
final class StreamTracer extends StreamingQueryListener {
  private val progress =
    mutable.HashMap.empty[String, mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]]
  private val terminated = mutable.HashSet.empty[String]
  private val names = mutable.HashMap.empty[String, String]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized { names(e.id.toString) = e.name }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      progress.getOrElseUpdate(e.progress.name, mutable.ArrayBuffer.empty) += e
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { names.get(e.id.toString).foreach(terminated += _) }

  def isTerminated(name: String): Boolean = synchronized { terminated(name) }

  def progressOf(name: String): Seq[StreamingQueryListener.QueryProgressEvent] =
    synchronized { progress.getOrElse(name, Nil).toSeq }
}
