package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the per-layer counters and spans of a traced phase from
  * Spark's public listener APIs: task/stage/job events, the planning
  * tracker of every QueryExecution (materialized sub-jobs included, and
  * the DataFrame each op built), and streaming progress. Callbacks arrive on listener-bus threads; the
  * harness drains the bus after every op, so the events of op N are all
  * in before op N+1 starts and `op` attributes them correctly.
  *
  * Counter names are the benchmark's per-layer metric names; values are
  * totals over the phase (seconds, bytes or counts). Spans are kept raw
  * (op, layer, name, start/end in epoch ms, link ids) and parented by the
  * runner, which also owns the op-level spans they nest under. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var op: Int = -1
  private val counts = mutable.LinkedHashMap[String, Double]()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val leafStages = mutable.HashSet[Int]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private var stateRowsMax = 0.0

  // Events delivered before the first traced op (queued while the
  // listeners were off) belong to no traced op and are dropped.
  private def add(k: String, v: Double): Unit =
    if (op >= 0) counts(k) = counts.getOrElse(k, 0.0) + v

  private def span(layer: String, name: String, start: Double, end: Double,
      links: (String, Any)*): Unit =
    if (op >= 0) spans += (Map("op" -> op, "layer" -> layer, "name" -> name,
      "start" -> start, "end" -> end) ++ links)

  def snapshot(): (Map[String, Double], Seq[Map[String, Any]]) = synchronized {
    (counts.toMap + ("stream.state_rows" -> stateRowsMax), spans.toList)
  }

  // ---- planning (QueryExecutionListener) ----
  private val phaseMetric = Map(
    "analysis" -> "plans.analysis_s",
    "optimization" -> "plans.optimization_s",
    "planning" -> "plans.physical_s")

  // QueryExecutions whose phases are already counted (weak, identity keys)
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  private def onQe(qe: QueryExecution): Unit = synchronized {
    add("plans.query_executions", 1)
    addPhases(qe)
  }

  /** The planning phases of the DataFrame an op built. Its analysis runs
    * while the module builds it, in the DataFrame's own QueryExecution,
    * which the listener sees only if the module executed that DataFrame
    * itself; the result write plans a new QueryExecution around the
    * already analysed plan. Call after the bus is drained. */
  def built(qe: QueryExecution): Unit = synchronized { addPhases(qe) }

  private def addPhases(qe: QueryExecution): Unit = if (seen.add(qe)) {
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMetric.get(phase).foreach(add(_, s.durationMs / 1000.0))
      span("plans", phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
    qe.tracker.rules.foreach { case (rule, s) =>
      if (rule.startsWith("graft.")) {
        add("plans.graft_rules_s", s.totalTimeNs / 1e9)
        add("plans.graft_rule_invocations", s.numInvocations.toDouble)
        add("plans.graft_rule_effective", s.numEffectiveInvocations.toDouble)
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQe(qe)

  // ---- scheduling and execution (SparkListener) ----
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("exec.jobs", 1)
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t =>
      span("exec", "job", t.toDouble, e.time.toDouble, "job" -> e.jobId)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.parentIds.isEmpty) leafStages += e.stageInfo.stageId
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    add("exec.stages", 1)
    for (s <- si.submissionTime; c <- si.completionTime)
      span("exec", "stage", s.toDouble, c.toDouble,
        "job" -> stageJob.getOrElse(si.stageId, -1), "stage" -> si.stageId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime / 1000.0
      add("exec.task_run_s", run)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1000.0)
      add("exec.task_overhead_s", math.max(0.0, info.duration / 1000.0 - run))
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
      add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add("sources.input_records", m.inputMetrics.recordsRead.toDouble)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sink.output_records", m.outputMetrics.recordsWritten.toDouble)
      add("sink.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
    if (leafStages(e.stageId)) add("sources.scan_tasks", 1)
  }

  // ---- streaming progress (StreamingQueryListener) ----
  private val streamPhase = Map(
    "latestOffset" -> "stream.latest_offset_s",
    "getBatch" -> "stream.get_batch_s",
    "queryPlanning" -> "stream.query_planning_s",
    "addBatch" -> "stream.add_batch_s",
    "walCommit" -> "stream.wal_commit_s",
    "commitOffsets" -> "stream.commit_offsets_s",
    "triggerExecution" -> "stream.trigger_s")

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      add("stream.batches", 1)
      val d = p.durationMs.asScala
      d.foreach { case (k, v) => streamPhase.get(k).foreach(add(_, v / 1000.0)) }
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      add("stream.state_commit_s", ops.map(_.commitTimeMs).sum / 1000.0)
      stateRowsMax = math.max(stateRowsMax, ops.map(_.numRowsTotal).sum.toDouble)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      d.get("triggerExecution").foreach { t =>
        span("stream", "trigger", start, start + t.longValue, "batch" -> p.batchId)
      }
    }
  }
}
