package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Spans of one operation share `op`, which is
  * also the Spark job group the harness sets for it. */
final case class Span(id: Long, parent: Long, op: String, kind: String, name: String,
    startMs: Long, endMs: Long)

/** What the listeners saw inside one named step of an operation (the
  * builder call, the action, one sink, or a streaming trigger). */
final class StepStats {
  var recordsWritten = 0L
  val stageRecordsRead = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  /** rows read by the step's biggest scan stage (a broadcast side is smaller) */
  def scanRecords: Long = stageRecordsRead.values.maxOption.getOrElse(0L)
  var lastTaskEndMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Counters and times the listeners attribute to one operation. */
final class OpStats(val id: String, val kind: String, val name: String) {
  var wallMs = 0.0
  var ok = true
  var spanId = 0L
  val stepMs = mutable.LinkedHashMap.empty[String, Double]
  val stepEndMs = mutable.Map.empty[String, Long]
  val steps = mutable.Map.empty[String, StepStats]
  def step(s: String): StepStats = steps.getOrElseUpdate(s, new StepStats)
  var buildJobs = 0
  var analysisMs, optimizationMs, planningMs = 0.0
  var jobs, stages, tasks = 0
  var runMs, cpuMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill, inputBytes, outputBytes = 0L
  /** slowest over median task duration, worst stage with at least two tasks */
  var worstSkew = 0.0
  var triggers = 0
  val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** per stream query: (rows, memory bytes, RocksDB SST bytes) of the last
    * state-store snapshot seen in this operation */
  val state = mutable.Map.empty[String, (Long, Long, Long)]
  var stateUpdated, stateRemoved = 0L
  var stateCommitMs = 0.0

  def jobBusyMs(steps: Iterable[StepStats] = this.steps.values): Double =
    Tracer.unionMs(steps.flatMap(_.jobIntervals))
}

/** Collects spans and per-operation counters from the three listener kinds.
  * The harness marks the current operation; events arriving while it is
  * current are attributed to it (the harness drains the bus before moving
  * on). Events of a streaming query go to the last feed of that query, since
  * a no-data batch may still run after the feed's drain returned. Events
  * outside any operation (set-up, warm-up) are dropped. */
final class Tracer {
  @volatile private var current: OpStats = null
  private val streamOwner = new java.util.concurrent.ConcurrentHashMap[String, OpStats]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stageOwner = mutable.Map.empty[Int, (OpStats, String, Long)]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobOwner = mutable.Map.empty[Int, (OpStats, String, Long, Long)]

  def span(parent: Long, op: String, kind: String, name: String, s: Long, e: Long): Long =
    synchronized { nextId += 1; spans += Span(nextId, parent, op, kind, name, s, e); nextId }

  def begin(op: OpStats, startMs: Long): Unit = synchronized {
    current = op
    op.spanId = span(0, op.id, "op", op.kind + ":" + op.name, startMs, startMs)
  }

  def end(op: OpStats, endMs: Long): Unit = synchronized {
    setEnd(op.spanId, endMs)
    current = null
  }

  /** Route later events of streaming query `queryId` to `op`. */
  def own(queryId: String, op: OpStats): Unit = streamOwner.put(queryId, op)

  def stepSpan(op: OpStats, step: String, s: Long, e: Long): Unit =
    span(op.spanId, op.id, "step", step, s, e)

  private def setEnd(id: Long, endMs: Long): Unit = {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(endMs = endMs)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private[perfbench] def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .flatMap(q => Option(streamOwner.get(q))).getOrElse(current)
    if (op != null) {
      val step = props.flatMap(p => Option(p.getProperty(Tracer.StepKey))).getOrElse("stream")
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(op.id)
      op.jobs += 1
      if (step == "build") op.buildJobs += 1
      val sid = span(op.spanId, group, "job", s"job ${e.jobId} ($step)", e.time, e.time)
      jobOwner(e.jobId) = (op, step, e.time, sid)
      e.stageIds.foreach(st => stageOwner(st) = (op, step, sid))
    }
  }

  private[perfbench] def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (op, step, start, sid) =>
      op.step(step).jobIntervals += ((start, e.time))
      setEnd(sid, e.time)
    }
  }

  private[perfbench] def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (op, step, _) =>
      val m = e.taskMetrics
      op.tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val st = op.step(step)
      st.lastTaskEndMs = math.max(st.lastTaskEndMs, e.taskInfo.finishTime)
      if (m != null) {
        op.runMs += m.executorRunTime
        op.cpuMs += m.executorCpuTime / 1e6
        op.gcMs += m.jvmGCTime
        op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        op.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        op.inputBytes += m.inputMetrics.bytesRead
        op.outputBytes += m.outputMetrics.bytesWritten
        st.stageRecordsRead(e.stageId) += m.inputMetrics.recordsRead
        st.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private[perfbench] def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.remove(info.stageId).foreach { case (op, _, jobSpan) =>
      op.stages += 1
      span(jobSpan, op.id, "stage", s"stage ${info.stageId} (${info.numTasks} tasks)",
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
      stageTasks.remove(info.stageId).filter(_.size >= 2).foreach { d =>
        val sorted = d.sorted
        val median = math.max(sorted(sorted.size / 2), 1L)
        op.worstSkew = math.max(op.worstSkew, sorted.last.toDouble / median)
      }
    }
  }

  private[perfbench] def onPlanned(qe: QueryExecution): Unit = synchronized {
    val op = current
    if (op != null) {
      qe.tracker.phases.foreach { case (phase, p) =>
        val ms = (p.endTimeMs - p.startTimeMs).toDouble
        phase match {
          case "analysis" => op.analysisMs += ms
          case "optimization" => op.optimizationMs += ms
          case "planning" => op.planningMs += ms
          case _ =>
        }
        span(op.spanId, op.id, "catalyst", phase, p.startTimeMs, p.endTimeMs)
      }
    }
  }

  private[perfbench] def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Unit = synchronized {
    val op = Option(streamOwner.get(p.id.toString)).getOrElse(current)
    if (op != null) {
      op.triggers += 1
      p.durationMs.asScala.foreach { case (k, v) => op.phaseMs(k) += v.doubleValue }
      val endMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      span(op.spanId, op.id, "trigger", s"${p.name} batch ${p.batchId}",
        java.time.Instant.parse(p.timestamp).toEpochMilli, endMs)
      p.stateOperators.foreach { s =>
        s.customMetrics.asScala.foreach { case (k, v) =>
          if (k.startsWith("rocksdbCommit")) op.phaseMs(k) += v.doubleValue }
        op.stateUpdated += s.numRowsUpdated
        op.stateRemoved += s.numRowsRemoved
        op.stateCommitMs += s.commitTimeMs
      }
      if (p.stateOperators.nonEmpty) {
        val ops = p.stateOperators
        def custom(k: String) = ops.map(s =>
          Option(s.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
        op.state(p.name) = (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          custom("rocksdbSstFileSize"))
      }
    }
  }
}

object Tracer {
  /** Local property naming the step of an operation a Spark job belongs to. */
  val StepKey = "perfbench.step"

  @volatile var active: Tracer = null

  /** Spark conf entries that register the three listeners on every session
    * the program creates, including its child sessions. */
  def confs: Map[String, String] = Map(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressListener].getName)

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Iterable[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }
}

class JobListener(conf: SparkConf) extends SparkListener {
  private def t = Tracer.active
  override def onJobStart(e: SparkListenerJobStart): Unit = if (t != null) t.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (t != null) t.onJobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (t != null) t.onTaskEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (t != null) t.onStageCompleted(e)
}

class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Tracer.active != null) Tracer.active.onPlanned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Tracer.active != null) Tracer.active.onPlanned(qe)
}

class ProgressListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Tracer.active != null) Tracer.active.onProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
