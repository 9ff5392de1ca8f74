package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store, written out once at exit. A span has an id, a
  * parent id (-1: none, resolved later by time), a kind, a name, start and
  * end in epoch nanoseconds, and free-form attributes. Instant events are
  * spans with start == end. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def nextId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, kind: String, name: String,
          startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty): Unit =
    buf.add(Json(Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start" -> startNs, "end" -> endNs, "attrs" -> attrs)))

  /** Runs `body` as a span; returns its result and the span's duration. */
  def timed[T](parent: Long, kind: String, name: String)(body: Long => T): (T, Long) = {
    val id = nextId()
    val t0 = Clock.nowNs
    try {
      val r = body(id)
      val t1 = Clock.nowNs
      add(id, parent, kind, name, t0, t1)
      (r, t1 - t0)
    } catch { case e: Throwable =>
      add(id, parent, kind, name, t0, Clock.nowNs, Map("error" -> e.getClass.getName))
      throw e
    }
  }

  def writeTo(f: java.io.File): Unit = {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), UTF_8))
    try buf.asScala.foreach { line => w.write(line); w.write('\n') } finally w.close()
  }
}

/** Job groups the harness sets: "pb:<op span id>:<phase>". Streaming
  * queries set their own group (the run id), registered here by the
  * harness when it starts a stream. */
object Groups {
  private val streams = new ConcurrentHashMap[String, java.lang.Long]()
  def of(op: Long, phase: String): String = s"pb:$op:$phase"
  def registerStream(runId: String, op: Long): Unit = streams.put(runId, op)

  /** (op span id, phase) for a job group, or (-1, "") if unknown. */
  def resolve(group: String): (Long, String) =
    if (group == null) (-1L, "")
    else if (group.startsWith("pb:")) {
      val p = group.split(':')
      (p(1).toLong, p(2))
    } else Option(streams.get(group)).map(op => (op.longValue, "stream")).getOrElse((-1L, ""))
}

private final case class Job(span: Long, op: Long, phase: String, startNs: Long, stages: Int)

/** Scheduler, task, storage and AQE events → job and stage spans with
  * summed task metrics, storage samples and AQE instants. */
final class TraceListener(spans: Spans) extends SparkListener {
  private final class StageAcc {
    var tasks, wallMs, runMs, cpuNs, gcMs = 0L
    var shufWrite, shufWriteNs, shufRead, fetchWaitMs, spill, inBytes, outBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private val storedBytes = new AtomicLong(0)

  private def ms(t: Long): Long = t * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val (op, phase) = Groups.resolve(group)
    val id = spans.nextId()
    jobs.put(e.jobId, Job(id, op, phase, ms(e.time), e.stageIds.size))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      spans.add(j.span, j.op, "job", s"job ${e.jobId}", j.startNs, ms(e.time),
        Map("phase" -> j.phase, "stages" -> j.stages,
          "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
    a.synchronized {
      a.tasks += 1
      a.wallMs += e.taskInfo.duration
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufWriteNs += m.shuffleWriteMetrics.writeTime
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = Option(stageAcc.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageAcc)
    val parent = Option(stageJob.get(i.stageId)).map(_.longValue).getOrElse(-1L)
    val start = i.submissionTime.getOrElse(0L)
    spans.add(spans.nextId(), parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
      ms(start), ms(i.completionTime.getOrElse(start)),
      Map("tasks" -> a.tasks, "task_wall_ms" -> a.wallMs, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs, "shuffle_write" -> a.shufWrite,
        "shuffle_write_ns" -> a.shufWriteNs, "shuffle_read" -> a.shufRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill" -> a.spill, "input_bytes" -> a.inBytes,
        "output_bytes" -> a.outBytes))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val before = Option(blockBytes.put(key, now)).map(_.longValue).getOrElse(0L)
    if (now == 0L) blockBytes.remove(key)
    val total = storedBytes.addAndGet(now - before)
    val t = Clock.nowNs
    spans.add(spans.nextId(), -1L, "storage", key, t, t, Map("bytes" -> total))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate =>
      val t = Clock.nowNs
      spans.add(spans.nextId(), -1L, "aqe", "aqe update", t, t)
    case _ =>
  }
}

/** Catalyst phase times and write-command statistics per executed query. */
final class PlanListener(spans: Spans) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.isEmpty) return
    def dur(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).min
    val end = phases.values.map(_.endTimeMs).max
    val (files, bytes) = writeStats(qe)
    spans.add(spans.nextId(), -1L, "plan", funcName, start * 1000000L, end * 1000000L,
      Map("analysis_ms" -> dur("analysis"), "optimizer_ms" -> dur("optimization"),
        "physical_ms" -> dur("planning"), "files_written" -> files,
        "bytes_written" -> bytes))
  }

  /** (files, bytes) a write command in this execution reported. */
  private def writeStats(qe: QueryExecution): (Long, Long) = {
    var files, bytes = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: DataWritingCommandExec =>
          files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          bytes += w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ =>
      }
      (p.children ++ p.innerChildren.collect { case c: SparkPlan => c }).foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => }
    (files, bytes)
  }
}

/** Micro-batch progress spans: durations per trigger phase, state rows. */
final class StreamListener(spans: Spans) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp)
    val startNs = start.getEpochSecond * 1000000000L + start.getNano
    val (op, _) = Groups.resolve(p.runId.toString)
    spans.add(spans.nextId(), op, "progress", s"batch ${p.batchId}", startNs,
      startNs + d.getOrElse("triggerExecution", 0L) * 1000000L,
      Map("input_rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
  }
}
