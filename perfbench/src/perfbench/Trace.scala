package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. `parent` is the id of the span that caused it (-1 for
  * the run). Times are wall-clock epoch nanoseconds so spans recorded by
  * Spark listeners (epoch millis) line up with spans timed here.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, endNs: Long, counts: Map[String, Any])

/** In-memory span store. Spans are kept until the run ends and written once
  * with `dump`. A disabled tracer records nothing and attaches no listener,
  * which is how the untraced runs measure the end-to-end metrics.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1

  private def epochNs: Long = System.currentTimeMillis() * 1000000L +
    (System.nanoTime() % 1000000L + 1000000L) % 1000000L

  val runId = 0
  private val runStart = epochNs

  def now: Long = epochNs

  def add(parent: Int, name: String, kind: String, startNs: Long, endNs: Long,
      counts: Map[String, Any] = Map.empty): Int = synchronized {
    if (!enabled) -1
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, kind, startNs, endNs, counts)
      id
    }
  }

  /** Time `f` as a phase span under the run and tag every Spark job it
    * starts (also from stream threads it creates) with the phase name.
    */
  def phase[T](spark: SparkSession, name: String)(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.PhaseKey)
    sc.setLocalProperty(Tracer.PhaseKey, name)
    val t0 = System.nanoTime()
    val s0 = now
    try {
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] phase $name%s: $sec%.2f s")
      add(runId, name, "phase", s0, now)
      (r, sec)
    } finally sc.setLocalProperty(Tracer.PhaseKey, prev)
  }

  def phaseIds: Map[String, Int] = synchronized {
    spans.filter(_.kind == "phase").map(s => s.name -> s.id).toMap
  }

  def dump(path: String, extra: Map[String, Any]): Unit = synchronized {
    val all = Span(runId, -1, "run", "run", runStart, epochNs, Map.empty) +: spans.toSeq
    Json.writeFile(path, extra ++ Map("spans" -> all.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "dur_ms" -> (s.endNs - s.startNs) / 1e6, "counts" -> s.counts))))
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  /** Local properties Spark sets on the jobs of a micro-batch. */
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"
}

/** Stage and task metrics from Spark's own listener bus, attributed to the
  * phase (and micro-batch) that started each job.
  */
final case class JobRec(jobId: Int, phase: String, batchId: Long, queryId: String,
    group: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])

final case class StageRec(stageId: Int, name: String, startMs: Long, endMs: Long,
    tasks: Int, runMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, outBytes: Long, outRecords: Long, inBytes: Long)

final class StageListener extends SparkListener {

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val taskDurations = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop(Tracer.PhaseKey).getOrElse(""),
      prop(Tracer.BatchIdKey).map(_.toLong).getOrElse(-1L),
      prop(Tracer.QueryIdKey).getOrElse(""),
      prop("spark.jobGroup.id").getOrElse(""),
      e.time, -1L, e.stageIds)
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages(i.stageId) = StageRec(i.stageId, i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      m.map(_.outputMetrics.recordsWritten).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L))
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until the asynchronous listener bus has delivered everything. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def open = synchronized { jobs.values.count(_.endMs < 0) }
    while (System.currentTimeMillis() < deadline &&
        (open > 0 || System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(20)
  }

  def jobsOf(phase: String): Seq[JobRec] = synchronized { jobs.values.filter(_.phase == phase).toSeq }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  /** max / median task duration of a stage (1.0 when it ran one task). */
  def skew(stageId: Int): Double = synchronized {
    val d = taskDurations.getOrElse(stageId, mutable.ArrayBuffer[Long]()).sorted
    if (d.isEmpty) 1.0
    else {
      val med = math.max(1L, d(d.length / 2))
      d.last.toDouble / med
    }
  }

  /** Add job and stage spans under the phase/batch spans already recorded. */
  def emitSpans(tr: Tracer, parentOf: JobRec => Int): Unit = synchronized {
    jobs.values.foreach { j =>
      val jid = tr.add(parentOf(j), s"job-${j.jobId}", "job", j.startMs * 1000000L,
        math.max(j.endMs, j.startMs) * 1000000L,
        Map("batch_id" -> j.batchId, "group" -> j.group))
      j.stageIds.flatMap(stages.get).foreach { s =>
        tr.add(jid, s"stage-${s.stageId}", "stage", s.startMs * 1000000L, s.endMs * 1000000L,
          Map("tasks" -> s.tasks, "executor_run_ms" -> s.runMs,
            "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
            "spill_bytes" -> s.spill, "output_bytes" -> s.outBytes,
            "output_records" -> s.outRecords, "input_bytes" -> s.inBytes,
            "task_skew" -> skew(s.stageId), "name" -> s.name))
      }
    }
  }
}

/** Streaming progress as Spark's listener bus delivers it, per query run. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress; () }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized { progress.filter(_.runId == runId).toSeq }
}

object Progress {
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** The engine's own micro-batch decomposition, in execution order. */
  val Steps = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def epochMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  /** A micro-batch span with one child per engine step. Spark reports step
    * durations only, so children are laid end to end from the trigger start
    * in the order MicroBatchExecution runs them (`synthetic_start`).
    */
  def emit(tr: Tracer, parent: Int, p: StreamingQueryProgress,
      extraCounts: Map[String, Any] = Map.empty): Int = {
    val start = epochMs(p) * 1000000L
    val total = dur(p, "triggerExecution")
    val counts = Map[String, Any]("batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "late_rows_dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum) ++ extraCounts
    val id = tr.add(parent, s"batch-${p.batchId}", "micro_batch", start, start + total * 1000000L, counts)
    var at = start
    Steps.foreach { k =>
      val d = dur(p, k)
      tr.add(id, k, "engine_step", at, at + d * 1000000L, Map("synthetic_start" -> true))
      at += d * 1000000L
    }
    id
  }

  def gcSeconds: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}
