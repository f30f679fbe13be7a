package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.metrics.StageTimers
import graft.pipeline.CdcPipeline
import graft.sink.ExactlyOnceSink
import graft.source.{ChangeStreamReader, TranscriptGen}
import graft.source.TranscriptGen.GenConfig

/** The `cdc` workload: snapshot-then-incremental replay through the
  * exactly-once sink, in the engine's deployment shape.
  *
  *   backfill: spool the snapshot, deliver the first half of the change
  *             segments, drain them with `AvailableNow` at a large trigger;
  *   resume:   three times, restart on the same checkpoint with a
  *             back-to-back `ProcessingTime(0)` trigger, one segment waiting,
  *             and time the restart to its commit;
  *   tail:     an open-loop generator delivers the remaining segments one per
  *             fixed period and never waits for the pipeline.
  *
  * The backfill carries the per-row cost; the tail carries the fixed cost of
  * each micro-batch (persist, range sampling, write-job start, lineage
  * collect, manifest, offset WAL), which a two-batch replay hides.
  */
object Cdc {

  /** Segment files the resume and tail deliver are matched to micro-batches
    * by name; `deliverChanges` prefixes the table's file name with this.
    */
  val DeliveredPrefix = "10000-"
  val SnapshotFiles = 32
  val BackfillMaxFiles = 96
  /** Restarts per run; `resume_s` is their median. */
  val Resumes = 3

  def genConfig(seed: Long, convs: Int, phases: Int): GenConfig =
    GenConfig(numConvs = convs, avgTurns = 20, seed = seed, zipf = 1.1,
      changeFiles = phases, changeEventsPerTurn = 0.3,
      malformedFrac = 0.01, schemaChangeFrac = 0.01)

  /** Write the seeded table: `snapshot/` plus every change segment as
    * `changes/chg-PPPP-000.parquet`, all segments in ONE partitioned job.
    * Returns the turns (snapshot rows + inserts) of phases below `upTo`,
    * counted while writing, and the input fingerprints of `snapshot/` and
    * `changes/` (`Common.fingerprint` of the rows as written, observed on
    * the write jobs themselves).
    */
  def writeTable(spark: SparkSession, cfg: GenConfig, dir: String, upTo: Int): (Long, Map[String, Any]) = {
    import spark.implicits._
    val ev = TranscriptGen.events(spark, cfg).cache()
    try {
      val snapRows = Observation("snapshot")
      // Column expressions rather than typed lambdas: no deserializer
      // code to generate and compile for the nested event
      val snap = ev.filter($"phase" === -1).select($"event.after.*")
      val snapFp = Common.fingerprintCols(snap)
      snap.observe(snapRows, snapFp.head, snapFp.tail: _*)
        .repartition(math.max(spark.sparkContext.defaultParallelism / 2, 1), $"conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite").parquet(s"$dir/snapshot")
      val chgRows = Observation("changes")
      val inserts = Observation("inserts")
      val staged = s"$dir/.changes-staged"
      val chg = ev.filter($"phase" >= 0).select($"phase", $"event.*")
      val chgFp = Common.fingerprintCols(chg.drop("phase"))
      chg.observe(chgRows, chgFp.head, chgFp.tail: _*)
        .observe(inserts, count(when($"phase" < upTo && $"op" === "c" && $"after".isNotNull &&
          $"historyRecord".isNull, 1)).as("n"))
        .repartition(spark.sparkContext.defaultParallelism, $"phase")
        .write.mode("overwrite").partitionBy("phase").parquet(staged)
      (0 until cfg.changeFiles).foreach { p =>
        val n = Common.movePartFiles(spark, s"$staged/phase=$p", s"$dir/changes")(i => f"chg-$p%04d-$i%03d.parquet")
        require(n == 1, s"phase $p was written as $n files, expected 1")
      }
      Common.rmrf(spark, staged)
      val snapshot = Common.observedFingerprint(snapRows)
      (snapshot._1 + inserts.get("n").asInstanceOf[Long],
        Map("snapshot" -> Common.fpMap(snapshot), "changes" -> Common.fpMap(Common.observedFingerprint(chgRows))))
    } finally { ev.unpersist(); () }
  }

  final case class Dirs(stream: String, out: String, ck: String)

  def dirs(work: String, tag: String): Dirs =
    Dirs(s"$work/$tag/stream", s"$work/$tag/out", s"$work/$tag/ck")

  /** The benchmark's own query over the same public pieces
    * `CdcPipeline.start` wires (`ChangeStreamReader.stream` into
    * `CdcPipeline.processBatch` via foreachBatch), with each
    * `processBatch` call timed and its StageTimers deltas taken on the
    * stream thread itself — exact per-batch layer times for the traced run.
    */
  final case class BatchTimes(startNs: Long, writeMs: Double, lineageMs: Double, commitMs: Double)

  def tracedStart(spark: SparkSession, tr: Tracer, d: Dirs, maxFiles: Int, trigger: Trigger,
      times: mutable.Map[Long, BatchTimes]): StreamingQuery = {
    val sink = new ExactlyOnceSink(spark, d.out)
    ChangeStreamReader.stream(spark, d.stream, maxFiles)
      .writeStream
      .queryName("graft-cdc")
      .option("checkpointLocation", d.ck)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val b = StageTimers.snapshot(d.out)
        val s0 = tr.now
        CdcPipeline.processBatch(sink, df, id)
        val a = StageTimers.snapshot(d.out)
        def delta(k: String) = (a(k) - b(k)) * 1e3
        times.synchronized {
          times(id) = BatchTimes(s0, delta("sink_write"), delta("lineage_agg"), delta("sink_commit"))
        }
        ()
      }
      .start()
  }

  def startQuery(spark: SparkSession, tr: Tracer, d: Dirs, maxFiles: Int, trigger: Trigger,
      times: mutable.Map[Long, BatchTimes]): StreamingQuery =
    if (tr.enabled) tracedStart(spark, tr, d, maxFiles, trigger, times)
    else CdcPipeline.start(spark, d.stream, d.out, d.ck, maxFilesPerTrigger = maxFiles, trigger = trigger)

  /** Spool + deliver the first `half` segments + drain with AvailableNow. */
  def backfill(spark: SparkSession, tr: Tracer, table: String, d: Dirs, half: Int,
      times: mutable.Map[Long, BatchTimes]): (StreamingQuery, Double, Double) = {
    val t0 = System.nanoTime()
    val (_, spoolSec) = tr.phase(spark, "spool") {
      ChangeStreamReader.spoolSnapshot(spark, table, d.stream, numFiles = SnapshotFiles)
    }
    val (q, _) = tr.phase(spark, "backfill") {
      ChangeStreamReader.deliverChanges(spark, table, d.stream, _ < half)
      val q = startQuery(spark, tr, d, BackfillMaxFiles, Trigger.AvailableNow(), times)
      q.awaitTermination()
      q
    }
    (q, (System.nanoTime() - t0) / 1e9, spoolSec)
  }

  /** One change segment of `table` replayed into fresh dirs `tag` with
    * `AvailableNow`, through the traced query when `tr` is enabled; returns
    * its seconds.
    */
  def replay(spark: SparkSession, tr: Tracer, work: String, table: String, segment: Int,
      tag: String): Double = {
    val d = dirs(work, tag)
    val (_, sec) = tr.phase(spark, tag) {
      ChangeStreamReader.deliverChanges(spark, table, d.stream, _ == segment)
      startQuery(spark, tr, d, BackfillMaxFiles, Trigger.AvailableNow(), mutable.Map[Long, BatchTimes]())
        .awaitTermination()
    }
    StageTimers.reset(d.out)
    Common.rmrf(spark, s"$work/$tag")
    sec
  }

  /** Warm-up replays of segments 1..reps, untraced; each one's seconds. */
  def warmups(spark: SparkSession, work: String, table: String, reps: Int): Seq[Double] =
    (1 to reps).map(r => replay(spark, new Tracer(false), work, table, r, s"warm-$r"))

  def progressRows(ps: Seq[StreamingQueryProgress], phase: String): Seq[Map[String, Any]] =
    ps.map(p => Map("phase" -> phase, "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
      "duration_ms" -> Progress.Steps.map(k => k -> Progress.dur(p, k)).toMap.updated(
        "triggerExecution", Progress.dur(p, "triggerExecution"))))

  def run(spark: SparkSession, a: Main.Args, res: Result, tr: Tracer): Unit = {
    val work = a.str("work")
    val seed = a.long("seed")
    val convs = a.int("convs")
    val backfillSegs = a.int("segments")
    val tailSegs = a.int("tail")
    val seconds = a.int("seconds")
    val cfg = genConfig(seed, convs, backfillSegs + Resumes + tailSegs)
    val table = s"$work/table"

    // input generation: outside set-up and outside every timed phase
    val ((backfillTurns, inputFp), genSec) = Common.timed(writeTable(spark, cfg, table, backfillSegs))
    res.raw("gen_s") = genSec
    res.raw("input_fingerprint") = inputFp
    res.raw("table_dir") = table
    res.raw("backfill_turns") = backfillTurns
    res.raw("tail_segments") = tailSegs
    res.raw("gen_config") = cfg.toString

    val warm = warmups(spark, work, table, 3)
    res.raw("warmup_s") = warm
    res.raw("setup_s") = res.raw("session_s").asInstanceOf[Double] + Common.median(warm)

    val times = mutable.Map[Long, BatchTimes]()
    var stages: StageListener = null
    var progress: ProgressListener = null
    // the local[cores] reference of the scaling baseline: the same backfill,
    // untraced, on fresh dirs
    def untracedBackfill(tag: String): Double = {
      val d0 = dirs(work, tag)
      val (_, sec, _) = backfill(spark, new Tracer(false), table, d0, backfillSegs, times)
      StageTimers.reset(d0.out)
      Common.rmrf(spark, s"$work/$tag")
      sec
    }
    if (tr.enabled) {
      stages = new StageListener
      progress = new ProgressListener
      def listen(on: Boolean): Unit =
        if (on) { spark.sparkContext.addSparkListener(stages); spark.streams.addListener(progress) }
        else { spark.streams.removeListener(progress); spark.sparkContext.removeSparkListener(stages) }
      // tracing overhead, A/B/A: the last warm-up replay (A), the same
      // replay traced with the listeners attached (B), and untraced again (A)
      listen(true)
      res.raw("probe_s") = replay(spark, tr, work, table, warm.length, "probe")
      listen(false)
      res.raw("probe_untraced_s") = replay(spark, new Tracer(false), work, table, warm.length, "probe-untraced")
      res.raw("untraced_backfill_s") = Seq(untracedBackfill("untraced"))
      listen(true)
    }

    val d = dirs(work, "main")
    val gc0 = Progress.gcSeconds
    val (q1, backfillSec, spoolSec) = backfill(spark, tr, table, d, backfillSegs, times)
    res.raw("backfill_gc_s") = Progress.gcSeconds - gc0
    res.raw("backfill_s") = backfillSec
    res.raw("spool_s") = spoolSec
    var lastCommitted = q1.lastProgress.batchId
    val queries = mutable.ArrayBuffer[(StreamingQuery, String)](q1 -> "backfill")

    if (tr.enabled) {
      // the route + enrich projection alone, on the backfill's input, to a
      // noop sink: the per-row cost before the sink
      val (_, routeSec) = tr.phase(spark, "route") {
        CdcPipeline.routed(ChangeStreamReader.batch(spark, d.stream))
          .write.format("noop").mode("overwrite").save()
      }
      res.raw("route_s") = routeSec
    }

    // resume: restart on the checkpoint with one segment waiting, until its
    // commit; the last restart stays up for the tail
    val manifest = (id: Long) => java.nio.file.Paths.get(f"${d.out}/_manifest/batch-$id%09d.json")
    val resumes = (0 until Resumes).map { i =>
      ChangeStreamReader.deliverChanges(spark, table, d.stream, _ == backfillSegs + i)
      val (q, sec) = tr.phase(spark, s"resume-${i + 1}") {
        val q = startQuery(spark, tr, d, BackfillMaxFiles, Trigger.ProcessingTime(0L), times)
        Common.await("the first commit after the restart", 120000L) {
          java.nio.file.Files.exists(manifest(lastCommitted + 1))
        }
        q
      }
      lastCommitted += 1
      if (i < Resumes - 1) {
        // a clean stop: Spark's own commit log has the batch too, so the
        // next restart does not replay it
        q.processAllAvailable()
        q.stop()
        queries += q -> s"resume-${i + 1}"
      }
      q -> sec
    }
    res.raw("resume_reps_s") = resumes.map(_._2)
    res.raw("resume_s") = Common.median(resumes.map(_._2))
    val q2 = resumes.last._1
    val resumedAt = lastCommitted

    // tail: open loop, one segment per period, due times fixed up front
    val tailPhases = (backfillSegs + Resumes) until (backfillSegs + Resumes + tailSegs)
    val periodMs = seconds * 1000.0 / tailSegs
    val due = mutable.ArrayBuffer[Map[String, Any]]()
    val (_, tailSec) = tr.phase(spark, "tail") {
      val start = System.currentTimeMillis() + 50
      tailPhases.zipWithIndex.foreach { case (p, k) =>
        val dueMs = start + (k * periodMs).toLong
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val sentMs = System.currentTimeMillis()
        ChangeStreamReader.deliverChanges(spark, table, d.stream, _ == p)
        due += Map("file" -> f"${DeliveredPrefix}chg-$p%04d-000.parquet", "phase" -> p,
          "due_ms" -> dueMs, "sent_ms" -> sentMs, "late_ms" -> (sentMs - dueMs))
      }
    }
    val (_, drainSec) = tr.phase(spark, "drain") {
      q2.processAllAvailable()
      q2.stop()
    }
    queries += q2 -> "tail"
    res.raw("tail_s") = tailSec
    res.raw("drain_s") = drainSec
    res.raw("tail_period_ms") = periodMs
    res.raw("due") = due.toSeq
    res.raw("batches") = queries.toSeq.flatMap { case (q, phase) =>
      progressRows(q.recentProgress.toSeq, phase).map(r =>
        if (phase == "tail" && r("batch_id").asInstanceOf[Long] <= resumedAt) r.updated("phase", s"resume-$Resumes")
        else r)
    }
    res.raw("ck_dir") = d.ck
    res.raw("out_dir") = d.out
    q2.exception.foreach(e => throw e)

    if (tr.enabled) {
      stages.settle()
      Common.await("streaming progress events", 10000L, 20L) {
        queries.forall { case (q, _) => progress.of(q.runId).size == q.recentProgress.length }
      }
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(stages)
      layers(spark, tr, res, d, queries.toSeq, resumedAt, times, stages, progress)
    }
    checks(spark, cfg, table, d, res)
    res.raw("canaries") = Common.canaries(a.int("cores"))
  }

  /** Per-layer numbers and spans of the traced run. */
  def layers(spark: SparkSession, tr: Tracer, res: Result, d: Dirs,
      queries: Seq[(StreamingQuery, String)], resumedAt: Long, times: mutable.Map[Long, BatchTimes],
      stages: StageListener, progress: ProgressListener): Unit = {
    val phaseOf = queries.map { case (q, ph) => q.runId -> ph }.toMap
    val ps = queries.flatMap { case (q, _) => progress.of(q.runId) }
    val phaseIds = tr.phaseIds
    val batchSpan = mutable.Map[(String, Long), Int]()
    val perBatch = mutable.ArrayBuffer[Map[String, Any]]()
    ps.foreach { p =>
      val phase = phaseOf(p.runId) match {
        case "tail" if p.batchId <= resumedAt => s"resume-$Resumes"
        case ph => ph
      }
      val bt = times.get(p.batchId)
      val add = Progress.dur(p, "addBatch").toDouble
      val named = bt.map(b => b.writeMs + b.lineageMs + b.commitMs).getOrElse(0.0)
      val residual = add - named
      val id = Progress.emit(tr, phaseIds.getOrElse(phase, tr.runId), p,
        Map("addBatch_unaccounted_ms" -> residual))
      batchSpan((p.id.toString, p.batchId)) = id
      bt.foreach { b =>
        // processBatch runs write → lineage aggregate → commit in order
        var at = b.startNs
        Seq("sink_write" -> b.writeMs, "lineage_agg" -> b.lineageMs, "sink_commit" -> b.commitMs)
          .foreach { case (n, ms) =>
            tr.add(id, n, "sink_step", at, at + (ms * 1e6).toLong)
            at += (ms * 1e6).toLong
          }
      }
      perBatch += Map("batch_id" -> p.batchId, "phase" -> phase, "input_rows" -> p.numInputRows,
        "addBatch_ms" -> add, "sink_write_ms" -> bt.map(_.writeMs).getOrElse(0.0),
        "lineage_agg_ms" -> bt.map(_.lineageMs).getOrElse(0.0),
        "sink_commit_ms" -> bt.map(_.commitMs).getOrElse(0.0),
        "addBatch_unaccounted_ms" -> residual)
    }
    stages.emitSpans(tr, j => batchSpan.getOrElse((j.queryId, j.batchId),
      phaseIds.getOrElse(j.phase, tr.runId)))

    def sumDur(k: String) = ps.map(p => Progress.dur(p, k)).sum / 1e3
    val bt = times.values.toSeq
    val write = bt.map(_.writeMs).sum / 1e3
    val lineage = bt.map(_.lineageMs).sum / 1e3
    val commit = bt.map(_.commitMs).sum / 1e3
    val sinkJobs = Seq("backfill", "tail", "drain").flatMap(stages.jobsOf) ++
      (1 to Resumes).flatMap(i => stages.jobsOf(s"resume-$i"))
    val sinkStages = stages.stagesOf(sinkJobs)
    val backfillStages = stages.stagesOf(stages.jobsOf("backfill"))
    val writeStage = backfillStages.sortBy(-_.outBytes).headOption
    val files = {
      val it = Common.fs(spark).listFiles(new org.apache.hadoop.fs.Path(s"${d.out}/events"), true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    res.raw("layers") = Map(
      "source.spool_s" -> res.raw("spool_s"),
      "source.list_s" -> sumDur("latestOffset"),
      "source.read_s" -> sumDur("getBatch"),
      "pipeline.route_s" -> res.raw("route_s"),
      "sink.write_s" -> write,
      "sink.lineage_s" -> lineage,
      "sink.commit_s" -> commit,
      "sink.residual_s" -> (sumDur("addBatch") - write - lineage - commit),
      "engine.wal_s" -> (sumDur("walCommit") + sumDur("commitOffsets")),
      "sink.shuffle_write_bytes" -> sinkStages.map(_.shuffleWrite).sum,
      "sink.spill_bytes" -> sinkStages.map(_.spill).sum,
      "sink.bytes_written" -> sinkStages.map(_.outBytes).sum,
      "sink.files_written" -> files,
      "sink.task_skew" -> writeStage.map(s => stages.skew(s.stageId)).getOrElse(1.0),
      "jvm.gc_s" -> res.raw("backfill_gc_s"),
      "trace.overhead_frac" -> (res.raw("probe_s").asInstanceOf[Double] / ((res.raw("warmup_s")
        .asInstanceOf[Seq[Double]].last + res.raw("probe_untraced_s").asInstanceOf[Double]) / 2) - 1.0))
    res.raw("per_batch") = perBatch.toSeq
  }

  def checks(spark: SparkSession, cfg: GenConfig, table: String, d: Dirs, res: Result): Unit = {
    import spark.implicits._
    val got = Common.fingerprint(CdcPipeline.materialize(spark, d.out).toDF())
    val want = Common.fingerprint(TranscriptGen.finalState(spark, cfg).toDF())
    res.raw("output_fingerprint") = Common.fpMap(got)
    res.check("cdc.materialize_equals_final_state", got == want, s"got=$got want=$want")

    val sink = new ExactlyOnceSink(spark, d.out)
    val r = sink.readCommitted("events").get.agg(
      count(when($"source.lsn" > 0, 1)), countDistinct(when($"source.lsn" > 0, $"source.lsn")),
      count(when($"op" === "r", 1)),
      countDistinct(when($"op" === "r", struct($"after.conv_id", $"after.turn_idx"))),
      count(lit(1))).head()
    val Seq(n, distinct, ns, distinctSnap, events) = (0 until 5).map(r.getLong)
    res.check("cdc.no_duplicate_lsn", n == distinct && ns == distinctSnap,
      s"changes=$n distinct_lsn=$distinct snapshot=$ns distinct_keys=$distinctSnap")

    val committed = events + Seq("errors", "schema_changes")
      .flatMap(s => sink.readCommitted(s)).map(_.count()).sum
    val manifestRows = sink.readManifest().map(_.agg(sum($"rowCount")).head().getLong(0)).getOrElse(0L)
    res.check("cdc.manifest_rowcount_equals_committed", committed == manifestRows && committed > 0,
      s"manifest=$manifestRows committed=$committed")
  }

  /** The scaling baseline: the same backfill, alone, in this JVM. */
  def scale(spark: SparkSession, a: Main.Args, res: Result): Unit = {
    val work = a.str("work")
    warmups(spark, work, a.str("table"), 1)
    val d = dirs(work, s"scale-${a.int("cores")}")
    val (_, sec, _) = backfill(spark, new Tracer(false), a.str("table"), d, a.int("segments"),
      mutable.Map[Long, BatchTimes]())
    res.raw("backfill_s") = sec
    StageTimers.reset(d.out)
    Common.rmrf(spark, s"$work/scale-${a.int("cores")}")
  }
}
