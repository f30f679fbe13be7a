package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.{PatternMatch, Turn}
import graft.pipeline.{Cep, Joins, Windows}
import graft.source.TranscriptGen
import graft.source.TranscriptGen.GenConfig

/** The `stateful` workload: keyed state, timers and the RocksDB state store,
  * with no sink I/O. Three queries, each with its own checkpoint, read the
  * r/c after-images of the seeded generator as files ordered by `ts` (one
  * file per micro-batch), so no row is ever behind the watermark:
  *
  *   cep:     `Cep.detect(streaming = true)`, stopped and resumed from its
  *            checkpoint three times;
  *   session: `Windows.session` (gap 30 min);
  *   join:    `Joins.toolCallResponse` (horizon 10 min).
  *
  * Two heartbeat files at the end move the watermark past every session and
  * tool-call horizon, so each output can be compared in full with its batch
  * twin. The zipf-hot conversation is one key, so its skew shows.
  */
object Stateful {

  val Watermark = "30 seconds"
  val Gap = "30 minutes"
  val Horizon = "10 minutes"
  val HorizonMs: Long = 10 * 60 * 1000L
  val Heartbeat = "zz-heartbeat"
  val Ops = Seq("cep", "session", "join")
  /** CEP restarts per run; `resume_s` is their median. */
  val Resumes = 3

  private val turnSchema: StructType = Encoders.product[Turn].schema

  def genConfig(seed: Long, convs: Int): GenConfig =
    GenConfig(numConvs = convs, avgTurns = 20, seed = seed, zipf = 1.1,
      changeFiles = 4, changeEventsPerTurn = 0.3,
      malformedFrac = 0.01, schemaChangeFrac = 0.01)

  def turns(spark: SparkSession, cfg: GenConfig): DataFrame = {
    import spark.implicits._
    TranscriptGen.events(spark, cfg)
      .filter($"event.op".isin("r", "c") && $"event.after".isNotNull && $"event.historyRecord".isNull)
      .select($"event.after.*")
  }

  /** Write the turns as `files` ts-ordered parquet files plus two heartbeat
    * files into `dir/all`. File modification times follow ts order, which
    * is the order the file source takes them in. Returns the turn count,
    * the file count and the input fingerprint (`Common.fingerprint` of the
    * turns, observed on the write job).
    */
  def writeInput(spark: SparkSession, cfg: GenConfig, dir: String, files: Int): (Long, Int, Map[String, Any]) = {
    import spark.implicits._
    val df = turns(spark, cfg).cache()
    try {
      val obs = Observation("input")
      val fp = Common.fingerprintCols(df)
      // observed above the exchange: the range partitioner's sampling job
      // also runs the plan below it
      df.repartitionByRange(files, $"ts").sortWithinPartitions("ts")
        .observe(obs, fp.head, fp.tail :+ max($"ts").as("max_ts"): _*)
        .write.mode("overwrite").parquet(s"$dir/staged")
      val n = Common.movePartFiles(spark, s"$dir/staged", s"$dir/all")(i => f"turns-$i%04d.parquet")
      val maxTs = obs.get("max_ts").asInstanceOf[Timestamp].getTime
      spark.createDataset(Seq(1, 2).map(k => Turn(Heartbeat, k - 1, "user", "hb", None,
          new Timestamp(maxTs + k * 24L * 3600 * 1000))))
        .repartitionByRange(2, $"ts").write.mode("overwrite").parquet(s"$dir/staged")
      Common.movePartFiles(spark, s"$dir/staged", s"$dir/all")(k => f"turns-${n + k}%04d.parquet")
      val input = Common.observedFingerprint(obs)
      (input._1, n + 2, Common.fpMap(input))
    } finally { df.unpersist(); () }
  }

  /** Copy input files `from until to` into `dst`, stamping modification
    * times in file order.
    */
  def place(src: String, dst: String, from: Int, to: Int): Unit = {
    val base = System.currentTimeMillis() - 3600 * 1000L
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    (from until to).foreach { i =>
      val name = f"turns-$i%04d.parquet"
      val target = java.nio.file.Paths.get(s"$dst/$name")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/$name"), target)
      target.toFile.setLastModified(base + i * 1000L)
    }
  }

  def build(op: String, stream: DataFrame): DataFrame = op match {
    case "cep" => Cep.detect(stream.withWatermark("ts", Watermark), streaming = true).toDF()
    case "session" => Windows.session(stream, Gap, Some(Watermark))
    case "join" => Joins.toolCallResponse(stream, Horizon, Some(Watermark))
  }

  def batchTwin(op: String, turns: DataFrame): DataFrame = op match {
    case "cep" => Cep.detect(turns, streaming = false).toDF()
    case "session" => Windows.session(turns, Gap)
    case "join" => Joins.toolCallResponse(turns, Horizon)
  }

  /** Streaming output collected on the Spark driver, once per batch id. */
  final class Collected {
    val rows = mutable.LinkedHashMap[Long, Array[Row]]()
    @volatile var schema: StructType = _
    def all: Seq[Row] = synchronized { rows.values.flatten.toSeq }
  }

  def start(spark: SparkSession, op: String, dir: String, ck: String, out: Collected): StreamingQuery =
    build(op, spark.readStream.schema(turnSchema).option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream
      .queryName(s"perfbench-$op")
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = df.collect()
        out.synchronized { out.schema = df.schema; out.rows(id) = rows }
        ()
      }
      .start()

  final case class OpRun(seconds: Double, resumeSeconds: Double, queries: Seq[StreamingQuery],
      out: Collected)

  /** One op over its input; `cep` is stopped and resumed on its checkpoint
    * `Resumes` times along the way.
    */
  def runOp(spark: SparkSession, tr: Tracer, op: String, work: String, tag: String,
      nFiles: Int, resume: Boolean = true, phase: Option[String] = None): OpRun = {
    val all = s"$work/input/all"
    val dir = s"$work/$tag/$op/in"
    val ck = s"$work/$tag/$op/ck"
    val out = new Collected
    if (op != "cep" || !resume) {
      place(all, dir, 0, nFiles)
      val (q, sec) = tr.phase(spark, phase.getOrElse(op)) {
        val q = start(spark, op, dir, ck, out)
        q.awaitTermination()
        q
      }
      OpRun(sec, 0.0, Seq(q), out)
    } else {
      // input in Resumes + 1 chunks: run the first, then restart on the
      // checkpoint once per further chunk
      val bounds = (0 to Resumes + 1).map(k => nFiles * k / (Resumes + 1))
      place(all, dir, 0, bounds(1))
      val (q0, sec0) = tr.phase(spark, "cep") {
        val q = start(spark, op, dir, ck, out)
        q.awaitTermination()
        q
      }
      var last = q0.lastProgress.batchId
      val restarts = (1 to Resumes).map { k =>
        place(all, dir, bounds(k), bounds(k + 1))
        var resumeSec = 0.0
        val (q, sec) = tr.phase(spark, s"cep_resume-$k") {
          val t0 = System.nanoTime()
          val q = start(spark, op, dir, ck, out)
          Common.await("the first CEP commit after the restart", 120000L) {
            java.nio.file.Files.exists(java.nio.file.Paths.get(s"$ck/commits/${last + 1}")) || !q.isActive
          }
          resumeSec = (System.nanoTime() - t0) / 1e9
          q.awaitTermination()
          q
        }
        last = q.lastProgress.batchId
        (q, sec, resumeSec)
      }
      OpRun(sec0 + restarts.map(_._2).sum, Common.median(restarts.map(_._3)),
        q0 +: restarts.map(_._1), out)
    }
  }

  def run(spark: SparkSession, a: Main.Args, res: Result, tr: Tracer): Unit = {
    val work = a.str("work")
    val cfg = genConfig(a.long("seed"), a.int("convs"))
    val scale = a.kv.get("scale").contains("1")
    // the scaling baseline reuses the input the main run wrote
    val ((nTurns, nFiles, inputFp), genSec) =
      if (scale) ((a.long("turns"), new java.io.File(s"$work/input/all").list().count(_.endsWith(".parquet")),
        Map.empty[String, Any]), 0.0)
      else Common.timed(writeInput(spark, cfg, s"$work/input", a.int("files")))
    res.raw("gen_s") = genSec
    res.raw("input_fingerprint") = inputFp
    res.raw("turns") = nTurns
    res.raw("files") = nFiles
    res.raw("gen_config") = cfg.toString

    // set-up: the CEP query (the first one measured) over the first input
    // file, three times
    val tag = if (scale) "scale" else "main"
    val warm = (1 to (if (scale) 1 else 3)).map { r =>
      val (_, sec) = Common.timed(runOp(spark, new Tracer(false), "cep", work, s"$tag-warm-$r", 1, resume = false))
      sec
    }
    res.raw("warmup_s") = warm
    res.raw("setup_s") = res.raw("session_s").asInstanceOf[Double] + Common.median(warm)

    var stages: StageListener = null
    var progress: ProgressListener = null
    // CEP alone with no listener attached: the local[cores] reference of
    // the scaling baseline, which repeats it
    def untracedCep(t: String): Double = {
      val r = runOp(spark, new Tracer(false), "cep", work, s"$tag-$t", nFiles)
      Common.rmrf(spark, s"$work/$tag-$t")
      r.seconds
    }
    if (scale) {
      res.raw("untraced_cep_s") = Seq(untracedCep("untraced"))
      return
    }
    if (tr.enabled) {
      stages = new StageListener
      progress = new ProgressListener
      def listen(on: Boolean): Unit =
        if (on) { spark.sparkContext.addSparkListener(stages); spark.streams.addListener(progress) }
        else { spark.streams.removeListener(progress); spark.sparkContext.removeSparkListener(stages) }
      // tracing overhead, A/B/A: the last warm-up run (A), the same run
      // traced with the listeners attached (B), and untraced again (A)
      def probe(t: Tracer, label: String): Double = Common.timed(runOp(spark, t, "cep", work,
        s"$tag-$label", 1, resume = false, phase = Some(label)))._2
      listen(true)
      res.raw("probe_s") = probe(tr, "probe")
      listen(false)
      res.raw("probe_untraced_s") = probe(new Tracer(false), "probe-untraced")
      res.raw("untraced_cep_s") = Seq(untracedCep("untraced"))
      listen(true)
    }
    val gc0 = Progress.gcSeconds
    val runs = Ops.map(op => op -> runOp(spark, tr, op, work, tag, nFiles)).toMap
    res.raw("gc_s") = Progress.gcSeconds - gc0
    Ops.foreach(op => res.raw(s"op_${op}_s") = runs(op).seconds)
    res.raw("cep_resume_s") = runs("cep").resumeSeconds
    res.raw("batches") = Ops.flatMap(op => runs(op).queries.flatMap(_.recentProgress.toSeq).map(p =>
      Map("op" -> op, "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
        "trigger_ms" -> Progress.dur(p, "triggerExecution"))))

    if (tr.enabled) {
      stages.settle()
      Common.await("streaming progress events", 10000L, 20L) {
        runs.values.forall(_.queries.forall(q => progress.of(q.runId).size == q.recentProgress.length))
      }
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(stages)
      layers(tr, res, runs, stages, progress)
    }
    val batchTurns = turns(spark, cfg).cache()
    Ops.foreach(op => check(spark, op, runs(op).out, batchTurns, res))
    batchTurns.unpersist()
    res.raw("canaries") = Common.canaries(a.int("cores"))
  }

  def layers(tr: Tracer, res: Result, runs: Map[String, OpRun], stages: StageListener,
      progress: ProgressListener): Unit = {
    val phaseIds = tr.phaseIds
    val batchSpan = mutable.Map[(String, Long), Int]()
    val layer = mutable.LinkedHashMap[String, Any]()
    Ops.foreach { op =>
      val qs = runs(op).queries
      val ps: Seq[StreamingQueryProgress] = qs.flatMap(q => progress.of(q.runId))
      qs.zipWithIndex.foreach { case (q, i) =>
        val phase = if (i == 0) op else s"${op}_resume-$i"
        progress.of(q.runId).foreach(p =>
          batchSpan((p.id.toString, p.batchId)) = Progress.emit(tr, phaseIds.getOrElse(phase, tr.runId), p))
      }
      val sops = ps.flatMap(_.stateOperators.toSeq)
      val phases = if (op == "cep") "cep" +: (1 to Resumes).map(k => s"cep_resume-$k") else Seq(op)
      val opStages = stages.stagesOf(phases.flatMap(stages.jobsOf))
      layer(s"$op.state_update_s") = sops.map(_.allUpdatesTimeMs).sum / 1e3
      layer(s"$op.state_commit_s") = sops.map(_.commitTimeMs).sum / 1e3
      layer(s"$op.state_rows") = (0L +: ps.map(_.stateOperators.map(_.numRowsTotal).sum)).max
      layer(s"$op.state_bytes") = (0L +: ps.map(_.stateOperators.map(_.memoryUsedBytes).sum)).max
      layer(s"$op.late_rows_dropped") = sops.map(_.numRowsDroppedByWatermark).sum
      layer(s"$op.batch_ms_max") = (0L +: ps.map(p => Progress.dur(p, "triggerExecution"))).max
      layer(s"$op.task_skew") = opStages.sortBy(-_.runMs).headOption
        .map(s => stages.skew(s.stageId)).getOrElse(1.0)
      if (op == "cep")
        layer("cep.rocksdb_checkpoint_ms") = sops.map(s =>
          Option(s.customMetrics.get("rocksdbCommitCheckpointLatency")).map(_.longValue).getOrElse(0L)).sum
    }
    stages.emitSpans(tr, j => batchSpan.getOrElse((j.queryId, j.batchId),
      phaseIds.getOrElse(j.phase, tr.runId)))
    val all = runs.values.flatMap(_.queries).flatMap(q => progress.of(q.runId)).toSeq
    def sumDur(k: String) = all.map(p => Progress.dur(p, k)).sum / 1e3
    layer("source.list_s") = sumDur("latestOffset")
    layer("source.read_s") = sumDur("getBatch")
    layer("engine.wal_s") = sumDur("walCommit") + sumDur("commitOffsets")
    layer("jvm.gc_s") = res.raw("gc_s")
    layer("trace.overhead_frac") =
      res.raw("probe_s").asInstanceOf[Double] / ((res.raw("warmup_s").asInstanceOf[Seq[Double]].last +
        res.raw("probe_untraced_s").asInstanceOf[Double]) / 2) - 1.0
    res.raw("layers") = layer.toMap
  }

  def check(spark: SparkSession, op: String, out: Collected, batchTurns: DataFrame,
      res: Result): Unit = {
    val got = out.all.filter(r => r.getAs[String]("conv_id") != Heartbeat)
    val want = batchTwin(op, batchTurns)
    if (op != "cep") {
      val g = Common.fingerprint(spark.createDataFrame(
        java.util.Arrays.asList(got: _*), out.schema))
      val w = Common.fingerprint(want)
      res.check(s"$op.streaming_equals_batch", g == w && g._1 > 0, s"streaming=$g batch=$w")
    } else {
      val (ok, detail) = cepTwin(spark, got, want, batchTurns)
      res.check("cep.streaming_equals_batch_with_horizon", ok, detail)
    }
  }

  type Key = (String, String, Int, Int, Long, Long, String)

  /** CEP's batch twin runs without a horizon, so it is turned into what the
    * streaming operator must emit with one:
    *   - user_repeat rows, and tool rows spanning at most the horizon, are
    *     emitted unchanged (the watermark is still below the response);
    *   - a tool row spanning more than the horizon is emitted unchanged, or
    *     as the call's expiry `unanswered_tool_call(i, i, ts, ts + horizon)`
    *     when the watermark passed it first — which of the two depends on
    *     micro-batch boundaries;
    *   - a call still open when the batch input ends expires (the heartbeat
    *     moves the watermark past every horizon).
    * The streaming output must be exactly that multiset.
    */
  def cepTwin(spark: SparkSession, got: Seq[Row], want: DataFrame,
      batchTurns: DataFrame): (Boolean, String) = {
    import spark.implicits._
    def key(m: PatternMatch): Key = (m.conv_id, m.pattern, m.start_turn, m.end_turn,
      m.start_ts.getTime, m.end_ts.getTime, m.detail)
    def expired(conv: String, idx: Int, tsMs: Long, tool: String): Key =
      (conv, "unanswered_tool_call", idx, idx, tsMs, tsMs + HorizonMs, tool)
    val bag = mutable.HashMap[Key, Int]()
    got.foreach { r =>
      val k: Key = (r.getAs[String]("conv_id"), r.getAs[String]("pattern"),
        r.getAs[Int]("start_turn"), r.getAs[Int]("end_turn"),
        r.getAs[Timestamp]("start_ts").getTime, r.getAs[Timestamp]("end_ts").getTime,
        r.getAs[String]("detail"))
      bag(k) = bag.getOrElse(k, 0) + 1
    }
    def take(k: Key): Boolean = bag.get(k) match {
      case Some(n) if n > 0 => bag(k) = n - 1; true
      case _ => false
    }
    val batch = want.as[PatternMatch].collect()
    var missing = 0L
    var expiredSpans = 0L
    batch.foreach { m =>
      val span = m.end_ts.getTime - m.start_ts.getTime
      if (m.pattern == "user_repeat" || span <= HorizonMs) { if (!take(key(m))) missing += 1 }
      else if (!take(key(m))) {
        if (take(expired(m.conv_id, m.start_turn, m.start_ts.getTime, m.detail))) expiredSpans += 1
        else missing += 1
      }
    }
    val started = batch.filter(_.pattern != "user_repeat").map(m => (m.conv_id, m.start_turn)).toSet
    val open = batchTurns.where($"role" === "assistant" && $"tool".isNotNull)
      .select($"conv_id", $"turn_idx", $"ts", $"tool").collect()
      .filterNot(r => started.contains((r.getString(0), r.getInt(1))))
    open.foreach { r =>
      if (!take(expired(r.getString(0), r.getInt(1), r.getTimestamp(2).getTime, r.getString(3))))
        missing += 1
    }
    val extra = bag.values.sum
    (missing == 0 && extra == 0 && got.nonEmpty,
      s"streaming=${got.size} batch=${batch.length} expired_long_spans=$expiredSpans " +
        s"open_at_end=${open.length} missing=$missing extra=$extra")
  }
}
