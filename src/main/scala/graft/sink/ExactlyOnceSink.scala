package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent exactly-once file sink with per-partition commit lineage
  * (SURVEY.md §7.4).
  *
  * The reference achieves exactly-once with Flink's FileSink two-phase
  * commit driven by checkpoints (reference sink/S3Sink.scala:151
  * `OnCheckpointRollingPolicy`; main.scala:251 EXACTLY_ONCE). The Spark
  * recast: inside `foreachBatch`, each micro-batch writes its output under a
  * `batch=<batchId>` directory with overwrite semantics, then atomically
  * publishes a manifest file `_manifest/batch-<id>.json` (temp + rename).
  * Readers only see manifest-listed directories, so:
  *
  *   - crash BEFORE manifest rename → directory is invisible; on restart
  *     Structured Streaming replays the same batchId with the same input
  *     files (offset WAL) and the overwrite rewrites it byte-equivalently;
  *   - crash AFTER rename → `isCommitted` short-circuits the replay (no
  *     duplicate output).
  *
  * Throughput/scaling design (measured — see BENCH/BASELINE.md history):
  * ONE write job per batch. The three logical outputs (data / error /
  * schema-change — the reference's side outputs) are a `route` partition
  * column; the physical time bucket is `p_date` ONLY (≙ the reference's
  * DateTimeBucketAssigner dirs, coarsened) — `p_hour` stays a data column
  * pruned by parquet min/max stats, Iceberg-style, because long-running
  * conversations make hourly dir cardinality explode (measured: a months-
  * spanning hot conversation turned one batch into thousands of tiny files
  * and a 48 s write). The batch is repartitioned on (partition cols +
  * salt) before writing: write parallelism = buckets × salt, file count
  * stays bounded and independent of input size. The naive alternative
  * (3 filtered writes, tasks × dirs files) made 32 cores SLOWER than 8.
  *
  * The manifest carries per-(route, time-bucket) lineage: row counts and
  * [minLsn, maxLsn] — the per-partition offset lineage the north rule
  * requires. The pipeline computes it from the CACHED routed batch in the
  * same aggregate as the latency stats (CdcPipeline.processBatch) — one
  * pass, no re-read of the written files — and publishes it via `commit`.
  */
final class ExactlyOnceSink(spark: SparkSession, val outDir: String,
    maxRecordsPerFile: Long = 0L,
    rollingFileSizeBytes: Long = 0L) extends Serializable {

  private def fs: FileSystem =
    new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Observed parquet bytes per row across the batches committed so far —
    * drives the size-based rolling policy (reference S3Sink rolls files at
    * `rollingFileSize` bytes; Spark's writer caps RECORDS per file, so the
    * byte target is converted with this measured rate). Includes per-file
    * overhead (footer/dictionary), which biases the derived cap DOWN —
    * i.e. files land under the byte target, never past it. On a RESUMED
    * pipeline the rate is recovered from the latest committed batch
    * (file listing + its manifest's row counts — no data read), so only
    * the very first batch of a brand-new sink runs on the
    * `BootstrapRowBytes` estimate; that estimate deliberately
    * OVERestimates typical rows (4 KiB) because the failure directions
    * are asymmetric — too-high ⇒ smaller-than-target files (harmless),
    * too-low ⇒ the first batch overshoots the byte target by
    * actual/estimate ×.
    */
  @volatile private var observedRowBytes: Double = 0.0

  private val BootstrapRowBytes = 4096.0

  /** The per-file record cap for the next write: the explicit record cap,
    * the byte-derived cap, or the tighter of the two.
    */
  private def effectiveMaxRecords: Long = {
    val sizeCap =
      if (rollingFileSizeBytes <= 0) 0L
      else {
        if (observedRowBytes == 0.0) recoverRowBytes()
        val est = if (observedRowBytes > 0) observedRowBytes else BootstrapRowBytes
        math.max(1L, (rollingFileSizeBytes / est).toLong)
      }
    if (maxRecordsPerFile > 0 && sizeCap > 0) math.min(maxRecordsPerFile, sizeCap)
    else math.max(maxRecordsPerFile, sizeCap)
  }

  /** Resume path: re-measure bytes/row from the most recent committed
    * batch — or, when compaction has retired every per-batch manifest,
    * from the epoch snapshot itself (rows come from the manifest lines,
    * bytes from a file listing) — so a restarted pipeline does not fall
    * back to the bootstrap estimate it already outgrew.
    */
  private def recoverRowBytes(): Unit = {
    def measure(dir: String, manifest: Path): Unit =
      if (fs.exists(manifest)) {
        val rows = """"rowCount"\s*:\s*(\d+)""".r
          .findAllMatchIn(graft.util.FsText.readText(fs, manifest))
          .map(_.group(1).toLong).sum
        observeWritten(dir, rows)
      }
    committedBatchIds.lastOption match {
      case Some(last) => measure(batchDir(last), manifestPath(last))
      case None => epochFloor.foreach(c =>
        measure(compactDir(c), new Path(f"$outDir/_manifest/epoch-$c%09d.json")))
    }
  }

  /** Per-file fixed overhead estimate (parquet footer + dictionary pages)
    * subtracted before deriving bytes/row. Without it the policy has a
    * positive feedback loop: a small byte target ⇒ many files ⇒ overhead
    * inflates measured bytes/row ⇒ a SMALLER derived cap ⇒ even more files,
    * ratcheting toward 1-row files. Netting the overhead out measures the
    * DATA rate, which is cap-independent. The estimate errs low and the
    * net is floored at half the raw rate, so a wrong estimate can only
    * leave files mildly under target — never restart the ratchet.
    */
  private val FileOverheadBytes = 2048L

  /** Re-measure bytes/row from a just-written batch dir (listing only —
    * no data read; rows come from the commit lineage, already computed).
    */
  private def observeWritten(dir: String, rows: Long): Unit =
    if (rollingFileSizeBytes > 0 && rows > 0 && fs.exists(new Path(dir))) {
      val it = fs.listFiles(new Path(dir), true)
      var bytes = 0L
      var nFiles = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { bytes += f.getLen; nFiles += 1 }
      }
      if (bytes > 0) {
        val net = math.max(bytes - nFiles * FileOverheadBytes, bytes / 2)
        observedRowBytes = net.toDouble / rows
      }
    }

  private def manifestPath(batchId: Long) = new Path(f"$outDir/_manifest/batch-$batchId%09d.json")

  private def batchDir(batchId: Long) = s"$outDir/events/batch=$batchId"

  private def compactDir(c: Long) = s"$outDir/events/batch=$c-compact"

  /** Highest compaction epoch: batches with id ≤ it live (bin-packed) in
    * `compactDir` and their per-batch manifests are retired.
    */
  def epochFloor: Option[Long] = {
    val dir = new Path(s"$outDir/_manifest")
    if (!fs.exists(dir)) None
    else fs.globStatus(new Path(s"$outDir/_manifest/epoch-*.json"))
      .map(_.getPath.getName.stripPrefix("epoch-").stripSuffix(".json").toLong)
      .sorted.lastOption
  }

  def isCommitted(batchId: Long): Boolean =
    fs.exists(manifestPath(batchId)) || epochFloor.exists(batchId <= _)

  /** Monotone progress marker: the highest batch id ever committed, −1 if
    * none. `committedBatchIds.size` is NOT monotone — compaction retires
    * per-batch manifests behind the epoch floor and shrinks the count, so
    * a restart-budget check keyed on the size would fail to recognize
    * real progress after a compaction (the floor preserves it here).
    */
  def highestCommittedBatchId: Long =
    (committedBatchIds ++ epochFloor.toSeq).foldLeft(-1L)(math.max)

  def committedBatchIds: Seq[Long] = {
    val dir = new Path(s"$outDir/_manifest")
    if (!fs.exists(dir)) Seq.empty
    else {
      val floor = epochFloor
      fs.globStatus(new Path(s"$outDir/_manifest/batch-*.json"))
        .map(_.getPath.getName.stripPrefix("batch-").stripSuffix(".json").toLong)
        .filter(id => floor.forall(id > _))
        .sorted.toSeq
    }
  }

  /** Single-pass write of a routed, time-bucketed batch. `df` must carry
    * `route`, `p_date`, `p_hour` columns.
    *
    * The pre-write shuffle key is (partition cols + salt): without the salt,
    * write parallelism is capped at the number of populated time buckets
    * (measured: 32 cores idled behind ~12 hourly buckets); with it, each
    * bucket fans out over `salt` writers, and file count stays
    * buckets × salt — still independent of input size.
    */
  def writeBatch(batchId: Long, df: DataFrame): Unit =
    writeDir(batchDir(batchId), df)

  private def writeDir(dir: String, df: DataFrame): Unit = {
    // RANGE partition on (route, p_date, salt): task load is volume-
    // proportional (a hot date spans several consecutive tasks, light dates
    // share one), parallelism is 2×cores regardless of bucket skew, and
    // file count ≈ tasks + dates — hash salting instead multiplies files by
    // salt × dates (measured: 2,900 files/batch on a 70-day batch).
    val parts = math.max(2, 2 * spark.sparkContext.defaultParallelism)
    val ranged = df.withColumn("w_salt", pmod(xxhash64(col("ts_ms")), lit(parts)))
      .repartitionByRange(parts, col("route"), col("src_table"), col("p_date"), col("w_salt"))
      .drop("w_salt")
    // the within-task sort exists so the dynamic-partition writer holds ONE
    // open file at a time (skipping it for concurrent writers measured no
    // better — BENCH/BASELINE.md)
    ranged.sortWithinPartitions("route", "src_table", "p_date")
      .write.mode("overwrite")
      // rolling on the committed files (0 = unlimited — Spark's own
      // convention for spark.sql.files.maxRecordsPerFile); ≙ reference
      // rolling policy S3Sink.scala:116-120: the explicit record cap and/or
      // the byte target via the measured bytes-per-row rate
      .option("maxRecordsPerFile", effectiveMaxRecords)
      .partitionBy("route", "src_table", "p_date")
      .parquet(dir)
  }

  /** Atomically publish the batch (rename makes the commit visible). */
  def commit(batchId: Long, lineage: Seq[(String, Long, Long, Long)]): Unit = {
    observeWritten(batchDir(batchId), lineage.map(_._2).sum)
    val tmp = new Path(f"$outDir/_manifest/.tmp-batch-$batchId%09d.json")
    val dst = manifestPath(batchId)
    fs.mkdirs(dst.getParent)
    val body = lineage
      .map { case (part, rows, minLsn, maxLsn) =>
        s"""{"batchId":$batchId,"partition":"$part","rowCount":$rows,"minLsn":$minLsn,"maxLsn":$maxLsn}"""
      }
      .mkString("\n")
    val out = fs.create(tmp, true)
    out.write(body.getBytes("UTF-8")); out.close()
    // A replay re-commits byte-identical content, so an existing manifest
    // can be kept as-is: delete-then-rename would open a window where a
    // concurrent reader transiently sees the batch as uncommitted.
    if (fs.exists(dst)) { fs.delete(tmp, false); return }
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"manifest rename failed for batch $batchId")
  }

  private val sectionRoute =
    Map("events" -> "data", "errors" -> "error", "schema_changes" -> "schema")

  /** Committed view of one logical output (route partition pruning makes
    * this a selective directory read). `table` additionally prunes to one
    * `source.table` partition — the per-table sink view of the reference's
    * TableFilter fan-out. `asOfBatch` is snapshot time travel over the
    * commit lineage (Iceberg-style): only batches committed with id ≤ it
    * are visible, so any historical consistent state can be re-read — pure
    * manifest filtering, no data rewrite, no extra I/O.
    */
  def readCommitted(section: String, table: Option[String] = None,
      asOfBatch: Option[Long] = None): Option[DataFrame] = {
    val route = sectionRoute.getOrElse(section,
      throw new IllegalArgumentException(s"unknown section $section"))
    val floor = epochFloor
    asOfBatch.foreach(a => require(floor.forall(a >= _),
      s"asOfBatch=$a predates the compaction epoch ${floor.get} — that history was compacted away"))
    val ids = asOfBatch.fold(committedBatchIds)(b => committedBatchIds.filter(_ <= b))
    val dirs = (floor.map(compactDir).toSeq ++ ids.map(batchDir))
      .filter(d => fs.exists(new Path(d)))
    if (dirs.isEmpty) None
    else {
      // the `batch` partition-discovery column is internal dir naming
      // (compaction renames it) — never part of the committed content
      try {
        val df = spark.read.option("basePath", s"$outDir/events").parquet(dirs: _*)
          .where(col("route") === route).drop("batch")
        Some(table.fold(df)(t => df.where(col("src_table") === t)))
      } catch {
        // every committed batch is EMPTY (legal: a stream whose batches
        // were fully filtered commits dirs with no part files, so parquet
        // has nothing to infer a schema from) — committed content is
        // genuinely absent, which is exactly what None means. Matched on
        // the error CONDITION, not the message text, which is
        // Spark-version-dependent phrasing.
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) => None
      }
    }
  }

  /** One table's committed change log (partition-pruned). */
  def readTable(table: String): Option[DataFrame] =
    readCommitted("events", Some(table))

  /** Distinct tables present in the committed data route. */
  def tables(): Seq[String] =
    readCommitted("events").map(
      _.select("src_table").distinct().collect().map(_.getString(0)).sorted.toSeq)
      .getOrElse(Seq.empty)

  /** The lineage manifest as a DataFrame (metrics / audits): live per-batch
    * manifests plus the current compaction epoch's aggregated lineage.
    * Retired manifests linger one epoch cycle on disk (deferred cleanup —
    * see `compact`), so rows are filtered by the floor: live batch rows are
    * `batchId > floor`, and only the CURRENT epoch's compacted rows count.
    */
  def readManifest(): Option[DataFrame] = {
    val globs = Seq(s"$outDir/_manifest/batch-*.json", s"$outDir/_manifest/epoch-*.json")
      .filter(g => fs.globStatus(new Path(g)).nonEmpty)
    if (globs.isEmpty) None
    else {
      val m = spark.read.json(globs: _*)
      Some(epochFloor match {
        case Some(f) =>
          val compactedRow =
            if (m.columns.contains("compacted")) col("compacted") === true
            else lit(false)
          m.where(col("batchId") > f || (compactedRow && col("batchId") === f))
        case None => m
      })
    }
  }

  /** Log compaction (Iceberg `rewrite_data_files`-style bin-packing):
    * rewrite every live batch with id ≤ `upToBatch` into ONE compacted
    * snapshot directory and retire their per-batch manifests behind a
    * single epoch marker. CONTENT-PRESERVING — `readCommitted` returns
    * byte-identical rows before and after (a test pins it); what changes is
    * the file and manifest count, which over a 10^12-turn run would
    * otherwise grow without bound (one manifest + ≥1 file per micro-batch).
    *
    * Crash-safe by the same single-rename rule as `commit`:
    * staging dir → final dir → epoch marker rename is the ONLY visibility
    * flip (readers never glob data dirs — they follow manifests), and a
    * crash at any earlier point leaves an invisible orphan that the next
    * compaction overwrites. Cleanup of retired dirs/manifests runs AFTER
    * the flip; a crash mid-cleanup leaves unreferenced files only.
    *
    * Time travel: `asOfBatch` below the epoch floor is refused (that
    * history is physically merged); at or above it works unchanged.
    * Returns the new epoch floor.
    *
    * Concurrency: the flip itself is atomic, and cleanup is DEFERRED one
    * epoch — artifacts retired by this flip stay on disk until the NEXT
    * compaction, so a reader that resolved its dir list just before the
    * flip finishes its scan against the (byte-identical) retired files.
    * Physical deletion only touches artifacts invisible for a full epoch
    * cycle — Iceberg's rewrite-now-expire-later, at the cost of ≤1 extra
    * retained generation on disk. The grace window is therefore ONE epoch
    * cycle of wall time: a reader slower than that (dir list older than a
    * full cycle) can still hit deleted files — size `compactEveryBatches`
    * × trigger interval above the longest expected external scan (see the
    * config scaladoc); deletion is never gated on reader liveness.
    */
  def compact(upToBatch: Long = Long.MaxValue): Long = {
    val floor = epochFloor
    val eligible = committedBatchIds.filter(_ <= upToBatch)
    require(eligible.nonEmpty, "compact: no live batches at or below upToBatch")
    val c = eligible.max
    val srcDirs = (floor.map(compactDir).toSeq ++ eligible.map(batchDir))
      .filter(d => fs.exists(new Path(d)))
    val staging = s"$outDir/events/.staging-compact-$c"
    fs.delete(new Path(staging), true)
    // an ALL-EMPTY live history (every batch fully filtered) has no part
    // files to infer a schema from — the epoch still flips (bounding the
    // manifest) with an empty snapshot dir and empty lineage
    val src = try {
      Some(spark.read.option("basePath", s"$outDir/events").parquet(srcDirs: _*)
        .drop("batch")) // partition-discovery column of the source dirs
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) => None
    }
    src match {
      case Some(df) => writeDir(staging, df)
      case None => fs.mkdirs(new Path(staging)); ()
    }
    val dst = new Path(compactDir(c))
    fs.delete(dst, true) // orphan from a crashed earlier attempt at the same c
    if (!fs.rename(new Path(staging), dst))
      throw new java.io.IOException(s"compaction rename failed for epoch $c")
    // aggregated lineage of the compacted snapshot (same shape as commit).
    // The lsn column depends on the envelope: CDC events carry source.lsn;
    // the corpus-ingest envelope's logical lsn is ts_ms (= doc_id)
    val lineage = if (src.isEmpty) Seq.empty else {
      val snap = spark.read.option("basePath", compactDir(c)).parquet(compactDir(c))
      // "source" must be the CDC envelope STRUCT — the ingest envelope has
      // a plain string column of the same name (the document's source)
      val lsn = snap.schema.find(_.name == "source") match {
        case Some(f) if f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
          col("source.lsn")
        case _ => col("ts_ms")
      }
      snap
        .groupBy(concat_ws("/", col("route"), col("src_table"), col("p_date")).as("part"))
        .agg(count(lit(1)).as("rows"),
          coalesce(min(lsn), lit(-1L)).as("minLsn"),
          coalesce(max(lsn), lit(-1L)).as("maxLsn"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    val tmp = new Path(f"$outDir/_manifest/.tmp-epoch-$c%09d.json")
    val marker = new Path(f"$outDir/_manifest/epoch-$c%09d.json")
    val body = lineage.map { case (part, rows, minLsn, maxLsn) =>
      s"""{"batchId":$c,"partition":"$part","rowCount":$rows,"minLsn":$minLsn,"maxLsn":$maxLsn,"compacted":true}"""
    }.mkString("\n")
    val out = fs.create(tmp, true)
    out.write(body.getBytes("UTF-8")); out.close()
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"epoch marker rename failed for $c")
    // ---- visibility flipped; cleanup is DEFERRED one epoch ----
    // Artifacts retired by THIS flip (the eligible batch dirs and the
    // previous compacted dir) stay on disk until the NEXT compaction, so a
    // reader that resolved its dir list just before the flip can still
    // finish its scan — Iceberg's rewrite-now-expire-later. Only artifacts
    // already invisible for a full epoch cycle (id ≤ previous floor) are
    // physically deleted now. Manifest/visibility logic never sees the
    // stale files: committedBatchIds and readManifest filter by the floor.
    floor.foreach { p =>
      val dirName = """batch=(\d+)""".r
      fs.globStatus(new Path(s"$outDir/events/batch=*")).foreach { st =>
        st.getPath.getName match {
          case dirName(id) if id.toLong <= p => fs.delete(st.getPath, true)
          case _ =>
        }
      }
      val mName = """batch-(\d+)\.json""".r
      fs.globStatus(new Path(s"$outDir/_manifest/batch-*.json")).foreach { st =>
        st.getPath.getName match {
          case mName(id) if id.toLong <= p => fs.delete(st.getPath, false)
          case _ =>
        }
      }
      val cName = """batch=(\d+)-compact""".r
      fs.globStatus(new Path(s"$outDir/events/batch=*-compact")).foreach { st =>
        st.getPath.getName match {
          case cName(q) if q.toLong < p => fs.delete(st.getPath, true)
          case _ =>
        }
      }
      val eName = """epoch-(\d+)\.json""".r
      fs.globStatus(new Path(s"$outDir/_manifest/epoch-*.json")).foreach { st =>
        st.getPath.getName match {
          case eName(q) if q.toLong < p => fs.delete(st.getPath, false)
          case _ =>
        }
      }
    }
    c
  }
}
