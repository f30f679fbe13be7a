package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark JVM entry point. `run.py` starts it once per workload, and in a
  * traced run once more at `local[1]` for the scaling baseline:
  *
  *   perfbench.Main <workload> key=value...
  *
  * keys: seed, seconds, trace (0|1), cores, work (scratch dir inside the
  * checkout), out (result JSON path), plus workload-specific keys.
  */
object Main {

  final case class Args(workload: String, kv: Map[String, String]) {
    def str(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
    def trace: Boolean = kv.get("trace").contains("1")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.head, argv.tail.map { s =>
      val i = s.indexOf('=')
      s.take(i) -> s.drop(i + 1)
    }.toMap)
    // a benchmark replay is a declared replay: no live-latency alerting
    sys.props("graft.replayMode") = "true"
    val res = new Result
    val tr = new Tracer(a.trace)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(a.int("cores"), s"perfbench-${a.workload}")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    res.raw("session_s") = (System.nanoTime() - t0) / 1e9
    try {
      a.workload match {
        case "cdc" => Cdc.run(spark, a, res, tr)
        case "cdc-scale" => Cdc.scale(spark, a, res)
        case "stateful" => Stateful.run(spark, a, res, tr)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.raw("peak_rss_mb") = Common.peakRssMb
      if (tr.enabled)
        tr.dump(a.str("out") + ".trace.json", Map("workload" -> a.workload,
          "seed" -> a.long("seed"), "layers" -> res.raw.getOrElse("layers", Map.empty),
          "per_batch" -> res.raw.getOrElse("per_batch", Seq.empty)))
      Json.writeFile(a.str("out"), res.toMap)
    } finally spark.stop()
  }
}

object Common {

  /** Row count plus an order-independent content hash (sum of per-row
    * xxhash64 as an exact decimal), so two runs, or a streaming output and
    * its batch twin, can be shown to hold the same rows.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = fingerprintCols(df)
    val r = df.agg(cols.head, cols.tail: _*).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** The two aggregates `fingerprint` computes, for use in an `Observation`. */
  def fingerprintCols(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")
    Seq(count(lit(1)).as("fp_rows"), sum(h).as("fp_hash"))
  }

  def observedFingerprint(o: org.apache.spark.sql.Observation): (Long, String) = {
    val m = o.get
    (m("fp_rows").asInstanceOf[Long],
      Option(m("fp_hash")).map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0"))
  }

  def fpMap(fp: (Long, String)): Map[String, Any] = Map("rows" -> fp._1, "hash" -> fp._2)

  /** Peak resident set of this JVM (VmHWM), including off-heap memory such
    * as RocksDB's.
    */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** ALU and memory-bandwidth canaries, so load on the box shows in the
    * artifact of every run.
    */
  def canaries(cores: Int): Map[String, Any] = {
    val alu = graft.ScalingBench.lcgBurn(cores, 100000000L) / 1e9
    val mem = graft.ScalingBench.memBurn(cores, 4) / 1e9
    System.err.println(f"[perfbench] canaries: alu=$alu%.2f Giters/s mem=$mem%.1f GB/s")
    Map("alu_giters_per_s" -> alu, "mem_gb_per_s" -> mem)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def fs(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  def rmrf(spark: SparkSession, dir: String): Unit = {
    fs(spark).delete(new org.apache.hadoop.fs.Path(dir), true); ()
  }

  /** Move the part files of a Spark output dir to `dst/<name(i)>`, in part
    * order, and drop the output dir.
    */
  def movePartFiles(spark: SparkSession, srcDir: String, dstDir: String)(name: Int => String): Int = {
    val f = fs(spark)
    val parts = f.globStatus(new org.apache.hadoop.fs.Path(s"$srcDir/part-*.parquet"))
      .sortBy(_.getPath.getName)
    f.mkdirs(new org.apache.hadoop.fs.Path(dstDir))
    parts.zipWithIndex.foreach { case (st, i) =>
      if (!f.rename(st.getPath, new org.apache.hadoop.fs.Path(s"$dstDir/${name(i)}")))
        throw new java.io.IOException(s"rename failed: ${st.getPath}")
    }
    f.delete(new org.apache.hadoop.fs.Path(srcDir), true)
    parts.length
  }

  /** Wait until `cond` holds; fail loudly after `timeoutMs`. */
  def await(what: String, timeoutMs: Long, pollMs: Long = 2L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out after ${timeoutMs}ms waiting for $what")
      Thread.sleep(pollMs)
    }
  }
}
