package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}

import graft.model.Turn

/** Self-test of the CEP twin check (`Stateful.cepTwin`): the true streaming
  * output passes, and planted wrong outputs fail. Run by
  * `perfbench/selftest.py`; exits non-zero on a failed case.
  */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(1, "perfbench-selftest")
    try {
      val failures = cases(spark).collect { case (name, false) => name }
      failures.foreach(n => System.err.println(s"[selftest] FAILED $n"))
      println(s"[selftest] cep twin: ${if (failures.isEmpty) "OK" else "FAILED"}")
      if (failures.nonEmpty) sys.exit(1)
    } finally spark.stop()
  }

  private def t(idx: Int, role: String, tool: Option[String], sec: Long): Turn =
    Turn("c1", idx, role, s"text-$idx", tool, new Timestamp(1700000000000L + sec * 1000))

  def cases(spark: SparkSession): Seq[(String, Boolean)] = {
    import spark.implicits._
    // roundtrip 1→2 inside the horizon, roundtrip 4→5 spanning 20 min,
    // user repeat 6→7, and call 8 still open when the input ends
    val turns = Seq(
      t(0, "user", None, 0), t(1, "assistant", Some("sql"), 10), t(2, "tool", Some("sql"), 20),
      t(3, "user", None, 30), t(4, "assistant", Some("python"), 40),
      t(5, "tool", Some("python"), 40 + 1200), t(6, "user", None, 1300), t(7, "user", None, 1310),
      t(8, "assistant", Some("search"), 1320))
    val df = spark.createDataset(turns).toDF()
    val want = Stateful.batchTwin("cep", df)
    val batch = want.collect().toSeq
    val schema = want.schema
    def row(p: String, si: Int, ei: Int, st: Long, et: Long, d: String): Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(Array[Any]("c1", p, si, ei,
        new Timestamp(1700000000000L + st), new Timestamp(1700000000000L + et), d), schema)
    val h = Stateful.HorizonMs
    val expiredOpen = row("unanswered_tool_call", 8, 8, 1320000L, 1320000L + h, "search")
    val expiredLong = row("unanswered_tool_call", 4, 4, 40000L, 40000L + h, "python")
    val isLong = (r: Row) => r.getAs[Int]("start_turn") == 4
    val isShort = (r: Row) => r.getAs[Int]("start_turn") == 1
    def ok(got: Seq[Row]) = Stateful.cepTwin(spark, got, want, df)._1
    Seq(
      "batch output plus the open call's expiry passes" -> ok(batch :+ expiredOpen),
      "long roundtrip expired instead passes" -> ok(batch.filterNot(isLong) ++ Seq(expiredLong, expiredOpen)),
      "missing open-call expiry fails" -> !ok(batch),
      "dropped row fails" -> !ok(batch.filterNot(isShort) :+ expiredOpen),
      "duplicated row fails" -> !ok(batch ++ Seq(batch.head, expiredOpen)),
      "short roundtrip expired fails" -> !ok(batch.filterNot(isShort) ++ Seq(
        row("unanswered_tool_call", 1, 1, 10000L, 10000L + h, "sql"), expiredOpen)))
  }
}
