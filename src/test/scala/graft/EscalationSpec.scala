package graft

import java.sql.Timestamp

import graft.streaming.{Escalation, ScoreEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class EscalationSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("escalates exactly when a run of consecutive crossings reaches the bar") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[ScoreEvent]
    val out = Escalation.escalate(mem.toDS(), threshold = 0.8, minRun = 3, gapSec = 600)
    val q = out.writeStream
      .format("memory").queryName("esc").outputMode("append").start()
    try {
      // run of 2, broken, then a clean run of 3 across TWO batches
      mem.addData(
        ScoreEvent("s1", ts("2024-01-01 00:00:00"), 0.9),
        ScoreEvent("s1", ts("2024-01-01 00:01:00"), 0.9),
        ScoreEvent("s1", ts("2024-01-01 00:02:00"), 0.1), // reset
        ScoreEvent("s1", ts("2024-01-01 00:03:00"), 0.85),
        ScoreEvent("s1", ts("2024-01-01 00:04:00"), 0.85))
      q.processAllAvailable()
      mem.addData(
        ScoreEvent("s1", ts("2024-01-01 00:05:00"), 0.95), // 3rd in a row
        ScoreEvent("s1", ts("2024-01-01 00:06:00"), 0.95)) // 4th: no re-fire
      q.processAllAvailable()

      val got = spark.table("esc").as[Escalation].collect().toSeq
      val t0 = ts("2024-01-01 00:00:00").getTime / 1000
      assert(got === Seq(Escalation("s1", t0 + 300, 3, 0.95)))
    } finally q.stop()
  }

  test("a time gap breaks a run even when all samples cross") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[ScoreEvent]
    val out = Escalation.escalate(mem.toDS(), threshold = 0.8, minRun = 3, gapSec = 120)
    val q = out.writeStream
      .format("memory").queryName("esc2").outputMode("append").start()
    try {
      mem.addData(
        ScoreEvent("s1", ts("2024-01-01 00:00:00"), 0.9),
        ScoreEvent("s1", ts("2024-01-01 00:01:00"), 0.9),
        ScoreEvent("s1", ts("2024-01-01 00:30:00"), 0.9), // > gap: run restarts
        ScoreEvent("s1", ts("2024-01-01 00:31:00"), 0.9))
      q.processAllAvailable()
      assert(spark.table("esc2").count() === 0L)
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:32:00"), 0.9)) // 3rd of new run
      q.processAllAvailable()
      val got = spark.table("esc2").as[Escalation].collect().toSeq
      assert(got.map(_.run_length) === Seq(3L))
    } finally q.stop()
  }
}
