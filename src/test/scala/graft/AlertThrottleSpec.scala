package graft

import java.sql.Timestamp

import graft.streaming.{AlertThrottle, ScoreEvent, ThrottledAlert}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class AlertThrottleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("one alert per cooldown; suppressed crossings ride the next alert") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[ScoreEvent]
    val out = AlertThrottle.throttle(mem.toDS(), threshold = 0.8, cooldownSec = 600)
    val q = out.writeStream
      .format("memory").queryName("alerts").outputMode("append").start()
    try {
      mem.addData(
        ScoreEvent("s1", ts("2024-01-01 00:00:00"), 0.9),  // alert
        ScoreEvent("s1", ts("2024-01-01 00:02:00"), 0.95), // suppressed
        ScoreEvent("s1", ts("2024-01-01 00:05:00"), 0.85), // suppressed
        ScoreEvent("s1", ts("2024-01-01 00:04:00"), 0.5),  // below threshold
        ScoreEvent("s2", ts("2024-01-01 00:03:00"), 0.99)) // alert (own key)
      q.processAllAvailable()
      mem.addData(
        ScoreEvent("s1", ts("2024-01-01 00:12:00"), 0.88)) // cooldown over -> alert
      q.processAllAvailable()

      val got = spark.table("alerts").as[ThrottledAlert].collect().toSeq
        .sortBy(a => (a.sensor, a.ts_epoch))
      val t0 = ts("2024-01-01 00:00:00").getTime / 1000
      assert(got === Seq(
        ThrottledAlert("s1", t0, 0.9, 0),
        ThrottledAlert("s1", t0 + 720, 0.88, 2),
        ThrottledAlert("s2", t0 + 180, 0.99, 0)))
    } finally q.stop()
  }

  test("stale timer from a previous alert cannot wipe a live cooldown") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[ScoreEvent]
    val out = AlertThrottle.throttle(mem.toDS(), threshold = 0.8,
      cooldownSec = 600, watermarkDelay = "1 second")
    val q = out.writeStream
      .format("memory").queryName("alerts3").outputMode("append").start()
    try {
      // alert #1 at t=0 registers a hygiene timer at t=600
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:00:00"), 0.9))
      q.processAllAvailable()
      // alert #2 at t=720 (cooldown over): must RETIRE the t=600 timer
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:12:00"), 0.88))
      q.processAllAvailable()
      // watermark is now past t=600 — a stale timer would fire this batch
      // and wipe alert #2's live cooldown; both crossings below are inside
      // that cooldown and must be SUPPRESSED, not re-alerted
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:15:00"), 0.95))
      q.processAllAvailable()
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:18:00"), 0.90))
      q.processAllAvailable()
      // cooldown over: the suppression count must have survived intact
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:35:00"), 0.86))
      q.processAllAvailable()

      val got = spark.table("alerts3").as[ThrottledAlert].collect().toSeq
        .sortBy(_.ts_epoch)
      val t0 = ts("2024-01-01 00:00:00").getTime / 1000
      assert(got === Seq(
        ThrottledAlert("s1", t0, 0.9, 0),
        ThrottledAlert("s1", t0 + 720, 0.88, 0),
        ThrottledAlert("s1", t0 + 2100, 0.86, 2)))
    } finally q.stop()
  }

  test("timer clears idle state after the watermark passes the cooldown") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[ScoreEvent]
    // tiny watermark delay so the timer can actually fire in-test
    val out = AlertThrottle.throttle(mem.toDS(), threshold = 0.8,
      cooldownSec = 60, watermarkDelay = "1 second")
    val q = out.writeStream
      .format("memory").queryName("alerts2").outputMode("append").start()
    try {
      mem.addData(ScoreEvent("s1", ts("2024-01-01 00:00:00"), 0.9))
      q.processAllAvailable()
      // advance the watermark far past s1's cooldown -> timer fires, state drops
      mem.addData(ScoreEvent("s9", ts("2024-01-01 01:00:00"), 0.1))
      q.processAllAvailable()
      // s1 crossing again long after: fresh state -> n_suppressed == 0
      mem.addData(ScoreEvent("s1", ts("2024-01-01 01:01:00"), 0.85))
      q.processAllAvailable()

      val got = spark.table("alerts2").as[ThrottledAlert].collect().toSeq
        .sortBy(_.ts_epoch)
      assert(got.map(_.score) === Seq(0.9, 0.85))
      assert(got.last.n_suppressed === 0L)
    } finally q.stop()
  }
}
