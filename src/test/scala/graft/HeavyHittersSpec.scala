package graft

import java.sql.Timestamp

import graft.streaming.{HeavyHitters, TokenEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("space-saving sketch keeps true heavy hitters within the overcount bound") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[TokenEvent]
    val out = HeavyHitters.sketch(mem.toDS(), capacity = 3)
    val q = out.writeStream
      .format("memory").queryName("hh").outputMode("append").start()
    try {
      // batch 1 fills the sketch exactly: a x5, b x3, c x2
      val batch1 = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c")
      mem.addData(batch1.zipWithIndex.map { case (t, i) =>
        TokenEvent("k", t, ts(f"2024-01-01 00:00:${i}%02d"))
      }: _*)
      q.processAllAvailable()
      // batch 2: a new token evicts the min (c, count 2) and inherits its
      // count as the overcount bound
      mem.addData(TokenEvent("k", "d", ts("2024-01-01 00:01:00")))
      q.processAllAvailable()

      val tLast = ts("2024-01-01 00:01:00").getTime / 1000
      val last = spark.table("hh")
        .where($"asof_epoch" === tLast)
        .select("token", "est_count", "max_overcount")
        .as[(String, Long, Long)].collect().toSeq
        .sortBy(r => (-r._2, r._1))
      assert(last === Seq(("a", 5L, 0L), ("b", 3L, 0L), ("d", 3L, 2L)))
      // sketch invariant on the evicted slot: est - overcount <= true (1) <= est
      assert(last.forall { case (_, est, over) => est - over >= 0 })
    } finally q.stop()
  }
}
