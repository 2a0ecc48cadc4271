package graft

import java.sql.Timestamp

import graft.streaming.{SensorReading, TwaSnapshot, TwaStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming TWA equals the q234 batch TWA on the same rows regardless of
  * micro-batch slicing.
  */
class TwaStreamSpec extends SparkSpec {
  import spark.implicits._

  // offset from a modern base: an event time of exactly epoch 0 sits on
  // the stream's initial watermark and is discarded as late
  private val base = 1700000000L
  private def ts(sec: Long) = new Timestamp((base + sec) * 1000)

  test("streaming TWA matches batch TWA across micro-batch boundaries") {
    implicit val ctx = spark.sqlContext
    val r1 = Seq(
      SensorReading("a", 1L, ts(0), 0.0),
      SensorReading("a", 2L, ts(90), 10.0),
      SensorReading("b", 3L, ts(10), 5.0))
    val r2 = Seq(
      SensorReading("a", 4L, ts(91), 10.0),
      SensorReading("a", 5L, ts(92), 10.0),
      SensorReading("b", 6L, ts(70), 7.0))
    val mem = MemoryStream[SensorReading]
    val q = TwaStream.run(mem.toDS()).writeStream
      .format("memory").queryName("twa").outputMode("append").start()
    try {
      mem.addData(r1: _*); q.processAllAvailable()
      mem.addData(r2: _*); q.processAllAvailable()
      val last = spark.table("twa").as[TwaSnapshot].collect()
        .groupBy(_.event_type).map { case (k, snaps) =>
          k -> snaps.maxBy(_.n)
        }
      // batch reference over ALL rows through the q234 plan
      val batchDf = (r1 ++ r2)
        .map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.ops.TimeSeries.timeWeightedAvg(batchDf)
        .collect().map(r => r.getAs[String]("event_type") -> r).toMap
      for (k <- Seq("a", "b")) {
        assert(math.abs(last(k).twa
          - batch(k).getAs[Double]("twa")) < 1e-4,
          s"key $k stream=${last(k).twa} batch=${batch(k).getAs[Double]("twa")}")
        assert(math.abs(last(k).plain_mean
          - batch(k).getAs[Double]("plain_mean")) < 1e-4)
      }
      // late-but-in-order second batch for b extended its span
      assert(last("b").span_sec == 60)
    } finally q.stop()
  }
}
