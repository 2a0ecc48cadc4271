package graft

import java.sql.Timestamp

import graft.streaming.{SensorReading, TwaStream}

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
    val r1 = Seq(
      SensorReading("a", 1L, ts(0), 0.0),
      SensorReading("a", 2L, ts(90), 10.0),
      SensorReading("b", 3L, ts(10), 5.0))
    val r2 = Seq(
      SensorReading("a", 4L, ts(91), 10.0),
      SensorReading("a", 5L, ts(92), 10.0),
      SensorReading("b", 6L, ts(70), 7.0))
    val last = lastPerKey(replay(Seq(r1, r2))(TwaStream.run(_)))(_.event_type)
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
  }

  test("readings within one second fold in event_id order, as q234 orders them") {
    // q234 orders by (unix_timestamp(ts), event_id): ids 1 and 2 share
    // second 0, so id 2 (+0.1 s, value 10) is the sample held into second
    // 1 even though id 1 (+0.9 s, value 0) is later in time
    val rs = Seq(
      SensorReading("a", 1L, new Timestamp(base * 1000 + 900), 0.0),
      SensorReading("a", 2L, new Timestamp(base * 1000 + 100), 10.0),
      SensorReading("a", 3L, ts(1), 4.0))
    val last = lastPerKey(replay(Seq(rs))(TwaStream.run(_)))(_.event_type)
    val batchDf = rs
      .map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.timeWeightedAvg(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(batch("a").getAs[Double]("twa") == 7.0)
    assert(last("a").twa == 7.0, s"stream=${last("a").twa}")
  }
}
