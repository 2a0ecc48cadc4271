package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{HoltSnapshot, HoltStream, SensorReading}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming Holt equals the q251 batch fold on the same rows regardless
  * of micro-batch slicing — including a slice landing mid-day, so the
  * open-day accumulator survives a batch boundary before folding.
  */
class HoltStreamSpec extends SparkSpec {
  import spark.implicits._

  // align to whole UTC days, away from epoch 0 (initial-watermark discard)
  private val baseDay = 19700L
  private def ts(day: Long, sec: Long) =
    new Timestamp((baseDay + day) * 86400000L + sec * 1000L)

  test("streaming Holt matches batch q251 across micro-batch boundaries") {
    // day 2 is split across micro-batches r2/r3, so the open-day
    // accumulator must survive a batch boundary; batches advance event
    // time so no key falls behind the global watermark
    val r1 = Seq(
      SensorReading("a", 1L, ts(0, 10), 8.0),
      SensorReading("a", 2L, ts(0, 20), 12.0),
      SensorReading("b", 3L, ts(0, 5), 1.0),
      SensorReading("a", 4L, ts(1, 10), 13.0),
      SensorReading("b", 5L, ts(1, 5), 2.0))
    val r2 = Seq(
      SensorReading("a", 6L, ts(2, 10), 16.0),
      SensorReading("b", 7L, ts(2, 5), 4.0))
    val r3 = Seq(
      SensorReading("a", 8L, ts(2, 20), 18.0))
    // the memory sink appends in batch order: the LAST snapshot per
    // key is the end-of-stream view
    val last = lastPerKey(replay(Seq(r1, r2, r3))(HoltStream.run(_)))(
      _.event_type)
    val batchDf = (r1 ++ r2 ++ r3)
      .map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.holtLinear(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    for (k <- Seq("a", "b")) {
      val s = last(k); val b = batch(k)
      assert(s.n_days == b.getAs[Long]("n_days"))
      assert(s.level == b.getAs[Double]("level"),
        s"level $k stream=${s.level} batch=${b.getAs[Double]("level")}")
      assert(s.trend == b.getAs[Double]("trend"))
      assert(s.forecast_7d == b.getAs[Double]("forecast_7d"))
      assert(s.mae == b.getAs[Double]("mae"))
    }
  }

  test("the open-day accumulator survives a checkpointed query restart") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("holt_ckpt").toString
    val mem = MemoryStream[SensorReading]
    // one query run per call on the SAME checkpoint; returns what it emitted
    def runOnce(rows: Seq[SensorReading]): Seq[HoltSnapshot] = {
      val got = new ConcurrentLinkedQueue[HoltSnapshot]()
      val q = HoltStream.run(mem.toDS()).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[HoltSnapshot], _: Long) =>
          b.collect().foreach(got.add) }
        .start()
      try { mem.addData(rows); q.processAllAvailable() }
      finally q.stop()
      got.asScala.toSeq
    }
    // day 2 is split across the stop: its open-day sum and count exist
    // only in the state the first run checkpointed
    val before = Seq(
      SensorReading("a", 1L, ts(0, 10), 8.0),
      SensorReading("b", 2L, ts(0, 5), 1.0),
      SensorReading("a", 3L, ts(1, 10), 13.0),
      SensorReading("b", 4L, ts(1, 5), 2.0),
      SensorReading("a", 5L, ts(2, 10), 16.0),
      SensorReading("b", 6L, ts(2, 5), 4.0))
    val after = Seq(
      SensorReading("a", 7L, ts(2, 20), 18.0),
      SensorReading("b", 8L, ts(2, 50), 5.0))
    runOnce(before)
    val last = lastPerKey(runOnce(after))(_.event_type)

    val batchDf = (before ++ after)
      .map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.holtLinear(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    for (k <- Seq("a", "b")) {
      val b = batch(k)
      assert(last(k) == HoltSnapshot(k, b.getAs[Long]("n_days"),
        b.getAs[Double]("level"), b.getAs[Double]("trend"),
        b.getAs[Double]("forecast_7d"), b.getAs[Double]("mae")))
    }
  }

  test("foldDay walks the textbook Holt recursion") {
    import graft.streaming.{HoltState => S}
    val s0 = S(0L, 0.0, 0.0, 0.0, 0.0, 0L, 0L, 0L)
    val s2 = HoltStream.foldDay(HoltStream.foldDay(s0, 10.0), 13.0)
    assert(s2.l == 13.0 && s2.b == 3.0) // init: l=x2, b=x2-x1
    val s3 = HoltStream.foldDay(s2, 17.0)
    // l3 = .5*17 + .5*16 = 16.5; b3 = .3*3.5 + .7*3 = 3.15; err = 1
    assert(s3.l == 16.5 && s3.b == 3.15 && s3.sae == 1.0)
  }
}
