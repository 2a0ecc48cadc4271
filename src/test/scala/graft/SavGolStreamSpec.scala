package graft

import java.sql.Timestamp

import graft.streaming.{SavGolPoint, SavGolStream, SensorReading}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming SG(5) equals the q252 batch filter on the same rows under any
  * micro-batch slicing — including windows straddling batch boundaries.
  */
class SavGolStreamSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1700000000L
  private def ts(sec: Long) = new Timestamp((base + sec) * 1000)

  test("streaming SavGol matches batch q252 across micro-batch boundaries") {
    implicit val ctx = spark.sqlContext
    val vals = Seq(2.0, 7.0, 3.0, 9.0, 4.0, 8.0, 5.0, 6.0)
    val all = vals.zipWithIndex.map { case (v, i) =>
      SensorReading("a", i + 1L, ts(i * 60L), v)
    }
    // slice mid-stream: windows centred on readings 3-5 straddle the cut
    val (r1, r2) = all.splitAt(4)
    val mem = MemoryStream[SensorReading]
    val q = SavGolStream.run(mem.toDS()).writeStream
      .format("memory").queryName("savgol").outputMode("append").start()
    try {
      mem.addData(r1: _*); q.processAllAvailable()
      mem.addData(r2: _*); q.processAllAvailable()
      val stream = spark.table("savgol").as[SavGolPoint].collect()
        .map(p => p.event_id -> ((p.smooth, p.resid))).toMap
      val batchDf = all
        .map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.ops.TimeSeries.savitzkyGolay(batchDf).collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[Double]("smooth"), r.getAs[Double]("resid")))).toMap
      assert(stream.keySet == batch.keySet) // ids 3..6: full windows only
      batch.foreach { case (id, (sm, rs)) =>
        assert(stream(id) == ((sm, rs)), s"id $id stream=${stream(id)}")
      }
    } finally q.stop()
  }
}
