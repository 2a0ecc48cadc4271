package graft

import java.sql.Timestamp

import graft.streaming.{Peak, PeakStream, SeriesPoint}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class PeakStreamSpec extends SparkSpec {
  import spark.implicits._

  private def pt(t: String, sec: Long, id: Long, v: Double) =
    SeriesPoint(t, new Timestamp(sec * 1000), id, v)

  test("streaming peaks match the batch census, across batch boundaries") {
    implicit val ctx = spark.sqlContext
    // series a: 1,5,1,1,7,1 → peaks at ids 1 (5.0) and 4 (7.0); the second
    // peak's neighbourhood straddles the micro-batch boundary. series b's
    // plateau (4,4) must not emit.
    val mem = MemoryStream[SeriesPoint]
    val q = PeakStream.peaks(mem.toDS()).writeStream
      .format("memory").queryName("peaks").outputMode("append").start()
    try {
      mem.addData(
        pt("a", 0, 0, 1.0), pt("a", 60, 1, 5.0), pt("a", 120, 2, 1.0),
        pt("b", 0, 10, 2.0), pt("b", 60, 11, 4.0))
      q.processAllAvailable()
      mem.addData(
        pt("a", 180, 3, 1.0), pt("a", 240, 4, 7.0), pt("a", 300, 5, 1.0),
        pt("b", 120, 12, 4.0), pt("b", 180, 13, 2.0))
      q.processAllAvailable()
      val got = spark.table("peaks").as[Peak].collect().toSeq.sortBy(_.peak_e)
      assert(got === Seq(Peak("a", 60, 1, 5.0), Peak("a", 240, 4, 7.0)))
    } finally q.stop()
  }

  test("streamed peak count equals the batch peakCensus count") {
    implicit val ctx = spark.sqlContext
    val vals = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 4.5, 6.0, 1.0, 2.0, 1.5)
    val pts = vals.zipWithIndex.map { case (v, i) => pt("s", i * 60L, i.toLong, v) }
    val mem = MemoryStream[SeriesPoint]
    val q = PeakStream.peaks(mem.toDS()).writeStream
      .format("memory").queryName("peaks2").outputMode("append").start()
    try {
      pts.grouped(3).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      val streamed = spark.table("peaks2").as[Peak].collect().length
      val batch = ops.TimeSeries.peakCensus(
          pts.toDF().select(col("event_type"), col("ts"), col("event_id"),
            col("value")))
        .agg(sum("n_peaks")).as[Long].head()
      assert(streamed.toLong === batch)
    } finally q.stop()
  }

  test("points within one second replay in full-precision ts order") {
    // q162 windows on (ts, event_id) at full precision: id 3 (10.1 s) sits
    // between id 1 and id 2 (10.9 s) and is a peak, though id 2 < id 3
    val pts = Seq(pt("s", 9, 1, 0.0),
      SeriesPoint("s", new Timestamp(10100), 3, 5.0),
      SeriesPoint("s", new Timestamp(10900), 2, 1.0),
      pt("s", 11, 4, 10.0))
    val batch = ops.TimeSeries.peakCensus(pts.toDF())
      .agg(sum("n_peaks")).as[Long].head()
    assert(batch === 1L)
    assert(replay(Seq(pts))(PeakStream.peaks) === Seq(Peak("s", 10, 3, 5.0)))
  }
}
