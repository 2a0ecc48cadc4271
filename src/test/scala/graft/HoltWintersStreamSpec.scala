package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{HoltWintersStream, HwSnapshot, SensorReading}

/** Streaming Holt-Winters must equal the batch q273 fold EXACTLY after the
  * same rows, whatever the micro-batch slicing — including slicings that
  * split a day across batches (the open-day accumulator crosses the
  * boundary) and slicings that split the 14-day initialization window.
  */
class HoltWintersStreamSpec extends SparkSpec {
  import spark.implicits._

  private val baseDay = 19700L
  private def ts(day: Long, sec: Long) =
    new Timestamp((baseDay + day) * 86400000L + sec * 1000L)

  // 17 days for "a" (two readings some days), 15 for "b": both initialize
  // (>= 14 days) and walk the post-init recursion; weekly-ish pattern with
  // drift so every seasonal slot gets distinct values
  private def readings: Seq[SensorReading] = {
    var id = 0L
    val a = (0 until 17).flatMap { d =>
      val base = 10.0 + 0.3 * d + Seq(2.0, -1.0, 0.5, 3.0, -2.5, 1.5, 0.0)(d % 7)
      Seq(
        { id += 1; SensorReading("a", id, ts(d, 10), base - 0.5) },
        { id += 1; SensorReading("a", id, ts(d, 50), base + 0.5) })
    }
    val b = (0 until 15).map { d =>
      id += 1
      SensorReading("b", id, ts(d, 30),
        5.0 - 0.1 * d + Seq(1.0, 0.0, -1.0, 2.0, 0.5, -0.5, 1.5)(d % 7))
    }
    (a ++ b).sortBy(r => (r.ts.getTime, r.event_id))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]]): Map[String, HwSnapshot] = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val name = s"hw_${System.nanoTime()}"
    val q = HoltWintersStream.run(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      slices.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      spark.table(name).as[HwSnapshot].collect()
        .zipWithIndex.groupBy(_._1.event_type)
        .map { case (k, arr) => k -> arr.maxBy(_._2)._1 }
    } finally q.stop()
  }

  test("streaming Holt-Winters matches batch q273 across three slicings") {
    val rs = readings
    val batchDf = rs.map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.holtWinters(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap

    // slicing 1: everything in one batch
    // slicing 2: split INSIDE day 8 (per-day accumulator crosses a batch
    //            boundary mid-initialization) and inside day 15
    // slicing 3: one batch per 3-day block
    val byDay = (d: SensorReading) =>
      math.floorDiv(d.ts.getTime / 1000, 86400L) - baseDay
    val slicings = Seq(
      Seq(rs),
      Seq(rs.filter(r => byDay(r) < 8 || (byDay(r) == 8 && r.ts.getTime % 86400000L < 30000L)),
          rs.filter(r => (byDay(r) == 8 && r.ts.getTime % 86400000L >= 30000L)
            || (byDay(r) > 8 && byDay(r) < 15)),
          rs.filter(r => byDay(r) >= 15)),
      (0 until 6).map(blk => rs.filter(r => byDay(r) / 3 == blk)).filter(_.nonEmpty))

    for ((slices, i) <- slicings.zipWithIndex) {
      assert(slices.flatten.sortBy(_.event_id) == rs.sortBy(_.event_id),
        s"slicing $i drops rows")
      val last = runSliced(slices)
      for (k <- Seq("a", "b")) {
        val s = last(k); val b = batch(k)
        assert(s.n_days == b.getAs[Long]("n_days"), s"n_days $k slicing $i")
        assert(s.level == b.getAs[Double]("level"),
          s"level $k slicing $i stream=${s.level} batch=${b.getAs[Double]("level")}")
        assert(s.trend == b.getAs[Double]("trend"), s"trend $k slicing $i")
        assert(s.forecast_1 == b.getAs[Double]("forecast_1"), s"forecast $k slicing $i")
        assert(s.s_amplitude == b.getAs[Double]("s_amplitude"), s"amp $k slicing $i")
        assert(s.mae == b.getAs[Double]("mae"), s"mae $k slicing $i")
      }
    }
  }

  test("foldDay initializes on day 14 and walks the snapped recursion") {
    import graft.streaming.{HwState => S}
    val s0 = S(0L, Nil, 0.0, 0.0, Nil, 0.0, 0L, 0L, 0L)
    val means = (1 to 14).map(_.toDouble)
    val init = means.foldLeft(s0)(HoltWintersStream.foldDay)
    // w1 = mean(1..7) = 4, w2 = mean(8..14) = 11, b = 1, s_i = x_i - 4
    assert(init.nClosed == 14 && init.l == 4.0 && init.b == 1.0)
    assert(init.s == (1 to 7).map(_ - 4.0))
    val s15 = HoltWintersStream.foldDay(init, 9.0)
    // slot = 14 % 7 = 0 -> s(0) = -3; l = .4*(9-(-3)) + .6*(4+1) = 7.8
    // b = .2*(7.8-4) + .8*1 = 1.56; s0' = .3*(9-7.8) + .7*(-3) = -1.74
    // err = |9 - (4 + 1 + (-3))| = 7
    assert(s15.l == 7.8 && s15.b == 1.56 && s15.s.head == -1.74
      && s15.sae == 7.0 && s15.nClosed == 15)
  }
}
