package graft

import java.sql.Timestamp

import graft.streaming.{KalmanSnapshot, KalmanStream, SensorReading}

/** Streaming Kalman must equal the batch q287 fold EXACTLY after the same
  * rows, whatever the micro-batch slicing — including slicings that split
  * a day across batches.
  */
class KalmanStreamSpec extends SparkSpec {
  import spark.implicits._

  private val baseDay = 19700L
  private def ts(day: Long, sec: Long) =
    new Timestamp((baseDay + day) * 86400000L + sec * 1000L)

  private def readings: Seq[SensorReading] = {
    var id = 0L
    val a = (0 until 9).flatMap { d =>
      val base = 20.0 + 1.5 * d + Seq(3.0, -2.0, 0.0)(d % 3)
      Seq(
        { id += 1; SensorReading("a", id, ts(d, 10), base - 1.0) },
        { id += 1; SensorReading("a", id, ts(d, 40), base + 1.0) })
    }
    val b = (0 until 7).map { d =>
      id += 1
      SensorReading("b", id, ts(d, 25), 4.0 - 0.2 * d + Seq(0.5, -0.5)(d % 2))
    }
    (a ++ b).sortBy(r => (r.ts.getTime, r.event_id))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]]): Map[String, KalmanSnapshot] =
    lastPerKey(replay(slices)(KalmanStream.run(_)))(_.event_type)

  test("streaming Kalman matches batch q287 across three slicings") {
    val rs = readings
    val batchDf = rs.map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.kalman1d(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap

    val byDay = (d: SensorReading) =>
      math.floorDiv(d.ts.getTime / 1000, 86400L) - baseDay
    val slicings = Seq(
      Seq(rs),
      // split INSIDE day 4 so the open-day accumulator crosses a boundary
      Seq(rs.filter(r => byDay(r) < 4
            || (byDay(r) == 4 && r.ts.getTime % 86400000L < 20000L)),
          rs.filter(r => (byDay(r) == 4 && r.ts.getTime % 86400000L >= 20000L)
            || byDay(r) > 4)),
      (0 until 5).map(blk => rs.filter(r => byDay(r) / 2 == blk))
        .filter(_.nonEmpty))

    for ((slices, i) <- slicings.zipWithIndex) {
      assert(slices.flatten.sortBy(_.event_id) == rs.sortBy(_.event_id),
        s"slicing $i drops rows")
      val last = runSliced(slices)
      for (k <- Seq("a", "b")) {
        val s = last(k); val b = batch(k)
        assert(s.n_days == b.getAs[Long]("n_days"), s"n_days $k slicing $i")
        assert(s.level == b.getAs[Double]("level"),
          s"level $k slicing $i stream=${s.level} batch=${b.getAs[Double]("level")}")
        assert(s.p_var == b.getAs[Double]("p_var"), s"p $k slicing $i")
        assert(s.gain == b.getAs[Double]("gain"), s"gain $k slicing $i")
        assert(s.mean_abs_innov == b.getAs[Double]("mean_abs_innov"),
          s"innov $k slicing $i")
      }
    }
  }

  test("foldDay walks the snapped Kalman recursion") {
    import graft.streaming.{KalmanState => S}
    val s0 = S(0L, 0.0, 0.0, 0.0, 0.0, 0L, 0L, 0L)
    val s1 = KalmanStream.foldDay(s0, 10.0)
    assert(s1.x == 10.0 && s1.p == 1.0 && s1.nClosed == 1)
    val s2 = KalmanStream.foldDay(s1, 12.0)
    // k = 1.1/2.1 = 0.523809523810 (snapped); x = 10 + k*2; p = (1-k)*1.1
    assert(s2.k == 0.52380952381)
    assert(s2.x == 10.0 + 0.52380952381 * 2.0)
    assert(s2.sae == 2.0)
  }
}
