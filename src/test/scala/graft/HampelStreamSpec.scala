package graft

import java.sql.Timestamp

import graft.streaming.{HampelSnapshot, HampelStream, SensorReading}

/** Streaming Hampel must equal batch q415 (`hampelCensus`) EXACTLY after
  * the same rows, whatever the micro-batch slicing — including slicings
  * that cut through an 11-point window (the ring buffer crosses the
  * boundary mid-frame) and single-row batches.
  */
class HampelStreamSpec extends SparkSpec {
  import spark.implicits._

  // away from epoch 0: the initial watermark is 0, and a reading at
  // exactly epoch 0 would be filtered as late before reaching the operator
  private val base = 19700L * 86400000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000L)

  // series "7": a calm base with two spikes and a noisy stretch;
  // series "8": short (9 rows — every window truncated)
  private def readings: Seq[SensorReading] = {
    var id = 0L
    val a = (0 until 40).map { i =>
      val v =
        if (i == 12) 50.0
        else if (i == 30) -40.0
        else 5.0 + Seq(0.3, -0.2, 0.1, -0.4, 0.2, 0.0)(i % 6)
      id += 1; SensorReading("7", id, ts(i * 60), v)
    }
    val b = (0 until 9).map { i =>
      id += 1
      SensorReading("8", id, ts(i * 60 + 7), if (i == 4) 9.0 else 2.0)
    }
    (a ++ b).sortBy(r => (r.ts.getTime, r.event_id))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]])
      : Map[String, HampelSnapshot] =
    lastPerKey(replay(slices)(HampelStream.run(_)))(_.series_key)

  test("streaming Hampel matches batch q415 across three slicings") {
    val rs = readings
    val batchDf = rs.map(r => (r.event_id, r.ts, r.event_type.toLong, "x", r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.hampelCensus(batchDf).collect()
      .map(r => r.getAs[Long]("user_id").toString -> r).toMap

    // the fixture must exercise flags on both series
    assert(batch("7").getAs[Long]("n_flagged") >= 2L)
    assert(batch("8").getAs[Long]("n_flagged") >= 1L)

    val slicings = Seq(
      Seq(rs),                                  // one batch
      rs.grouped(7).toSeq,                      // cuts inside windows
      rs.map(Seq(_))                            // one row per batch
    )
    for ((slices, i) <- slicings.zipWithIndex) {
      val last = runSliced(slices)
      for (k <- Seq("7", "8")) {
        val s = last(k); val b = batch(k)
        assert(s.n == b.getAs[Long]("n"), s"n $k slicing $i")
        assert(s.n_flagged == b.getAs[Long]("n_flagged"),
          s"n_flagged $k slicing $i stream=${s.n_flagged} " +
            s"batch=${b.getAs[Long]("n_flagged")}")
        assert(s.flag_rate == b.getAs[Double]("flag_rate"),
          s"flag_rate $k slicing $i")
        val bw = Option(b.getAs[java.lang.Double]("worst_ratio"))
          .map(_.doubleValue())
        assert(s.worst_ratio == bw,
          s"worst_ratio $k slicing $i stream=${s.worst_ratio} batch=$bw")
      }
    }
  }

  test("verdict reproduces the batch window formula on even frames") {
    // even-length frame: median is the midpoint of the two middle values
    val win = Array(1.0, 2.0, 3.0, 10.0)
    // med = 2.5, deviations |x-2.5| = [1.5, 0.5, 0.5, 7.5] -> mad = 1.0
    // fence = 4.4478; x = 10 -> dev 7.5 > fence, ratio 7.5/4.4478
    val (fl, ratio) = HampelStream.verdict(win, 10.0)
    assert(fl)
    assert(math.abs(ratio.get - 7.5 / (3.0 * 1.4826 * 1.0)) < 1e-12)
    // constant frame: mad 0, fence 0 -> nonzero deviation flags, no ratio
    val (fl2, r2) = HampelStream.verdict(Array(5.0, 5.0, 5.0), 5.0)
    assert(!fl2 && r2.isEmpty)
  }
}
