package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.streaming.{CusumParams, CusumSnapshot, CusumStream,
  SensorReading}

/** Streaming CUSUM must equal batch q139 (`cusumFromDaily` with the same
  * train stats) EXACTLY after the same rows, whatever the micro-batch
  * slicing — including slicings that split a day across batches (the
  * open-day accumulator crosses the boundary) and slicings that split the
  * train/eval phases.
  */
class CusumStreamSpec extends SparkSpec {
  import spark.implicits._

  private val baseDay = 19700L
  private def ts(day: Long, sec: Long) =
    new Timestamp((baseDay + day) * 86400000L + sec * 1000L)

  // 20 days for "a" (two readings most days), 16 for "b"; a drifts up in
  // the last quarter (CUSUM fires), b stays flat-noisy (it doesn't)
  private def readings: Seq[SensorReading] = {
    var id = 0L
    val a = (0 until 20).flatMap { d =>
      val base = 10.0 + Seq(0.4, -0.3, 0.1, -0.2, 0.3, 0.0, -0.1)(d % 7) +
        (if (d >= 15) 2.5 + 0.5 * (d - 15) else 0.0)
      Seq(
        { id += 1; SensorReading("a", id, ts(d, 10), base - 0.25) },
        { id += 1; SensorReading("a", id, ts(d, 50), base + 0.25) })
    }
    val b = (0 until 16).map { d =>
      id += 1
      SensorReading("b", id, ts(d, 30),
        5.0 + Seq(0.2, -0.1, 0.05, -0.3, 0.15, 0.0, -0.05)(d % 7))
    }
    (a ++ b).sortBy(r => (r.ts.getTime, r.event_id))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]],
                        params: Map[String, CusumParams]): Map[String, CusumSnapshot] =
    lastPerKey(replay(slices)(CusumStream.run(_, params)))(_.event_type)

  test("streaming CUSUM matches batch q139 across three slicings") {
    val rs = readings
    val batchDf = rs.map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.cusum(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val params = graft.ops.TimeSeries
      .cusumTrainStats(graft.ops.TimeSeries.cusumDaily(batchDf))
      .collect().map(r => r.getAs[String]("event_type") ->
        CusumParams(r.getAs[Long]("n_train"), r.getAs[Double]("mu"),
          r.getAs[Double]("sigma"))).toMap

    // the data must actually exercise both verdicts
    assert(batch("a").getAs[Boolean]("drifted"),
      "fixture a should drift (raise its post-day-15 step if not)")
    assert(!batch("b").getAs[Boolean]("drifted"),
      "fixture b should stay calm")

    val byDay = (d: SensorReading) =>
      math.floorDiv(d.ts.getTime / 1000, 86400L) - baseDay
    val slicings = Seq(
      // 1: everything in one batch
      Seq(rs),
      // 2: split INSIDE day 9 (open-day accumulator crosses the boundary)
      //    and at the train/eval cut
      Seq(rs.filter(r => byDay(r) < 9 || (byDay(r) == 9 && r.ts.getTime % 86400000L < 30000L)),
          rs.filter(r => (byDay(r) == 9 && r.ts.getTime % 86400000L >= 30000L)
            || (byDay(r) > 9 && byDay(r) < 15)),
          rs.filter(r => byDay(r) >= 15)),
      // 3: one batch per 4-day block
      (0 until 5).map(blk => rs.filter(r => byDay(r) / 4 == blk)).filter(_.nonEmpty))

    for ((slices, i) <- slicings.zipWithIndex) {
      assert(slices.flatten.sortBy(_.event_id) == rs.sortBy(_.event_id),
        s"slicing $i drops rows")
      val last = runSliced(slices, params)
      for (k <- Seq("a", "b")) {
        val s = last(k); val b = batch(k)
        assert(s.n_train == b.getAs[Long]("n_train"), s"n_train $k slicing $i")
        assert(s.peak_day == b.getAs[Long]("peak_day"),
          s"peak_day $k slicing $i stream=${s.peak_day} batch=${b.getAs[Long]("peak_day")}")
        assert(s.peak == b.getAs[Double]("peak"),
          s"peak $k slicing $i stream=${s.peak} batch=${b.getAs[Double]("peak")}")
        assert(s.drifted == b.getAs[Boolean]("drifted"), s"drifted $k slicing $i")
      }
    }
  }

  test("a key missing from params is dropped loudly: one WARN per key and batch") {
    val logger = LogManager.getLogger("graft.streaming.ReadingFold")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    val seen = new ConcurrentLinkedQueue[(Level, String)]()
    val app = new AbstractAppender("cusum-skip", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getLevel -> e.getMessage.getFormattedMessage)
    }
    app.start()
    logger.addAppender(app)
    val rs = readings
    val out = try runSliced(Seq(rs.take(30), rs.drop(30)),
      Map("a" -> CusumParams(5L, 10.0, 0.5)))
    finally { logger.removeAppender(app); app.stop() }

    assert(!out.contains("b"))
    val skips = seen.asScala.toSeq.filter(_._2.contains("'b'"))
    assert(skips.map(_._1).toSet == Set(Level.WARN), skips)
    assert(skips.forall(_._2.startsWith("cusum: no parameters for key 'b'")), skips)
    // one line per micro-batch that held b's readings, with their counts
    val counts = skips.map(_._2.split("dropped ")(1).takeWhile(_.isDigit).toInt)
    assert(counts.sorted == Seq(rs.take(30), rs.drop(30))
      .map(_.count(_.event_type == "b")).filter(_ > 0).sorted, skips)
    assert(!seen.asScala.exists(_._2.contains("'a'")))
  }

  test("foldDay walks the decimal CUSUM recursion with the batch tie rule") {
    import graft.streaming.{CusumState => S}
    val p = CusumParams(5L, 10.0, 2.0)
    val s0 = S(0L, "0", "0", Double.NegativeInfinity, Long.MinValue, 0L, 0L, 0L)
    // day 0: x=9 -> term = (9-10)/2 - 0.5 = -1; cs=-1, runmin=-1, exc=0
    val s1 = CusumStream.foldDay(s0, 0L, 9.0, p, 0.5)
    assert(s1.excMax == 0.0 && s1.peakDay == 0L && s1.nDays == 1)
    // day 1: x=15 -> term = 2; cs=1, runmin=-1, exc=2
    val s2 = CusumStream.foldDay(s1, 1L, 15.0, p, 0.5)
    assert(s2.excMax == 2.0 && s2.peakDay == 1L)
    // day 2: x=10 -> term=-0.5; cs=0.5, exc=1.5 — peak unchanged
    val s3 = CusumStream.foldDay(s2, 2L, 10.0, p, 0.5)
    assert(s3.excMax == 2.0 && s3.peakDay == 1L)
    // ties keep the EARLIEST day: day 3 x=11 -> term=0, exc=1.5... then
    // day 4 x=12 -> term=0.5, cs=1.0, exc=2.0 == excMax -> peakDay stays 1
    val s4 = CusumStream.foldDay(s3, 3L, 11.0, p, 0.5)
    val s5 = CusumStream.foldDay(s4, 4L, 12.0, p, 0.5)
    assert(s5.excMax == 2.0 && s5.peakDay == 1L, "tie must keep earliest day")
    // σ=0 series: every term is exactly 0 — never drifts
    val z = CusumStream.foldDay(s0, 0L, 42.0, CusumParams(3L, 42.0, 0.0), 0.5)
    assert(z.excMax == 0.0)
  }
}
