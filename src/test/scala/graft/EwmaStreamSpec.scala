package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{EwmaPoint, EwmaStream, SensorReading}

/** Streaming EWMA must equal the batch q110 window EXACTLY after the same
  * rows under any micro-batch slicing — including rings straddling batch
  * boundaries.
  */
class EwmaStreamSpec extends SparkSpec {
  import spark.implicits._

  private val base = 19700L * 86400000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000L)

  private def readings: Seq[SensorReading] = {
    var id = 0L
    def r(k: String, sec: Long, v: Double) = {
      id += 1; SensorReading(k, id, ts(sec), v)
    }
    val a = (0 until 14).map(i => r("a", i * 60, 10.0 + 3.1 * (i % 5) - i * 0.2))
    val b = (0 until 11).map(i => r("b", i * 45 + 7, 5.0 + (i % 3) * 1.7))
    (a ++ b).sortBy(x => (x.ts.getTime, x.event_id))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]]): Seq[EwmaPoint] = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val name = s"ewma_${System.nanoTime()}"
    val q = EwmaStream.run(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      slices.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      spark.table(name).as[EwmaPoint].collect().toSeq
    } finally q.stop()
  }

  test("streaming EWMA matches batch q110 across three slicings") {
    val rs = readings
    // batch q110 partitions by user_id — key each event_type distinctly
    val keyOf = Map("a" -> 1L, "b" -> 2L)
    val batchDf = rs.map(r => (r.event_id, r.ts, keyOf(r.event_type),
      r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.TimeSeries.ewma(batchDf)
      .collect()
      .map(r => r.getAs[Long]("event_id")
        -> (r.getAs[Int]("rn").toLong, r.getAs[Double]("ewma"))).toMap

    val slicings = Seq(
      Seq(rs),
      // boundary in the middle of both rings
      Seq(rs.take(9), rs.slice(9, 18), rs.drop(18)),
      rs.grouped(4).toSeq)

    for ((slices, i) <- slicings.zipWithIndex) {
      val got = runSliced(slices)
      assert(got.size == batch.size, s"slicing $i: ${got.size} != ${batch.size}")
      for (p <- got) {
        val (brn, bewma) = batch(p.event_id)
        assert(p.rn == brn, s"rn for event ${p.event_id} slicing $i")
        assert(p.ewma == bewma,
          s"ewma for event ${p.event_id} slicing $i stream=${p.ewma} batch=$bewma")
      }
    }
  }
}
