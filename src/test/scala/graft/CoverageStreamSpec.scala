package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{CoverageSnapshot, CoverageStream, SensorReading}

/** Streaming interval-union coverage must equal the batch q290 sweep
  * EXACTLY after the same rows, under any micro-batch slicing — including
  * a slicing that splits an open merged segment across batches.
  */
class CoverageStreamSpec extends SparkSpec {
  import spark.implicits._

  private val base = 19700L * 86400000L
  private def ts(sec: Long) = new Timestamp(base + sec * 1000L)

  // len=60s: overlapping, touching, gapped, and duplicate intervals
  private def readings: Seq[SensorReading] = {
    var id = 0L
    def r(k: String, sec: Long) = { id += 1; SensorReading(k, id, ts(sec), 1.0) }
    Seq(
      r("a", 0), r("a", 30), r("a", 90),        // merge chain: [0,150)
      r("a", 300), r("a", 300),                 // duplicate start
      r("a", 500),
      r("b", 10), r("b", 200), r("b", 260), r("b", 1000))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]]): Map[String, CoverageSnapshot] = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val name = s"cov_${System.nanoTime()}"
    val q = CoverageStream.run(mem.toDS(), lenSec = 60).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      slices.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      spark.table(name).as[CoverageSnapshot].collect()
        .zipWithIndex.groupBy(_._1.event_type)
        .map { case (k, arr) => k -> arr.maxBy(_._2)._1 }
    } finally q.stop()
  }

  test("streaming coverage matches batch q290 across three slicings") {
    val rs = readings
    val batchDf = rs.map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.Ranges.intervalCoverage(batchDf, lenSec = 60)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap

    val slicings = Seq(
      Seq(rs),
      // split INSIDE a's first merged segment (after sec 30, before 90)
      Seq(rs.filter(r => r.ts.getTime - base <= 30000L),
          rs.filter(r => r.ts.getTime - base > 30000L)),
      rs.sortBy(r => (r.ts.getTime, r.event_id)).grouped(3).toSeq)

    for ((slices, i) <- slicings.zipWithIndex) {
      val last = runSliced(slices)
      for (k <- Seq("a", "b")) {
        val s = last(k); val b = batch(k)
        assert(s.n_intervals == b.getAs[Long]("n_intervals"),
          s"n_intervals $k slicing $i")
        assert(s.n_merged == b.getAs[Long]("n_merged"),
          s"n_merged $k slicing $i stream=${s.n_merged}")
        assert(s.covered_sec == b.getAs[Long]("covered_sec"),
          s"covered $k slicing $i stream=${s.covered_sec}")
        assert(s.merge_ratio == b.getAs[Double]("merge_ratio"),
          s"ratio $k slicing $i")
      }
    }
  }
}
