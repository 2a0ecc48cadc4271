package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{ExtremalSnapshot, ExtremalStream, SensorReading}

/** Streaming extremal index must equal batch q368 EXACTLY after the same
  * rows with the same broadcast fences, whatever the micro-batch slicing —
  * including slicings that split a day and slicings that split a cluster
  * across batches.
  */
class ExtremalStreamSpec extends SparkSpec {
  import spark.implicits._

  private val baseDay = 19700L
  private def ts(day: Long, sec: Long) =
    new Timestamp((baseDay + day) * 86400000L + sec * 1000L)

  // "a": graded spikes; the q90 fence (~interpolated between the 4th- and
  //      5th-largest daily means) clears only days 4, 5 and 14 —
  //      {4,5} one cluster, {14} another under sep=2
  // "b": flat with one spike day 7 (fence sits at the flat level)
  private def readings: Seq[SensorReading] = {
    var id = 0L
    val spikesA = Map(3L -> 33.0, 4L -> 44.0, 5L -> 43.0, 9L -> 37.0,
      14L -> 45.0, 15L -> 39.0)
    val a = (0L until 18L).flatMap { d =>
      val base = spikesA.getOrElse(d, 10.0 + 0.1 * d)
      Seq(
        { id += 1; SensorReading("a", id, ts(d, 10), base - 0.5) },
        { id += 1; SensorReading("a", id, ts(d, 50), base + 0.5) })
    }
    val b = (0L until 16L).map { d =>
      id += 1
      SensorReading("b", id, ts(d, 30), if (d == 7) 20.0 else 5.0)
    }
    (a ++ b).sortBy(r => (r.ts.getTime, r.event_id))
  }

  private def runSliced(slices: Seq[Seq[SensorReading]],
                        thr: Map[String, Double]): Map[String, ExtremalSnapshot] = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val name = s"ext_${System.nanoTime()}"
    val q = ExtremalStream.run(mem.toDS(), thr).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      slices.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
      spark.table(name).as[ExtremalSnapshot].collect()
        .zipWithIndex.groupBy(_._1.event_type)
        .map { case (k, arr) => k -> arr.maxBy(_._2)._1 }
    } finally q.stop()
  }

  test("streaming extremal index matches batch q368 across three slicings") {
    val rs = readings
    val batchDf = rs.map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.ops.ExtremeStats.extremalIndex(batchDf)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val thr = graft.ops.Percentiles.exactQuantiles(
        graft.ops.TimeSeries.cusumDaily(batchDf), "event_type", "x",
        Seq("q90" -> 0.9))
      .collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("qv"))
      .toMap

    // sanity: "a" must have >1 cluster so the declustering actually fires
    assert(batch("a").getAs[Long]("n_clusters") >= 2)

    val byDay = (d: SensorReading) =>
      math.floorDiv(d.ts.getTime / 1000, 86400L) - baseDay
    val slicings = Seq(
      Seq(rs),
      // split INSIDE spike day 4 (open-day accumulator mid-cluster)
      Seq(rs.filter(r => byDay(r) < 4 || (byDay(r) == 4 && r.ts.getTime % 86400000L < 30000L)),
          rs.filter(r => (byDay(r) == 4 && r.ts.getTime % 86400000L >= 30000L)
            || (byDay(r) > 4 && byDay(r) < 14)),
          rs.filter(r => byDay(r) >= 14)),
      // one batch per 5-day block (cluster 14,15 splits from day 9)
      (0 until 4).map(blk => rs.filter(r => byDay(r) / 5 == blk)).filter(_.nonEmpty))

    for ((slices, i) <- slicings.zipWithIndex) {
      assert(slices.flatten.sortBy(_.event_id) == rs.sortBy(_.event_id),
        s"slicing $i drops rows")
      val last = runSliced(slices, thr)
      for (k <- Seq("a", "b")) {
        val s = last(k); val b = batch(k)
        assert(s.n_exceed == b.getAs[Long]("n_exceed"), s"n_exceed $k slicing $i")
        assert(s.n_clusters == b.getAs[Long]("n_clusters"),
          s"n_clusters $k slicing $i stream=${s.n_clusters} batch=${b.getAs[Long]("n_clusters")}")
        assert(s.max_cluster == b.getAs[Long]("max_cluster"), s"max_cluster $k slicing $i")
        assert(s.theta == b.getAs[Double]("theta"), s"theta $k slicing $i")
        assert(s.mean_cluster == b.getAs[Double]("mean_cluster"),
          s"mean_cluster $k slicing $i")
      }
    }
  }

  test("foldDay opens, extends, and splits clusters on the sep rule") {
    import graft.streaming.{ExtremalState => S}
    val s0 = S(Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val s1 = ExtremalStream.foldDay(s0, 3L, 31.0, 20.0, 2)
    assert(s1.nClusters == 1 && s1.nExceed == 1 && s1.curRun == 1)
    val s2 = ExtremalStream.foldDay(s1, 4L, 31.0, 20.0, 2)   // extends
    assert(s2.nClusters == 1 && s2.curRun == 2 && s2.maxRun == 2)
    val s3 = ExtremalStream.foldDay(s2, 6L, 31.0, 20.0, 2)   // gap 2 = sep: extends
    assert(s3.nClusters == 1 && s3.curRun == 3)
    val s4 = ExtremalStream.foldDay(s3, 9L, 31.0, 20.0, 2)   // gap 3 > sep: splits
    assert(s4.nClusters == 2 && s4.curRun == 1 && s4.maxRun == 3)
    val s5 = ExtremalStream.foldDay(s4, 10L, 5.0, 20.0, 2)   // below fence: no-op
    assert(s5 == s4)
  }
}
