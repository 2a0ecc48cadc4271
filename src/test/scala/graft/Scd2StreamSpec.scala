package graft

import java.sql.Timestamp

import graft.ops.Ranges
import graft.streaming.{Scd2Stream, TypedEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch ≡ streaming for SCD-2 maintenance: the closed intervals the
  * streaming processor emits across micro-batches must equal the
  * valid_to-bearing rows of the batch q94 build on the same events.
  */
class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private val events = Seq(
    TypedEvent(1L, ts(0, 0), 0L, "on"),
    TypedEvent(1L, ts(0, 10), 1L, "on"),
    TypedEvent(1L, ts(0, 20), 2L, "off"),   // closes on-interval
    TypedEvent(1L, ts(0, 40), 3L, "on"),    // closes off-interval
    TypedEvent(2L, ts(0, 5), 4L, "idle"),
    TypedEvent(2L, ts(0, 25), 5L, "load")   // closes idle-interval
  )

  test("streaming closed intervals equal the batch q94 build across batches") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[TypedEvent]
    // wide watermark: user 2's events arrive a micro-batch after user 1's
    // later timestamps, and parity needs them processed, not dropped as late
    val q = Scd2Stream.intervals(mem.toDS(), watermarkDelay = "1 day").writeStream
      .format("memory").queryName("scd2_parity").outputMode("append").start()
    try {
      mem.addData(events.take(3))
      q.processAllAvailable()
      mem.addData(events.drop(3)) // change detection spans the batch boundary
      q.processAllAvailable()
      val got = spark.table("scd2_parity")
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
        .as[(Long, String, Long, Long, Long)].collect().toSeq.sorted

      val batchDf = events.map(e =>
          (e.event_id, e.ts, e.user_id, e.event_type, 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val want = Ranges.scd2Intervals(batchDf)
        .where(col("valid_to").isNotNull)
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
        .as[(Long, String, Long, Long, Long)].collect().toSeq.sorted

      assert(got === want)
      assert(got.size === 3) // on@user1, off@user1, idle@user2 closed
    } finally q.stop()
  }

  test("stream-static point-in-time enrichment equals the batch join") {
    // online feature lookup: a PROBE STREAM joins the frozen SCD-2
    // dimension (batch q94 output) with the same interval-membership
    // residual — streamed rows must resolve the identical versions
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val batchDf = events.map(e => (e.event_id, e.ts, e.user_id, e.event_type, 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dim = Ranges.scd2Intervals(batchDf)
      .select(col("user_id").as("d_user"), col("event_type").as("dim_type"),
        col("valid_from"), col("valid_to"))

    val probes = events.map(e => (e.event_id, e.user_id, e.ts.getTime / 1000 + 900))
    val mem = MemoryStream[(Long, Long, Long)]
    val streamed = mem.toDF().toDF("event_id", "user_id", "probe_e")
      .join(dim,
        col("user_id") === col("d_user") &&
          col("probe_e") >= col("valid_from") &&
          (col("valid_to").isNull || col("probe_e") < col("valid_to")),
        "left_outer")
      .select("event_id", "dim_type")
    val q = streamed.writeStream
      .format("memory").queryName("pit_parity").outputMode("append").start()
    try {
      mem.addData(probes.take(3)); q.processAllAvailable()
      mem.addData(probes.drop(3)); q.processAllAvailable()
      val got = spark.table("pit_parity")
        .as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
      val want = probes.toDF("event_id", "user_id", "probe_e")
        .join(dim,
          col("user_id") === col("d_user") &&
            col("probe_e") >= col("valid_from") &&
            (col("valid_to").isNull || col("probe_e") < col("valid_to")),
          "left_outer")
        .select("event_id", "dim_type")
        .as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
      assert(got === want)
      assert(got.size === events.size)
    } finally q.stop()
  }

  test("processor state survives a checkpointed query restart") {
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("scd2_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scd2_ckpt").toString
    val mem = MemoryStream[TypedEvent]
    def start() = Scd2Stream.intervals(mem.toDS(), watermarkDelay = "1 day")
      .writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // batch 1 opens an 'on' run; the query then STOPS with the run in state
    val q1 = start()
    try {
      mem.addData(TypedEvent(1L, ts(0, 0), 0L, "on"),
                  TypedEvent(1L, ts(0, 10), 1L, "on"))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the checkpoint: the change event must close the interval
    // opened BEFORE the restart — possible only if RocksDB state recovered
    val q2 = start()
    try {
      mem.addData(TypedEvent(1L, ts(0, 20), 2L, "off"))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out)
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
        .as[(Long, String, Long, Long, Long)].collect().toSeq
      val t0 = ts(0, 0).getTime / 1000
      assert(rows === Seq((1L, "on", t0, t0 + 1200, 2L)))
    } finally q2.stop()
  }
}
