package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{EventStream, HampelSnapshot, HampelStream, SensorReading}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** RocksDB checkpoints move between snapshot commits (Spark's default) and
  * changelog commits (the engine's) in both directions: a Hampel fold and
  * a windowed aggregate restart on their own checkpoints across both
  * switches, and after every restart their outputs equal the batch twins
  * over every row fed.
  */
class StateCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val changelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  // away from epoch 0, one minute per step, so no row is ever behind a
  // watermark and every key sees every batch
  private val base = 19700L * 86400000L
  private val keys = Seq("3", "5", "9")

  /** Batch `b`'s rows: four steps per key, with a spike now and then. */
  private def batchRows(b: Int): Seq[SensorReading] =
    for (step <- 0 until 4; (k, ki) <- keys.zipWithIndex) yield {
      val i = b * 4 + step
      val v = if ((i + ki) % 9 == 4) 40.0 + ki else 5.0 + ((i * 7 + ki * 3) % 5) * 0.25
      SensorReading(k, i * 10L + ki, new Timestamp(base + i * 60000L + ki * 1000L), v)
    }

  /** Versions of the state files under `dir` whose names end in `suffix`. */
  private def versions(dir: Path, suffix: String): Seq[Long] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(suffix)).map(_.takeWhile(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong).toSeq
    finally s.close()
  }

  test("Hampel and windowed-agg checkpoints restore across changelog and snapshot commits") {
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-state-ckpt")
    val (hCkpt, wCkpt) = (root.resolve("hampel"), root.resolve("windowed"))
    val hIn = MemoryStream[SensorReading]
    val wIn = MemoryStream[(Timestamp, String, Double)]
    val fed = scala.collection.mutable.ArrayBuffer.empty[SensorReading]
    var nextBatch = 0

    /** One run of both queries on their checkpoints, with changelog
      * commits on or off, fed `batches` data batches. Returns the last
      * Hampel snapshot per key and the windowed table the run emitted last. */
    def phase(changelog: Boolean, batches: Int)
        : (Map[String, HampelSnapshot], Set[Row]) =
      withConf(changelogKey -> changelog.toString) {
        val hampel = new ConcurrentLinkedQueue[HampelSnapshot]()
        @volatile var windowed = Set.empty[Row]
        val hq = HampelStream.run(hIn.toDS()).writeStream
          .option("checkpointLocation", hCkpt.toString)
          .foreachBatch { (d: Dataset[HampelSnapshot], _: Long) =>
            d.collect().foreach(hampel.add) }
          .start()
        val wq = EventStream.windowedAggStream(wIn.toDF().toDF("ts", "event_type", "value"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", wCkpt.toString)
          .foreachBatch { (d: DataFrame, _: Long) =>
            val rows = d.collect().toSet
            if (rows.nonEmpty) windowed = rows }
          .start()
        try for (_ <- 0 until batches) {
          val rows = batchRows(nextBatch)
          nextBatch += 1
          hIn.addData(rows)
          wIn.addData(rows.map(r => (r.ts, s"t${r.event_type}", r.value)))
          hq.processAllAvailable(); wq.processAllAvailable()
          fed ++= rows
        } finally { hq.stop(); wq.stop() }
        (lastPerKey(hampel.asScala.toSeq)(_.series_key), windowed)
      }

    def assertTwins(label: String, got: (Map[String, HampelSnapshot], Set[Row])): Unit = {
      val df = fed.toSeq.map(r => (r.event_id, r.ts, r.event_type.toLong, s"t${r.event_type}",
        r.value)).toDF("event_id", "ts", "user_id", "event_type", "value")
      val hampel = graft.ops.TimeSeries.hampelCensus(df).collect().map { r =>
        r.getAs[Long]("user_id").toString -> HampelSnapshot(r.getAs[Long]("user_id").toString,
          r.getAs[Long]("n"), r.getAs[Long]("n_flagged"), r.getAs[Double]("flag_rate"),
          Option(r.getAs[java.lang.Double]("worst_ratio")).map(_.doubleValue()))
      }.toMap
      assert(got._1 == hampel, s"$label: Hampel snapshots differ from hampelCensus")
      val windowed = EventStream.windowedAgg(df.select("ts", "event_type", "value"))
        .collect().toSet
      assert(got._2 == windowed, s"$label: windowed table differs from windowedAgg")
    }

    // 1: the snapshot-per-commit format
    assertTwins("snapshots", phase(changelog = false, batches = 3))
    assert(versions(root, ".changelog").isEmpty)
    assert(versions(root, ".zip").nonEmpty)
    // 2: changelog commits on a snapshot checkpoint, past minDeltasForSnapshot.
    // Snapshots taken in this mode are uploaded by the state-store
    // maintenance thread (every 60 s by default), so the restores below
    // may replay every changelog onto phase 1's last snapshot
    val p2 = phase(changelog = true, batches = 12)
    // the fixture must flag spikes on every key
    assert(p2._1.keySet == keys.toSet && p2._1.values.forall(_.n_flagged > 0))
    assertTwins("changelog after snapshots", p2)
    assert(versions(root, ".changelog").nonEmpty)
    // 3: a changelog checkpoint restores in changelog mode
    assertTwins("changelog after changelog", phase(changelog = true, batches = 3))
    // 4: and back in snapshot mode, which writes snapshots past every changelog
    assertTwins("snapshots after changelog", phase(changelog = false, batches = 3))
    assert(versions(root, ".zip").max > versions(root, ".changelog").max)
  }
}
