package graft

import org.apache.spark.sql.{Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — the engine's session, on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.getOrCreate("local[4]", 4)

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value (or unsets it), so no spec leaks a setting into
    * the specs that share its session after it. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Replays `slices` through `query`, one micro-batch per slice
    * (MemoryStream into a memory sink), and returns every row the query
    * emitted, in the order the sink appended them. */
  def replay[I: Encoder, O: Encoder](slices: Seq[Seq[I]])(
      query: Dataset[I] => Dataset[O]): Seq[O] = {
    implicit val ctx: SQLContext = spark.sqlContext
    val mem = MemoryStream[I]
    val name = s"replay_${System.nanoTime()}"
    val q = query(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      slices.foreach { s => mem.addData(s); q.processAllAvailable() }
      spark.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  /** The last of `rows` per key: a snapshot stream's end-of-stream view
    * when `rows` comes from [[replay]]. */
  def lastPerKey[O, K](rows: Seq[O])(key: O => K): Map[K, O] =
    rows.zipWithIndex.groupBy(r => key(r._1))
      .map { case (k, arr) => k -> arr.maxBy(_._2)._1 }
}
