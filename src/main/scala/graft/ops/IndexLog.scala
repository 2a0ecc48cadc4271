package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one store under graft's incremental indexes ([[CoresetIndex]],
  * [[DedupIndex]], [[GraphIndex]], [[IvfIndex]], [[SketchIndex]],
  * [[SourceMinhashIndex]], [[VecIndex]]): named parquet tables written in
  * batches and never rewritten in place. Batch `id` writes table `t` under
  * `<path>/<t>/batch=<id>/`; it becomes visible only when its commit file
  * `<path>/_log/<id>`, one live batch directory per line, is written with
  * `CheckpointFileManager.createAtomic` (the primitive under Spark's
  * `_spark_metadata` file-sink log). The next id follows the newest commit,
  * so an index takes one writer at a time.
  *   - [[append]] commits the previous live set plus the batch: O(batch),
  *     and a failure at any table leaves the previous commit in force; a
  *     retry rewrites the same uncommitted id.
  *   - [[replace]] (build, compact) commits the batch alone. Batch
  *     directories a commit does not list are deleted only after it, so a
  *     failed rebuild keeps the old index.
  *   - [[read]] reads exactly the newest commit's directories: a snapshot
  *     no later append changes (a later replace deletes its files).
  * Reading or appending to a path with no `_log` (never built, or the
  * older flat layout) is an error that names the path; rebuild the index.
  */
object IndexLog {

  /** Writes one table of the open batch; returns its rows read back. */
  type Put = (String, DataFrame) => DataFrame

  def read(spark: SparkSession, path: String, table: String): DataFrame = {
    val dirs = live(spark, path).filter(_.startsWith(s"$table/"))
    require(dirs.nonEmpty, s"index at $path has no table $table")
    spark.read.parquet(dirs.map(d => s"$path/$d"): _*)
  }

  def append[T](spark: SparkSession, path: String)(body: Put => T): T =
    commit(spark, path, live(spark, path))(body)

  def replace[T](spark: SparkSession, path: String)(body: Put => T): T =
    commit(spark, path, Nil)(body)

  /** Runs `body` against batch `newest + 1`, commits `prev` plus the
    * directories it wrote, then deletes the older commit files and every
    * batch directory the commit does not list (superseded, or left by a
    * failed write). */
  private def commit[T](spark: SparkSession, path: String, prev: Seq[String])(
      body: Put => T): T = {
    val id = newest(spark, path).fold(0L)(_ + 1)
    var wrote = Vector.empty[String]
    val result = body { (table, rows) =>
      val dir = s"$table/batch=$id"
      rows.write.mode(SaveMode.Overwrite).parquet(s"$path/$dir")
      wrote :+= dir
      spark.read.parquet(s"$path/$dir")
    }
    val now = prev ++ wrote
    val fm = manager(spark, path)
    fm.mkdirs(logDir(path))
    val out = fm.createAtomic(new Path(logDir(path), id.toString), false)
    try out.write(now.map(_ + "\n").mkString.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
    for {
      t <- fm.list(new Path(path)) if t.isDirectory && t.getPath.getName != "_log"
      b <- fm.list(t.getPath) if b.getPath.getName.startsWith("batch=") &&
        !now.contains(s"${t.getPath.getName}/${b.getPath.getName}")
    } fm.delete(b.getPath)
    fm.list(logDir(path)).filter(_.getPath.getName.toLongOption.exists(_ < id))
      .foreach(f => fm.delete(f.getPath))
    result
  }

  private def logDir(path: String) = new Path(path, "_log")

  private def manager(spark: SparkSession, path: String) =
    CheckpointFileManager.create(new Path(path), spark.sessionState.newHadoopConf())

  private def newest(spark: SparkSession, path: String): Option[Long] = {
    val fm = manager(spark, path)
    if (!fm.exists(logDir(path))) None
    else fm.list(logDir(path)).flatMap(_.getPath.getName.toLongOption).maxOption
  }

  /** The live batch directories of the newest commit. */
  private def live(spark: SparkSession, path: String): Seq[String] = {
    val id = newest(spark, path).getOrElse(throw new IllegalStateException(
      s"no index at $path: no commit under ${logDir(path)} (build it; an " +
        "index written in the flat pre-log layout must be rebuilt)"))
    val in = manager(spark, path).open(new Path(logDir(path), id.toString))
    try new String(in.readAllBytes(), UTF_8).split("\n").filter(_.nonEmpty).toSeq
    finally in.close()
  }

  /** The append kernel of the banded-LSH indexes: the pairs `(<p>_a, <p>_b,
    * n_shared_bands)`, a < b, with a new endpoint, that new band signatures
    * `(<p>_id, band, sig)` add to an `index` of the same shape. A broadcast
    * semi-join on the batch's (band, sig) set prunes the index before any
    * shuffle; the `maxBucket` cap applies to the COMBINED bucket, as in a
    * from-scratch build. So while no bucket crosses the cap between builds,
    * pairs(old ∪ new) = pairs(old) ∪ bandedPairs(old, new), disjointly.
    */
  private[ops] def bandedPairs(index: DataFrame, newSigs: DataFrame, p: String,
                               maxBucket: Int): DataFrame = {
    val touched = newSigs.select(col("band"), col("sig")).distinct()
    // unionByName: the semi-join output leads with its join keys
    val capped = index.join(broadcast(touched), Seq("band", "sig"), "left_semi")
      .withColumn("is_new", lit(false))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
      .withColumn("bc", count(lit(1)).over(Window.partitionBy(col("band"), col("sig"))))
      .where(col("bc") <= maxBucket)
    def side(s: String) = capped.select(col(s"${p}_id").as(s"${p}_$s"),
      col("band"), col("sig"), col("is_new").as(s"new_$s"))
    side("a").join(side("b"), Seq("band", "sig"))
      .where(col(s"${p}_a") < col(s"${p}_b") && (col("new_a") || col("new_b")))
      .groupBy(col(s"${p}_a"), col(s"${p}_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }
}
