package graft

import java.nio.file.Files

import graft.ops.IndexLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The index log's commit rule: a batch becomes visible only when its
  * commit file is written, so a write that fails part-way leaves every
  * table as it was, and a retry lands exactly once.
  */
class IndexLogSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-indexlog").resolve("idx").toString

  private def ids(path: String, table: String): Seq[Long] =
    IndexLog.read(spark, path, table).select("id").as[Long].collect().toSeq.sorted

  private def rows(from: Long, until: Long): DataFrame = spark.range(from, until).toDF()

  /** Rows that raise when the write evaluates them. */
  private def failing: DataFrame =
    spark.range(3).select(raise_error(lit("injected write failure")).cast("long").as("id"))

  /** An index with table a = 0..2 and table b = 10..11. */
  private def built(): String = {
    val path = fresh()
    IndexLog.replace(spark, path) { put => put("a", rows(0, 3)); put("b", rows(10, 12)) }
    path
  }

  test("an append that fails at its second table leaves both tables; a retry commits once") {
    val path = built()
    intercept[Exception](IndexLog.append(spark, path) { put =>
      put("a", rows(3, 5)); put("b", failing)
    })
    assert(ids(path, "a") === (0L until 3L))
    assert(ids(path, "b") === Seq(10L, 11L))

    IndexLog.append(spark, path) { put => put("a", rows(3, 5)); put("b", rows(12, 13)) }
    assert(ids(path, "a") === (0L until 5L))
    assert(ids(path, "b") === Seq(10L, 11L, 12L))
  }

  test("a failed replace keeps the old live set; a replace deletes superseded batches") {
    val path = built()
    IndexLog.append(spark, path)(_("a", rows(3, 4)))
    intercept[Exception](IndexLog.replace(spark, path) { put =>
      put("a", rows(100, 101)); put("b", failing)
    })
    assert(ids(path, "a") === (0L until 4L))
    assert(ids(path, "b") === Seq(10L, 11L))

    IndexLog.replace(spark, path) { put => put("a", rows(7, 9)); put("b", rows(20, 21)) }
    assert(ids(path, "a") === Seq(7L, 8L))
    assert(ids(path, "b") === Seq(20L))
    // on disk too: the superseded and the failed batches are gone, and the
    // newest commit file is the only one left
    assert(spark.read.parquet(s"$path/a").count() === 2L)
    assert(new java.io.File(s"$path/_log").list().filterNot(_.startsWith(".")).toSeq
      === Seq("2"))
  }

  test("a path with no commit log is an error that names the path") {
    val path = fresh()
    val unbuilt = intercept[IllegalStateException](IndexLog.read(spark, path, "a"))
    assert(unbuilt.getMessage.contains(path))
    intercept[IllegalStateException](IndexLog.append(spark, path)(_("a", rows(0, 1))))

    // an index in the flat pre-log layout is rejected the same way
    rows(0, 3).write.parquet(path)
    val flat = intercept[IllegalStateException](IndexLog.read(spark, path, "a"))
    assert(flat.getMessage.contains(path))
  }
}
