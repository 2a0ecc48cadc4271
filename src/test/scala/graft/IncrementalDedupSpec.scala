package graft

import java.nio.file.Files

import graft.ops.{Dedup, DedupIndex}
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def oldDocs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "s0"),
    (1L, "the quick brown fox jumps over the lazy dog", "s0"),
    (2L, "completely different text about spark engines here", "s1")
  ).toDF("doc_id", "text", "source")

  private def newDocs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog", "s2"), // dup of 0/1
    (11L, "novel content that matches nothing in the index", "s2")
  ).toDF("doc_id", "text", "source")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "n_shared_bands")
      .as[(Long, Long, Long)].collect().toSet

  test("index + append reproduces the full-batch candidate pairs exactly") {
    val path = Files.createTempDirectory("graft-lshidx").resolve("idx").toString
    DedupIndex.build(oldDocs, path)

    val appended = pairSet(DedupIndex.appendDocs(spark, path, newDocs))
    val oldPairs = pairSet(Dedup.minhashLsh(oldDocs))
    val batch = pairSet(Dedup.minhashLsh(oldDocs.union(newDocs)))

    // the append emits exactly the pairs with >=1 new endpoint
    assert(appended.forall { case (a, b, _) => a >= 10L || b >= 10L })
    assert(oldPairs ++ appended === batch)
    assert((oldPairs & appended) === Set.empty)

    // the index now carries every doc's signatures (5 docs x 3 bands)
    assert(DedupIndex.read(spark, path).count() === 15L)

    // a second append keeps composing against the grown index
    val more = Seq((20L, "novel content that matches nothing in the index", "s3"))
      .toDF("doc_id", "text", "source")
    val second = pairSet(DedupIndex.appendDocs(spark, path, more))
    assert(second === Set((11L, 20L, 3L)))
    val full = pairSet(Dedup.minhashLsh(oldDocs.union(newDocs).union(more)))
    assert(oldPairs ++ appended ++ second === full)
  }

  test("an append's result is a snapshot that a later append leaves alone") {
    val path = Files.createTempDirectory("graft-lshidx3").resolve("idx").toString
    DedupIndex.build(oldDocs, path)
    val first = DedupIndex.appendDocs(spark, path, newDocs) // not evaluated yet
    DedupIndex.appendDocs(spark, path,
      Seq((20L, "novel content that matches nothing in the index", "s3"))
        .toDF("doc_id", "text", "source"))

    val alonePath = Files.createTempDirectory("graft-lshidx4").resolve("idx").toString
    DedupIndex.build(oldDocs, alonePath)
    val alone = pairSet(DedupIndex.appendDocs(spark, alonePath, newDocs))
    assert(alone.nonEmpty)
    assert(pairSet(first) === alone)
  }

  test("an append that pushes a bucket over the cap suppresses its pairs") {
    val path = Files.createTempDirectory("graft-lshidx2").resolve("idx").toString
    DedupIndex.build(oldDocs, path)
    // 30 more copies of the fox doc with cap 10: the combined bucket (32 docs)
    // is over cap, so the append must emit NO pairs for it — same verdict a
    // from-scratch capped batch build reaches
    val flood = spark.range(100, 130).select(
      col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog").as("text"),
      lit("sF").as("source"))
    val appended = pairSet(DedupIndex.appendDocs(spark, path, flood,
      maxBucket = 10))
    assert(appended === Set.empty)
    val batch = pairSet(Dedup.minhashLsh(oldDocs.union(flood), maxBucket = 10))
    // batch also suppresses the flooded bucket entirely
    assert(batch === Set.empty)
  }

  test("exact index: append verdicts match the full-batch keep-first dedup") {
    val path = Files.createTempDirectory("graft-exidx").resolve("idx").toString
    DedupIndex.buildExact(oldDocs, path)

    val verdicts = DedupIndex.appendExact(spark, path, newDocs)
      .select("doc_id", "keeper", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // 10 duplicates content first seen as doc 0 — the INDEX keeper wins,
    // not the in-batch minimum; 11 is novel and keeps itself
    assert(verdicts === Seq((10L, 0L, true), (11L, 11L, false)))

    // an in-batch dup pair on a never-seen hash: first of the batch keeps
    val batch2 = Seq(
      (20L, "same new thing twice", "s3"),
      (21L, "same new thing twice", "s3")
    ).toDF("doc_id", "text", "source")
    val v2 = DedupIndex.appendExact(spark, path, batch2)
      .select("doc_id", "keeper", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(v2 === Seq((20L, 20L, false), (21L, 20L, true)))

    // a THIRD append re-sending already-indexed content still defers to the
    // original keeper (first writer wins forever)
    val v3 = DedupIndex.appendExact(spark, path,
        Seq((30L, "same new thing twice", "s4")).toDF("doc_id", "text", "source"))
      .select("doc_id", "keeper", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(v3 === Seq((30L, 20L, true)))

    // index cardinality = number of distinct hashes ever seen
    assert(spark.read.parquet(path).count() ===
      oldDocs.union(newDocs).union(batch2)
        .select(lower(trim(col("text")))).distinct().count())
  }
}
