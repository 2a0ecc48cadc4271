package graft

import java.nio.file.Files

import graft.ops.{Similarity, VecIndex}

/** Vector-side twin of IncrementalDedupSpec: a maintained SRP signature
  * index plus an append batch must reproduce the from-scratch candidate
  * pairs exactly.
  */
class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  private val base = Array(1f, 0.5f, -0.25f, 1f, 0f, 0.5f, -1f, 0.75f)
  private val ortho = Array(-0.5f, 1f, 1f, 0f, 1f, -0.5f, 0.25f, 0f)

  private def oldVecs = Seq(
    (0L, base, 0),
    (1L, base, 0), // dup of 0
    (2L, ortho, 1)
  ).toDF("vec_id", "embedding", "label")

  private def newVecs = Seq(
    (10L, base, 0), // dup of 0/1
    (11L, ortho.map(x => -x), 1) // matches nothing
  ).toDF("vec_id", "embedding", "label")

  // a wider corpus where both a tight bucket cap and minBands = 2 bite
  private def mix(a: Float): Array[Float] =
    base.zip(ortho).map { case (x, y) => x + a * y }
  private def wide(vs: (Long, Array[Float])*) =
    vs.map { case (i, v) => (i, v, 0) }.toDF("vec_id", "embedding", "label")
  private def wideOld = wide(0L -> base, 1L -> base, 2L -> ortho,
    3L -> mix(0.3f), 4L -> mix(0.6f), 5L -> mix(1f), 6L -> mix(2f))
  private def wideNew = wide(10L -> base, 11L -> ortho.map(x => -x),
    12L -> mix(0.45f), 13L -> mix(1.5f), 14L -> mix(0.8f))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("vec_a", "vec_b", "n_shared_bands")
      .as[(Long, Long, Long)].collect().toSet

  test("vector index + append reproduces the full-batch candidates exactly") {
    val path = Files.createTempDirectory("graft-vecidx").resolve("idx").toString
    VecIndex.build(oldVecs, path, dim = 8)

    val appended = pairSet(VecIndex.appendVecs(spark, path, newVecs, dim = 8))
    val oldPairs = pairSet(Similarity.srpCandidates(oldVecs, dim = 8))
    val batch = pairSet(Similarity.srpCandidates(oldVecs.union(newVecs), dim = 8))

    assert(appended.forall { case (a, b, _) => a >= 10L || b >= 10L })
    assert(oldPairs ++ appended === batch)
    assert((oldPairs & appended) === Set.empty)

    // the index now carries every vector's signatures (5 vecs x 4 bands)
    assert(VecIndex.read(spark, path).count() === 20L)

    // minBands = 2 and maxBucket = 3: the append emits exactly the batch
    // candidates, under the same arguments, that have a new endpoint
    val tight = Files.createTempDirectory("graft-vecidx").resolve("idx").toString
    VecIndex.build(wideOld, tight, dim = 8)
    val capped = pairSet(VecIndex.appendVecs(spark, tight, wideNew, dim = 8,
      minBands = 2, maxBucket = 3))
    val all = wideOld.union(wideNew)
    val cappedBatch = pairSet(Similarity.srpCandidates(all, dim = 8,
      minBands = 2, maxBucket = 3))
    assert(capped === cappedBatch.filter { case (a, b, _) => a >= 10L || b >= 10L })
    assert(capped.nonEmpty)
    // both arguments change the batch answer on this corpus
    assert(cappedBatch !== pairSet(Similarity.srpCandidates(all, dim = 8, maxBucket = 3)))
    assert(cappedBatch !== pairSet(Similarity.srpCandidates(all, dim = 8, minBands = 2)))
  }
}
