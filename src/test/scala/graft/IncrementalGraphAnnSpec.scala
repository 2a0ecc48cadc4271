package graft

import java.nio.file.Files

import graft.ops.{GraphIndex, IndexLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** Graph-ANN twin of IncrementalAnnSpec: the append-only edge log plus a
  * read-time degree window must reproduce the from-scratch base graph
  * (q440's adjacency) bit-for-bit after an append.
  */
class IncrementalGraphAnnSpec extends SparkSpec {
  import spark.implicits._

  private val base = Array(1f, 0.5f, -0.25f, 1f, 0f, 0.5f, -1f, 0.75f)
  private val ortho = Array(-0.5f, 1f, 1f, 0f, 1f, -0.5f, 0.25f, 0f)
  private def mix(a: Float): Array[Float] =
    base.zip(ortho).map { case (x, y) => x + a * y }

  private def oldVecs = Seq(
    (0L, base, 0),
    (1L, mix(0.05f), 0),
    (2L, mix(0.1f), 0),
    (3L, ortho, 1)
  ).toDF("vec_id", "embedding", "label")

  private def newVecs = Seq(
    (10L, mix(0.02f), 0), // near the base cluster
    (11L, ortho.map(x => -x), 1) // antipodal — matches nothing
  ).toDF("vec_id", "embedding", "label")

  private def adjSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("v", "o", "cos").as[(Long, Long, Double)].collect().toSet

  test("edge log + append reproduces the from-scratch degree-bounded graph") {
    val path = Files.createTempDirectory("graft-graphidx").resolve("idx").toString
    GraphIndex.build(oldVecs, path, dim = 8)

    val newEdges = GraphIndex.appendVecs(spark, path, newVecs, dim = 8)
    // every appended edge has a new endpoint
    assert(newEdges.select("vec_a", "vec_b").as[(Long, Long)].collect()
      .forall { case (a, b) => a >= 10L || b >= 10L })

    val incr = adjSet(GraphIndex.readAdjacency(spark, path, degree = 2))
    val batch = adjSet(
      GraphIndex.batchAdjacency(oldVecs.union(newVecs), degree = 2, dim = 8))
    assert(incr === batch)
    assert(incr.nonEmpty)

    // a second append stays consistent (new-new pair vs batch-1 vector)
    val more = Seq((20L, mix(0.03f), 0)).toDF("vec_id", "embedding", "label")
    GraphIndex.appendVecs(spark, path, more, dim = 8)
    val incr2 = adjSet(GraphIndex.readAdjacency(spark, path, degree = 2))
    val batch2 = adjSet(GraphIndex.batchAdjacency(
      oldVecs.union(newVecs).union(more), degree = 2, dim = 8))
    assert(incr2 === batch2)
  }

  test("an append that fails after its first table write leaves the index as it was") {
    val path = Files.createTempDirectory("graft-graphidx").resolve("idx").toString
    GraphIndex.build(oldVecs, path, dim = 8)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def state = (rows(IndexLog.read(spark, path, "sigs")),
      rows(IndexLog.read(spark, path, "vecs")),
      adjSet(GraphIndex.readAdjacency(spark, path, degree = 2)))
    val before = state

    // the embeddings turn poisonous once `sigs` holds more committed files
    // than at build, i.e. on the first evaluation after the sigs write
    val sigsDir = s"$path/sigs"
    val built = IncrementalGraphAnnSpec.committedFiles(sigsDir)
    val poison = udf { (e: Seq[Float]) =>
      if (IncrementalGraphAnnSpec.committedFiles(sigsDir) > built)
        throw new IllegalStateException("injected failure after the sigs write")
      e
    }
    val torn = newVecs.withColumn("embedding", poison(col("embedding")))
    intercept[Exception](GraphIndex.appendVecs(spark, path, torn, dim = 8))
    assert(IncrementalGraphAnnSpec.committedFiles(sigsDir) > built,
      "the failure must come after the sigs write")
    assert(state === before)

    // a retry with good input lands exactly once
    GraphIndex.appendVecs(spark, path, newVecs, dim = 8)
    val adj = GraphIndex.readAdjacency(spark, path, degree = 2)
      .select("v", "o", "cos").as[(Long, Long, Double)].collect().toSeq
    assert(adj.distinct.size === adj.size)
    assert(adj.toSet === adjSet(
      GraphIndex.batchAdjacency(oldVecs.union(newVecs), degree = 2, dim = 8)))
    val edges = rows(IndexLog.read(spark, path, "edges"))
    assert(edges.distinct === edges)
  }
}

object IncrementalGraphAnnSpec {
  /** Parquet part files under `dir` that a finished write committed (a
    * `_temporary` directory holds a write still in flight). */
  def committedFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).fold(0)(_.map { f =>
      if (f.isDirectory) { if (f.getName == "_temporary") 0 else committedFiles(f.getPath) }
      else if (f.getName.startsWith("part-")) 1 else 0
    }.sum)
}
