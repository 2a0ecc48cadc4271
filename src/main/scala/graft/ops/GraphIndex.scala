package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DecimalDot

/** Incremental maintenance for the graph-ANN base graph (q440/q441) — the
  * last index family member without an append path (LSH/exact/minhash/HLL/
  * IVF/coreset all have one). A faithful HNSW insert is sequential; the
  * distributed append-only idiom is the same NN-descent-style shape the
  * batch build uses: SRP-LSH candidate edges, exact-cosine scored, with
  * the DEGREE BOUND applied at READ time over an append-only edge log.
  *
  * The index persists three [[IndexLog]] tables under `path`:
  *   - `sigs`  (vec_id, band, sig)   — fixed-geometry SRP signatures
  *     (the [[VecIndex]] posture: geometry must NOT depend on corpus size
  *     or appends would re-signature the world; auto-scaled geometry is
  *     for one-shot batch audits)
  *   - `vecs`  (vec_id, v, nrm)      — vectors for exact edge scoring
  *     (what HNSW stores too; zero-norm vectors are dropped — q440 guard)
  *   - `edges` (vec_a, vec_b, n_shared_bands, cos) — canonical a < b
  *     candidate edges, append-only
  *
  * An append signatures ONLY the new vectors, finds the candidate pairs
  * with ≥ 1 new endpoint in the buckets they touch
  * ([[IndexLog.bandedPairs]]), scores them against stored + new vectors,
  * and commits signatures, vectors and edges as one batch — per-append
  * cost O(new batch + touched buckets), never O(corpus). Old edges are
  * never rewritten: the degree-bounded neighbor list is a read-time window
  * (cos desc, neighbor asc — the q440 tie order) over the log.
  *
  * Batch ≡ build+append (IncrementalGraphAnnSpec): bucket membership is
  * append-invariant under fixed geometry, so the full-corpus edge set is
  * exactly old-edges ∪ new-endpoint-edges — as long as no bucket crosses
  * `maxBucket` between builds (the [[VecIndex]] caveat, capped on the
  * COMBINED bucket so an over-cap bucket suppresses its pairs exactly
  * like a from-scratch build).
  */
object GraphIndex {

  private def prepped(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS double))").as("v"))
      .withColumn("nrm", sqrt(DecimalDot(col("v"), col("v"))))
      .where(col("nrm") > 0)

  /** Candidate pairs scored by exact cosine against the vectors `vs`. */
  private def scored(pairs: DataFrame, vs: DataFrame): DataFrame =
    pairs
      .join(vs.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(vs.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), col("n_shared_bands"),
        round(DecimalDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))

  /** Exact-cosine-scored candidate edges of a corpus — the batch
    * reference the incremental log must reproduce.
    */
  def edgeLog(emb: DataFrame, dim: Int = 64, nPlanes: Int = 32,
              nBands: Int = 4, maxBucket: Int = 1024): DataFrame =
    scored(Similarity.srpCandidates(emb, dim, nPlanes, nBands,
      minBands = 1, maxBucket = maxBucket), prepped(emb))

  def build(emb: DataFrame, path: String, dim: Int = 64, nPlanes: Int = 32,
            nBands: Int = 4, maxBucket: Int = 1024): Unit =
    IndexLog.replace(emb.sparkSession, path) { put =>
      put("sigs", Similarity.srpSignatures(emb, dim, nPlanes, nBands))
      put("vecs", prepped(emb))
      put("edges", edgeLog(emb, dim, nPlanes, nBands, maxBucket))
    }

  /** New candidate edges (≥ 1 new endpoint); appends signatures, vectors
    * and those edges to the index in one commit.
    */
  def appendVecs(spark: SparkSession, path: String, newVecs: DataFrame,
                 dim: Int = 64, nPlanes: Int = 32, nBands: Int = 4,
                 maxBucket: Int = 1024): DataFrame =
    IndexLog.append(spark, path) { put =>
      val newSigs = put("sigs", Similarity.srpSignatures(newVecs, dim, nPlanes, nBands))
      val newPrepped = put("vecs", prepped(newVecs))
      put("edges", scored(
        IndexLog.bandedPairs(IndexLog.read(spark, path, "sigs"), newSigs, "vec", maxBucket),
        IndexLog.read(spark, path, "vecs").unionByName(newPrepped)))
    }

  /** The degree bound q440's beam walk consumes: each vertex's `degree`
    * best neighbors over the symmetric edge list (cos desc, neighbor asc —
    * the batch tie order, so build+append ≡ batch bit-for-bit).
    */
  private def degreeBound(e: DataFrame, degree: Int): DataFrame =
    e.select(col("vec_a").as("v"), col("vec_b").as("o"), col("cos"))
      .unionByName(
        e.select(col("vec_b").as("v"), col("vec_a").as("o"), col("cos")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("v")).orderBy(col("cos").desc, col("o"))))
      .where(col("rn") <= degree)
      .select(col("v"), col("o"), col("cos"))

  /** The degree-bounded adjacency, read-time over the append-only edges. */
  def readAdjacency(spark: SparkSession, path: String,
                    degree: Int = 8): DataFrame =
    degreeBound(IndexLog.read(spark, path, "edges"), degree)

  /** The same degree bound applied directly to a batch edge log —
    * the parity reference for [[readAdjacency]].
    */
  def batchAdjacency(emb: DataFrame, degree: Int = 8, dim: Int = 64,
                     nPlanes: Int = 32, nBands: Int = 4,
                     maxBucket: Int = 1024): DataFrame =
    degreeBound(edgeLog(emb, dim, nPlanes, nBands, maxBucket), degree)
}
