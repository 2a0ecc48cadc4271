package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MinHash-LSH maintenance — the batch [[Dedup.minhashLsh]]
  * recomputes the world; a real corpus pipeline APPENDS. The index persists
  * one (doc_id, band, sig) row per document per band; an append batch
  * signatures ONLY the new documents and joins them against the index, so
  * per-append cost is O(new batch + touched buckets), never O(corpus).
  * [[appendDocs]] runs [[IndexLog.bandedPairs]] with the bucket cap of
  * [[Dedup.minhashLsh]].
  *
  * Batch ≡ incremental: as long as no bucket crosses `maxBucket` between
  * builds, pairs(full corpus) == pairs(old corpus) ∪ appendDocs(new batch)
  * exactly (the append emits only pairs with at least one new endpoint, which
  * is precisely the set difference). IncrementalDedupSpec asserts this.
  */
object DedupIndex {

  /** Build (or rebuild) the index from a full corpus. */
  def build(docs: DataFrame, path: String, k: Int = 12, bands: Int = 3): Unit =
    IndexLog.replace(docs.sparkSession, path)(
      _("sigs", Dedup.bandSignatures(docs, k, bands)))

  /** The persisted band-signature index: (doc_id, band, sig). */
  def read(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "sigs").select(col("doc_id"), col("band"), col("sig"))

  /** Candidate pairs contributed by `newDocs` — (doc_a, doc_b,
    * n_shared_bands) with at least one NEW endpoint — and append the new
    * documents' signatures to the index. Pair semantics (band-bucket join,
    * size cap) match [[Dedup.minhashLsh]] on the combined corpus.
    */
  def appendDocs(spark: SparkSession, path: String, newDocs: DataFrame,
                 k: Int = 12, bands: Int = 3, maxBucket: Int = 64): DataFrame =
    IndexLog.append(spark, path) { put =>
      val newSigs = put("sigs", Dedup.bandSignatures(newDocs, k, bands))
      IndexLog.bandedPairs(read(spark, path), newSigs, "doc", maxBucket)
    }

  /** Incremental EXACT-dedup maintenance — the md5 twin of the LSH index,
    * completing the trilogy (LSH bands here, SRP bands in VecIndex, exact
    * hashes below). The index persists one (h, keeper) row per distinct
    * normalized-content hash; an append hashes ONLY the new batch,
    * semi-joins the index on the touched hashes, and emits each new doc's
    * keep/dup verdict without ever scanning the corpus. First writer wins
    * forever: a keeper recorded by an earlier batch stays the keeper, so
    * verdicts are append-order stable — exactly [[Dedup.exactDedup]]'s
    * keep-first semantics when batches arrive in doc_id order
    * (IncrementalDedupSpec asserts batch ≡ build+append).
    */
  def buildExact(docs: DataFrame, path: String): Unit =
    IndexLog.replace(docs.sparkSession, path)(_("hashes",
      docs.select(md5(Dedup.normText(col("text"))).as("h"), col("doc_id"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))))

  /** Verdicts for `newDocs` — (doc_id, h, keeper, is_dup) — and append the
    * batch's newly-seen hashes to the index. Per-append cost: O(new batch +
    * touched hash rows); the index side reduces via a broadcast semi-join
    * on the batch's distinct hashes before the shuffle.
    */
  def appendExact(spark: SparkSession, path: String, newDocs: DataFrame): DataFrame = {
    val hashed = newDocs.select(col("doc_id"), md5(Dedup.normText(col("text"))).as("h"))
    val touched = hashed.select(col("h")).distinct()
    val existing = IndexLog.read(spark, path, "hashes")
      .join(broadcast(touched), Seq("h"), "left_semi")
      .select(col("h"), col("keeper").as("old_keeper"))
    // in-batch keep-first for hashes the index has never seen
    val batchMin = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("batch_keeper"))
    // persist only hashes that were NOT already present (first writer wins)
    IndexLog.append(spark, path)(_("hashes", batchMin
      .join(existing, Seq("h"), "left_anti")
      .select(col("h"), col("batch_keeper").as("keeper"))))
    hashed
      .join(batchMin, "h")
      .join(existing, Seq("h"), "left_outer")
      .withColumn("keeper", coalesce(col("old_keeper"), col("batch_keeper")))
      .select(col("doc_id"), col("h"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
  }
}
