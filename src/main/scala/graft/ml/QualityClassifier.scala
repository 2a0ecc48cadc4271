package graft.ml

import graft.ops.Materialize
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trainable document-quality classifier — the model-based generalization of
  * the rule gates (q53 repetition filters, q77 funnel). The published recipe
  * for corpus curation at scale: label a small seed by rules or by "looks
  * like a reference corpus", fit a cheap linear model over hashed token
  * features, then score EVERYTHING and keep by threshold — the classifier
  * catches junk the hand rules miss, and scoring is one map over the corpus.
  *
  * Spark-first shape: `RegexTokenizer → HashingTF → IDF → LogisticRegression`
  * are all distributed MLlib stages; HashingTF is stateless feature hashing
  * (no driver-side vocabulary — the property that lets the featurizer run on
  * 100 TB without collecting anything), IDF and LR fit with one and a few
  * passes respectively, and the fitted [[PipelineModel]] is a serializable
  * artifact (save/load) whose transform is map-only, batch or streaming.
  */
object QualityClassifier {

  /** Rule-based weak labels seeding the classifier: a doc is "good" (1.0)
    * iff it has at least `minWords` tokens AND its most frequent token
    * covers at most `maxTopShare` of them — the same length/repetition
    * signals as the q53 gates, cheap enough to label the whole corpus.
    */
  def weakLabels(docs: DataFrame, minWords: Int = 15,
                 maxTopShare: Double = 0.2): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("text"),
        split(graft.ops.Dedup.normText(col("text")), " ").as("w"))
    val top = toks
      .select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    toks
      .join(top, "doc_id")
      .select(col("doc_id"), col("text"),
        when(size(col("w")) >= minWords &&
          col("top_c") <= size(col("w")) * maxTopShare, 1.0).otherwise(0.0)
          .as("label"))
  }

  /** numFeatures is a power of two so hash bucketing is a bit-mask; 2^12 is
    * plenty for a quality signal (collisions blur features, not labels).
    */
  def pipeline(numFeatures: Int = 1 << 12): Pipeline = {
    val tok = new RegexTokenizer()
      .setInputCol("text").setOutputCol("toks")
      .setPattern("[^a-z0-9]+").setToLowercase(true)
    val tf = new HashingTF()
      .setInputCol("toks").setOutputCol("tf").setNumFeatures(numFeatures)
    val idf = new IDF().setInputCol("tf").setOutputCol("features")
    val lr = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(50).setRegParam(0.01)
    new Pipeline().setStages(Array(tok, tf, idf, lr))
  }

  def fit(labeled: DataFrame, numFeatures: Int = 1 << 12): PipelineModel =
    pipeline(numFeatures).fit(labeled)

  /** (doc_id, p_good, prediction): p_good is P(label=1), the keep-threshold
    * knob. Stateless map — works identically on a streaming frame.
    */
  def score(model: PipelineModel, docs: DataFrame): DataFrame =
    model.transform(docs.select(col("doc_id"), col("text")))
      .select(
        col("doc_id"),
        vector_to_array(col("probability")).getItem(1).as("p_good"),
        col("prediction"))

  /** Deterministic k-fold cross-validation — the honest generalization
    * estimate a single train score can't give (a hashed-feature linear
    * model can memorize a small seed set; CV exposes it). Folds are
    * assigned by md5(doc_id) mod k — stable across runs, partitionings
    * and engines, unlike randomSplit — and each fold's model trains on
    * the other k−1 and scores the held-out fold ONCE. Returns per-fold
    * (n_train, n_test, accuracy, plus the held-out positive rate as the
    * trivial-baseline yardstick).
    */
  def crossValidate(labeled: DataFrame, k: Int = 3,
                    numFeatures: Int = 1 << 12): DataFrame = {
    val spark = labeled.sparkSession
    import spark.implicits._
    val folded = labeled.withColumn("fold",
      pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(k)).cast("int"))
      .transform(Materialize.state(_))
    // ONE up-front action for all fold sizes (n_train(f) = total − size(f))
    // instead of a per-fold train.count(): halves the job count per fold.
    val foldSizes = folded.groupBy(col("fold")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[Int]("fold") -> r.getAs[Long]("c")).toMap
    val total = foldSizes.values.sum
    val rows = (0 until k).map { f =>
      val train = folded.where(col("fold") =!= f)
      val test = folded.where(col("fold") === f)
      val model = fit(train, numFeatures)
      val scored = score(model, test)
        .join(test.select(col("doc_id"), col("label")), "doc_id")
      val agg = scored.agg(
        count(lit(1)).as("n_test"),
        sum(when(col("prediction") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("n_pos"))
        .collect().head
      val nTrain = total - foldSizes.getOrElse(f, 0L)
      (f, nTrain, agg.getAs[Long]("n_test"),
        math.round(agg.getAs[Long]("n_correct").toDouble
          / agg.getAs[Long]("n_test") * 1e6) / 1e6,
        math.round(agg.getAs[Long]("n_pos").toDouble
          / agg.getAs[Long]("n_test") * 1e6) / 1e6)
    }
    rows.toDF("fold", "n_train", "n_test", "accuracy", "pos_rate")
  }
}
