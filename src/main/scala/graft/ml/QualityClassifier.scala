package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.{Pipeline => MlPipeline, PipelineModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Curation
import graft.plans.TextNative

/** Model-based quality scoring: distill the rule-based gate
  * ([[Curation.qualityRules]]) into a logistic regression over hashed
  * bag-of-words features — the fasttext-style quality-classifier stage of
  * LLM data pipelines (rules label a seed set; the classifier generalizes
  * to content the rules were never tuned on, and emits a SCORE rather
  * than a verdict, so downstream can threshold by quality percentile).
  *
  * Determinism: the train/test split is the content-addressed
  * [[Curation.hashSplit]] (not randomSplit), features are HashingTF
  * (stateless hash, no vocabulary fit), and L-BFGS from a zero init is
  * deterministic for a fixed dataset — same corpus in, same model out.
  * Scale: both stages are embarrassingly parallel; training cost is
  * |corpus| * numFeatures per L-BFGS pass with treeAggregate'd gradients.
  */
object QualityClassifier {

  /** Tokenized + rule-labeled + hash-split training frame. */
  def prepare(docs: DataFrame, id: String, text: Column): DataFrame = {
    val labels = Curation.qualityRules(docs, id, text)
      .select(col("doc_id"), col("passes").cast("double").as("label"))
    docs.select(col(id).as("doc_id"), TextNative.tokens(text).as("toks"))
      .join(labels, "doc_id")
      .withColumn("split", Curation.hashSplit(col("doc_id"), trainPct = 80, valPct = 0))
  }

  /** Fit on the 80% hash-train slice, report held-out AUC. */
  def trainOnRules(docs: DataFrame, id: String, text: Column,
                   numFeatures: Int = 1024): (PipelineModel, Double) = {
    val frame = prepare(docs, id, text)
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(numFeatures)
    val lr = new LogisticRegression().setMaxIter(25).setRegParam(0.01)
      .setLabelCol("label").setFeaturesCol("features")
    val model = new MlPipeline().setStages(Array(tf, lr))
      .fit(frame.filter(col("split") === "train"))
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(model.transform(frame.filter(col("split") === "test")))
    (model, auc)
  }

  /** Score a corpus: P(passes quality gate) per doc. */
  def score(model: PipelineModel, docs: DataFrame, id: String,
            text: Column): DataFrame = {
    val withToks = docs.select(col(id).as("doc_id"),
      TextNative.tokens(text).as("toks"))
    model.transform(withToks)
      .select(col("doc_id"),
        element_at(vector_to_array(col("probability")), 2).as("quality_score"))
  }

  private def vector_to_array(c: Column): Column =
    org.apache.spark.ml.functions.vector_to_array(c)
}
