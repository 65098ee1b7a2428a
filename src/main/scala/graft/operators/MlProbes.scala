package graft.operators

import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probe layer over embedding columns (SURVEY §2.9: the reference
  * fits sklearn LogisticRegression / RandomForest / KNN probes on
  * frozen encoder embeddings, eval/eval.py:191-211) — here as
  * `spark.ml` estimators, so fitting is distributed and the fitted
  * model broadcasts for scoring. Train/val assignment uses the
  * deterministic hash split ([[PipelineOps.hashSplit]]), never a
  * stateful sampler. Each probe caches its prepared table for the fit
  * and the scoring and releases it before returning, so no
  * CacheManager entry outlives the call. */
object MlProbes {

  /** embeddings table → (features: Vector, label, split). */
  def prepare(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("features", array_to_vector(col("embedding").cast("array<double>")))
      .withColumn("label", col("label").cast("double"))
      .withColumn("split", PipelineOps.hashSplit("cast(vec_id AS string)", 12))

  case class ProbeResult(accuracy: Double, f1: Double, nTrain: Long, nVal: Long)

  private def evaluate(model: DataFrame => DataFrame, val_ : DataFrame,
                       nTrain: Long): ProbeResult = {
    val pred = model(val_)
    val acc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy").evaluate(pred)
    val f1 = new MulticlassClassificationEvaluator()
      .setMetricName("f1").evaluate(pred)
    ProbeResult(acc, f1, nTrain, val_.count())
  }

  /** Multinomial logistic-regression probe (eval/eval.py:191-199). */
  def logisticProbe(embeddings: DataFrame): ProbeResult = {
    val df = prepare(embeddings).cache()
    try {
      val train = df.filter(col("split") === "train")
      val lr = new LogisticRegression().setMaxIter(50).setRegParam(0.01)
      val m = lr.fit(train)
      evaluate(m.transform(_), df.filter(col("split") === "val"), train.count())
    } finally df.unpersist()
  }

  /** Random-forest probe (eval/eval.py:200-205). */
  def forestProbe(embeddings: DataFrame, seed: Long = 42L): ProbeResult = {
    val df = prepare(embeddings).cache()
    try {
      val train = df.filter(col("split") === "train")
      val rf = new RandomForestClassifier()
        .setNumTrees(50).setMaxDepth(8).setSeed(seed)
      val m = rf.fit(train)
      evaluate(m.transform(_), df.filter(col("split") === "val"), train.count())
    } finally df.unpersist()
  }
}
