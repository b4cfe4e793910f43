package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer, StopWordsRemover}
import org.apache.spark.ml.functions.vector_to_array
import graft.Tables

/** Text-sentiment head — the reference's sentiment-analysis pipeline
  * re-expressed as a spark.ml Pipeline: RegexTokenizer →
  * StopWordsRemover → HashingTF → IDF → LogisticRegression.
  *
  * The corpus has no sentiment labels, so training labels are derived
  * from polarity marker terms (standard weak-supervision bootstrap);
  * ties are excluded from training and scored by the model.
  *
  * Every stage is a narrow per-row transform except IDF (one reduce
  * for document frequencies) and LR (gradient aggregation per
  * iteration) — both scale as single map-reduce passes, and HashingTF
  * keeps the feature space bounded (2^12) with no vocabulary shuffle
  * at all, which is what you want when the corpus is 100 TB.
  */
object Sentiment {

  val Positive = Seq("fast", "big", "merge")
  val Negative = Seq("slow", "small", "filter")

  /** Marker-count polarity: +1 / 0(neutral) / -1. */
  private def polarity(c: org.apache.spark.sql.Column) = {
    def hits(words: Seq[String]) =
      size(filter(split(lower(c), " "), t => t.isInCollection(words)))
    hits(Positive) - hits(Negative)
  }

  def pipeline: Pipeline = {
    val tok = new RegexTokenizer().setInputCol("text").setOutputCol("raw_tokens")
      .setPattern("\\W+")
    val sw = new StopWordsRemover().setInputCol("raw_tokens").setOutputCol("tokens")
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(1 << 12)
    val idf = new IDF().setInputCol("tf").setOutputCol("features")
    val lr = new LogisticRegression().setMaxIter(10).setRegParam(0.01)
      .setLabelCol("label").setFeaturesCol("features")
    new Pipeline().setStages(Array(tok, sw, tf, idf, lr))
  }

  private def labeled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("pol", polarity($"text"))
      .withColumn("label", when($"pol" > 0, 1.0).when($"pol" < 0, 0.0))
      // deterministic 80/20 split keyed on doc_id — a held-out fold for
      // honest eval, reproducible across engines and runs
      .withColumn("is_train", pmod($"doc_id", lit(5)) =!= 0)
  }

  /** Fit `pipeline` on `train` stage-wise rather than via
    * `Pipeline.fit`, so the term-frequency frame is computed ONCE and
    * cached: inside Pipeline.fit the tokenize→stopwords→hashingTF
    * prefix is lazy, so IDF's document-frequency pass and LR's
    * instance materialization would each re-run it over the corpus.
    * The final assembly `Pipeline.fit` over already-fitted
    * transformers refits nothing — it just wraps them in the same
    * serveable PipelineModel the one-shot fit returns. The tf cache is
    * released whether or not a fit throws. */
  private def trainStagewise(train: DataFrame): PipelineModel = {
    val Array(tok, sw, tf, idf, lr) = pipeline.getStages
    val featurize = new Pipeline().setStages(Array(tok, sw, tf)).fit(train)
    graft.Caches.scoped { sc =>
      val tfFrame = sc.keep(featurize.transform(train).select(col("tf"), col("label")))
      val idfModel = idf.asInstanceOf[IDF].fit(tfFrame)
      // the summary would pin the session inside every serve closure —
      // see ModelHygiene (a d6-then-m2 session order would crash)
      val lrModel = org.apache.spark.ml.graft.ModelHygiene.dropTrainingSummary(
        lr.asInstanceOf[LogisticRegression].fit(idfModel.transform(tfFrame)))
      new Pipeline()
        .setStages(featurize.stages ++ Array(idfModel, lrModel))
        .fit(train.limit(0))
    }
  }

  /** Fit the pipeline on the labeled TRAIN fold only (the test fold
    * stays unseen for `heldOutAccuracy`), once per dataset: the
    * `sentiment` session artifact serves every m2/m4 call after the
    * first. */
  def fit(s: SparkSession, dir: String): PipelineModel =
    graft.Caches.artifact("sentiment", dir) {
      import s.implicits._
      trainStagewise(labeled(s, dir).filter($"label".isNotNull && $"is_train"))
    }

  /** M2: train on polarity-labeled train-fold docs, score every doc.
    * Output is the per-document sentiment with the model's
    * positive-class probability. */
  def m2Sentiment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = labeled(s, dir)
    val model = fit(s, dir)
    model.transform(docs)
      .select($"doc_id",
        coalesce($"label", lit(-1.0)).as("weak_label"),
        $"prediction",
        round(element_at(vector_to_array($"probability"), 2), 4).as("p_positive"))
      .orderBy($"doc_id")
  }

  /** M4: corpus-level sentiment rollup — the reference's "sentiment
    * by segment" aggregate: per (source, lang), document count, mean
    * positive-class probability, and positive-prediction rate. Serves
    * from the `sentiment` artifact; one partial-aggregated shuffle over the
    * scored frame. */
  def m4SentimentBySource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = labeled(s, dir)
    val scored = fit(s, dir).transform(docs)
      .select($"source", $"lang", $"prediction",
        element_at(vector_to_array($"probability"), 2).as("p_pos"))
    scored.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"p_pos"), 4).as("avg_p_positive"),
        round(avg($"prediction"), 4).as("positive_rate"))
      .orderBy($"source", $"lang")
  }

  /** Persist the fitted pipeline (all stages, including the IDF and
    * LR coefficients) for fit-free serving. */
  def saveModel(s: SparkSession, dir: String, path: String): Unit =
    fit(s, dir).write.overwrite().save(path)

  /** Load a persisted pipeline and register it for `dir`. */
  def loadModel(s: SparkSession, dir: String, path: String): PipelineModel = {
    val m = PipelineModel.load(path)
    graft.Caches.evict("sentiment", dir)
    graft.Caches.artifact("sentiment", dir)(m)
  }

  /** Training-fold accuracy for the spec. */
  def trainAccuracy(s: SparkSession, dir: String): Double =
    accuracyOn(s, dir, trainFold = true)

  /** Held-out (test-fold) accuracy — docs the model never saw. */
  def heldOutAccuracy(s: SparkSession, dir: String): Double =
    accuracyOn(s, dir, trainFold = false)

  private def accuracyOn(s: SparkSession, dir: String, trainFold: Boolean): Double = {
    import s.implicits._
    val docs = labeled(s, dir).filter($"label".isNotNull && $"is_train" === trainFold)
    val scored = fit(s, dir).transform(docs)
    scored.filter($"prediction" === $"label").count().toDouble / scored.count()
  }

  /** Noise-robustness eval — the NON-VACUOUS complement to
    * `heldOutAccuracy`: the weak polarity labels are trivially
    * separable (the marker terms are in the features), so clean
    * train/held-out accuracy pins at ~1.0 and cannot regress. Here a
    * deterministic ~15% of the TRAIN fold's labels flip (keyed on
    * xxhash64(doc_id) — reproducible across runs and engines), a fresh
    * pipeline fits on the noisy fold, and the result is
    * (held-out CLEAN accuracy, train accuracy vs the NOISY labels):
    *
    *  - the first sits meaningfully below 1.0 (≈0.91 at sf0.001) and
    *    falls when the learner stops recovering the true signal under
    *    supervision noise — regularization broken, featurization
    *    broken, fit diverging;
    *  - the second sits well below 1.0 (≈0.84) precisely because a
    *    good fit must DISAGREE with the flipped labels; if it climbs
    *    toward 1.0 the model is memorizing noise (overfit).
    *
    * Fresh fit, never the `sentiment` artifact: this is an eval instrument — m2
    * serving stays noise-free. */
  def noiseRobustEval(s: SparkSession, dir: String): (Double, Double) = {
    import s.implicits._
    val base = labeled(s, dir).filter($"label".isNotNull)
      .withColumn("flip", pmod(xxhash64($"doc_id"), lit(20)) < 3)
      .withColumn("noisy_label",
        when($"flip", lit(1.0) - $"label").otherwise($"label"))
    val model = trainStagewise(base.filter($"is_train")
      .withColumn("label", $"noisy_label"))
    def acc(df: DataFrame, labelCol: String): Double = {
      val scored = model.transform(df)
      scored.filter($"prediction" === col(labelCol)).count().toDouble / scored.count()
    }
    (acc(base.filter(!$"is_train"), "label"),
      acc(base.filter($"is_train"), "noisy_label"))
  }
}
