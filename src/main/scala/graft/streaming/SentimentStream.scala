package graft.streaming

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming scoring twin of the m2 sentiment head — the production
  * pattern where the model trains OFFLINE (batch, `Sentiment.fit` /
  * `loadModel`) and scores documents IN FLIGHT: every stage of the
  * fitted pipeline (tokenizer → stopwords → hashingTF → IDF model →
  * logistic model) is a row-local transformer, so
  * `PipelineModel.transform` composes directly onto an unbounded
  * streaming DataFrame — no state store, no watermark, scan-speed
  * scoring at any rate. The spec drives a MemoryStream and pins
  * stream scores == batch scores document-for-document (same model,
  * same rows ⇒ bit-identical probabilities).
  */
object SentimentStream {

  /** Score a (streaming or batch) documents frame with a fitted
    * sentiment pipeline; same output surface as m2. */
  def scoreStream(model: PipelineModel, docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    model.transform(docs)
      .select($"doc_id", $"prediction",
        round(element_at(vector_to_array($"probability"), 2), 4).as("p_positive"))
  }
}
