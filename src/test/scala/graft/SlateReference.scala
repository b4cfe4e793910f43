package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{dot, q4, toDoubles}

/** The `row_number().over(…) <= k` window formulation of a top-k slate.
  * The engine ranks every vector-search slate through one `topk_agg`
  * (`Similarity.slate`: score desc with −0.0 canonicalized, then
  * neighbor_id asc); this is the formulation it replaced, kept as the
  * reference the slates are checked against. */
object SlateReference {

  /** Top-`k` rows per `keys` group by (score desc, neighbor_id asc), as
    * (keys…, rnk, neighbor_id, score) ordered by (q_id, rnk). */
  def windowSlate(scored: DataFrame, keys: Seq[String], score: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(score).desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select((keys ++ Seq("rnk", "neighbor_id", score)).map(col): _*)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** s1's exact top-3 for the queries vec_id < `nQueries`: the same
    * brute-force q4 cosine, ranked by the window. */
  def knnBrute(s: SparkSession, dir: String, nQueries: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", toDoubles($"embedding").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    windowSlate(emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos")), Seq("q_id"), "cos", 3)
  }
}
