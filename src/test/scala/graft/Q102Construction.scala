package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One forced-distributed run of q102's construction per input graph,
  * shared by the specs that check it against different local
  * references: phase-1 moves (`Graph.louvainMoves`), contraction into
  * the weighted supergraph, its coloring and the phase-2 weighted
  * moves (`Graph.louvainMovesW`). Results are memoized on the edge
  * set, so a graph two specs both use is run once per JVM. */
object Q102Construction {

  /** The collected supergraph and the distributed phase-2 labeling. */
  case class Run(cross: Seq[(Long, Long, Long)], strength: Map[Long, Long],
      m2w: Long, color: Map[Long, Int], moves: Map[Long, Long])

  private val memo = collection.mutable.Map.empty[Vector[(Long, Long)], Run]

  def run(spark: SparkSession, pairs: Seq[(Long, Long)]): Run =
    memo.synchronized {
      memo.getOrElseUpdate(pairs.distinct.sorted.toVector,
        compute(spark, pairs))
    }

  private def compute(spark: SparkSession, pairs: Seq[(Long, Long)]): Run = {
    import spark.implicits._
    val df = pairs.toDF("pa", "pb")
    val edges = df.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(df.select($"pb".as("src"), $"pa".as("dst"))).cache()
    val colored = operators.Graph.trialColoring(
      edges, operators.Graph.SemiColoringRounds)._1
    val l1 = operators.Graph.louvainMoves(edges,
      colored.select($"node", $"color", $"node".as("lbl")),
      operators.Graph.SemiColors)
    // contraction — the q102 construction
    val le = edges
      .join(l1.select($"node".as("src"), $"lbl".as("la")), "src")
      .join(l1.select($"node".as("dst"), $"lbl".as("lb")), "dst")
      .groupBy($"la", $"lb").agg(count(lit(1)).as("w")).cache()
    val cross = le.filter($"la" =!= $"lb")
      .select($"la".as("src"), $"lb".as("dst"), $"w")
    val strength = le.groupBy($"la".as("node")).agg(sum($"w").as("s"))
    val m2w = edges.count()
    val col2 = operators.Graph.trialColoring(
      cross.select($"src", $"dst"), operators.Graph.SemiColoringRounds)._1
    val moves = operators.Graph.louvainMovesW(cross, strength, m2w,
      col2.select($"node", $"color", $"node".as("lbl")),
      operators.Graph.LouvainP2Rounds, operators.Graph.LouvainP2Colors)
      .as[(Long, Long)].collect().toMap
    val out = Run(cross.as[(Long, Long, Long)].collect().toSeq,
      strength.as[(Long, Long)].collect().toMap, m2w,
      col2.as[(Long, Int)].collect().toMap, moves)
    le.unpersist(); edges.unpersist()
    out
  }
}
