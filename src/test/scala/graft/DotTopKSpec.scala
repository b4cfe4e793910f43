package graft

import org.apache.spark.sql.functions._

/** `dot_topk` packed-block scan: parity with the explode+join+topk_agg
  * formulation it replaces, tie discipline, and the m1/m3 adoption. */
class DotTopKSpec extends GraftSpecBase {
  import spark.implicits._

  private def topk(qv: Seq[Double], ids: Seq[Long], flat: Seq[Double], k: Int) = {
    val df = Seq((qv, ids, flat)).toDF("q", "ids", "flat")
    df.select(call_function("dot_topk", $"q", $"ids", $"flat", lit(k)).as("top"))
      .select(explode($"top").as("c"))
      .select($"c.score", $"c.id").as[(Double, Long)].collect().toSeq
  }

  test("selects top-k by dot desc with id asc ties, in rank order") {
    // candidates: id 10 -> (1,0), id 3 -> (0,1), id 7 -> (1,0) [tie with 10]
    val got = topk(Seq(2.0, 3.0), Seq(10L, 3L, 7L),
      Seq(1.0, 0.0, 0.0, 1.0, 1.0, 0.0), 2)
    // scores: 10 -> 2.0, 3 -> 3.0, 7 -> 2.0; top2 = (3.0, id 3), (2.0, id 7)
    assert(got == Seq((3.0, 3L), (2.0, 7L)))
  }

  test("returns fewer than k when the block is smaller") {
    val got = topk(Seq(1.0), Seq(5L), Seq(4.0), 3)
    assert(got == Seq((4.0, 5L)))
  }

  test("-0.0 and 0.0 scores tie and break by id, matching topk_agg") {
    // q = [0.0]: id 9 vector [-1.0] -> -0.0, id 2 vector [1.0] -> 0.0
    val got = topk(Seq(0.0), Seq(9L, 2L), Seq(-1.0, 1.0), 1)
    assert(got.map(_._2) == Seq(2L))
  }

  test("rejects a wrong arity or a non-literal k at analysis") {
    val df = Seq((Seq(1.0), Seq(5L), Seq(4.0), 3)).toDF("q", "ids", "flat", "k")
    def err(args: org.apache.spark.sql.Column*): String =
      intercept[org.apache.spark.sql.AnalysisException] {
        df.select(call_function("dot_topk", args: _*))
      }.getMessage
    val arity = err($"q", $"ids", $"flat")
    assert(arity.contains("dot_topk(q, ids, flat, k) takes 4 arguments, got 3"), arity)
    val column = err($"q", $"ids", $"flat", $"k")
    assert(column.contains("dot_topk: k must be an INT literal"), column)
  }

  test("rejects a flat block whose size disagrees with ids x dims") {
    val ex = intercept[Exception] {
      topk(Seq(1.0, 2.0), Seq(1L, 2L), Seq(1.0, 2.0, 3.0), 1)
    }
    assert(ex.getMessage != null)
  }

  test("matches the explode+join+topk_agg formulation on random blocks") {
    val rnd = new scala.util.Random(7)
    val d = 8
    val blocks = (0 until 6).map { b =>
      val n = 1 + rnd.nextInt(40)
      val ids = (0 until n).map(_ => rnd.nextInt(1000).toLong).distinct
      val flat = ids.flatMap(_ => Seq.fill(d)(rnd.nextDouble() * 2 - 1))
      (b, ids, flat)
    }
    val queries = (0 until 5).map(q =>
      (q.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1), rnd.nextInt(6)))
    val bdf = blocks.toDF("cluster", "ids", "flat")
    val qdf = queries.toDF("q_id", "qv", "probe")
    val fast = qdf.join(bdf, $"probe" === $"cluster")
      .select($"q_id",
        explode(call_function("dot_topk", $"qv", $"ids", $"flat", lit(3))).as("c"))
      .select($"q_id", $"c.score".as("score"), $"c.id".as("id"))
    // reference: explode the block to candidate rows, dot, topk_agg
    val cand = bdf.select($"cluster", posexplode($"ids").as(Seq("pos", "id")), $"flat")
      .select($"cluster", $"id", slice($"flat", $"pos" * d + 1, lit(d)).as("v"))
    val slow = qdf.join(cand, $"probe" === $"cluster")
      .select($"q_id", $"id",
        call_function("array_dot", $"qv", $"v").as("score"))
      .groupBy($"q_id")
      .agg(call_function("topk_agg", $"score", $"id", lit(3)).as("top"))
      .select($"q_id", explode($"top").as("c"))
      .select($"q_id", $"c.score".as("score"), $"c.id".as("id"))
    val a = fast.as[(Long, Double, Long)].collect().sortBy(r => (r._1, -r._2, r._3)).toSeq
    val b = slow.as[(Long, Double, Long)].collect().sortBy(r => (r._1, -r._2, r._3)).toSeq
    assert(a == b)
  }

  test("m1 packed serving equals the candidate-row formulation") {
    import graft.functions.VectorFunctions.dot
    val model = ml.Recommender.fit(spark, sf)
    val (items, centers) = ml.Recommender.itemIvf(spark, sf)
    val probesN = math.max(ml.Recommender.UserProbes, centers.length / 8)
    // same probe selection as m1; the reference differs ONLY in the
    // scoring path (candidate-row join + topk_agg vs packed block scan)
    val cidsLit = typedlit(centers.indices.toArray)
    val cflatLit = typedlit(centers.toSeq.flatten)
    val users = model.userFactors
      .select($"id".as("c_custkey"), transform($"features", _.cast("double")).as("u"))
      .select($"c_custkey", $"u",
        explode(call_function("dot_topk", $"u", cidsLit, cflatLit, lit(probesN))
          .getField("id")).as("probe"))
    val reference = users
      .join(items.select($"id".as("p_partkey"), $"v", $"cluster"), $"probe" === $"cluster")
      .select($"c_custkey", $"p_partkey", dot($"u", $"v").as("score"))
      .groupBy($"c_custkey")
      .agg(call_function("topk_agg", $"score", $"p_partkey", lit(5)).as("top"))
      .select($"c_custkey", posexplode($"top").as(Seq("pos", "rec")))
      .select($"c_custkey", ($"pos" + 1).as("rnk"),
        $"rec.id".as("p_partkey"), round($"rec.score", 4).as("score"))
    val got = ml.Recommender.m1AlsRecommend(spark, sf)
      .collect().map(_.toSeq).toSet
    val want = reference.collect().map(_.toSeq).toSet
    assert(got == want)
  }
}
