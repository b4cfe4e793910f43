package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphLocal

/** Optimization round 14: every plan-shape change must be
  * result-identical to the path it replaces — the q102 discipline
  * applied to this round's reworked operators. */
class OptR14Spec extends GraftSpecBase {
  import spark.implicits._

  // ------------- q99 HITS regime parity -------------

  private def q99Rows(): Seq[(String, Long, Long)] =
    operators.Graph.q99Hits(spark, sf)
      .as[(String, Long, Long)].collect().toSeq

  test("q99: local endgame == broadcast regime == shuffle path, bit-identical") {
    val local = q99Rows()
    val bcast = GraphLocal.withGates(GraphLocal.Gates(hitsLocal = 0L))(q99Rows())
    assert(local == bcast, "q99 local endgame diverged from broadcast regime")
    val shuffle = GraphLocal.withGates(
      GraphLocal.Gates(hitsLocal = 0L, hitsBroadcast = 0L))(q99Rows())
    assert(local == shuffle, "q99 local endgame diverged from shuffle path")
  }

  // ------------- graph loop family: local endgame parity -------------

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("graph loops: local endgame == forced-distributed, bit-identical per entry") {
    val entries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "q53" -> (() => operators.Graph.q53Pagerank(spark, sf)),
      "q77" -> (() => operators.Graph.q77Ppr(spark, sf)),
      "q80" -> (() => operators.Graph.q80WeightedPagerank(spark, sf)),
      "q81" -> (() => operators.Graph.q81LabelProp(spark, sf)),
      "q79" -> (() => operators.Graph.q79CoreHindex(spark, sf)),
      "q78" -> (() => operators.Graph.q78SeedReach(spark, sf)),
      "q82" -> (() => operators.Graph.q82Harmonic(spark, sf)))
    entries.foreach { case (name, fn) =>
      val local = rowsOf(fn())
      val dist = GraphLocal.withGates(GraphLocal.Gates(graph = 0L))(rowsOf(fn()))
      assert(local == dist, s"$name: local endgame diverged from the " +
        s"distributed path\n local=${local.take(5)}\n dist=${dist.take(5)}")
    }
  }

  // ------------- labeling chain: local endgame parity -------------

  test("q84/q100/q101 labeling chain: local == forced-distributed (memoized artifacts rebuilt per regime)") {
    def runAll(): Seq[Seq[String]] = {
      Caches.clear() // force the memoized chain to rebuild in-regime
      Seq(
        rowsOf(operators.Graph.q84LpaSemisync(spark, sf)),
        rowsOf(operators.Graph.q100Modularity(spark, sf)),
        rowsOf(operators.Graph.q101Louvain(spark, sf)))
    }
    val local = runAll()
    val dist = GraphLocal.withGates(GraphLocal.Gates(graph = 0L))(runAll())
    Caches.clear()
    Seq("q84", "q100", "q101").zipWithIndex.foreach { case (name, i) =>
      assert(local(i) == dist(i),
        s"$name: local labeling chain diverged from the distributed path")
    }
  }

  // ------------- metric heads' rating frame -------------

  test("ratingsOf == ratings exactly (value-for-value)") {
    val a = ml.Recommender.ratings(spark, sf)
      .as[(Long, Long, Float)].collect().sorted.toSeq
    val b = ml.Recommender.ratingsOf(spark, sf)
      .as[(Long, Long, Float)].collect().sorted.toSeq
    assert(a == b, "memoized rating frame diverged from the ALS builder")
  }

  // ------------- m1 slate memo -------------

  test("m1 slate memo serves the registry entry's exact output") {
    val memo = ml.Recommender.m1AlsRecommend(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // a second call must serve the same frame (same rows, same order)
    val again = ml.Recommender.m1AlsRecommend(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(memo == again, "m1 slate memo unstable across calls")
    assert(memo.nonEmpty && memo.map(_._1).distinct.size * 5 >= memo.size,
      "slate shape broke: more than 5 recs per user")
  }
}
