package graft

import graft.operators.GraphLocal

/** Optimization round 15: every local endgame added this round must be
  * result-identical to the distributed path it gates — the q102/r14
  * discipline applied to the remaining iterative stragglers
  * (components, diameter, Brandes, HyperANF). */
class OptR15Spec extends GraftSpecBase {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Run `fn` twice — local-gated, then forced-distributed — with the
    * memo layer cleared per regime so the gated build itself re-runs. */
  private def parity(name: String)(fn: () => org.apache.spark.sql.DataFrame): Unit = {
    Caches.clear()
    val local = rowsOf(fn())
    Caches.clear()
    val dist = GraphLocal.withGates(GraphLocal.Gates(graph = 0L))(rowsOf(fn()))
    Caches.clear()
    assert(local == dist, s"$name: local endgame diverged from the " +
      s"distributed path\n local=${local.take(5)}\n dist=${dist.take(5)}")
  }

  test("q94: local robustness == forced-distributed, bit-identical") {
    parity("q94")(() => operators.Graph.q94Robustness(spark, sf))
  }

  test("q88: local double sweep == forced-distributed, bit-identical") {
    parity("q88")(() => operators.Graph.q88Diameter(spark, sf))
  }

  test("q86: local Brandes == forced-distributed, bit-identical") {
    parity("q86")(() => operators.Graph.q86Betweenness(spark, sf))
  }

  test("q66: local k-core peel == forced-distributed, bit-identical") {
    parity("q66")(() => operators.Graph.q66Kcore(spark, sf))
  }

  test("q76: local nested peel == forced-distributed, bit-identical") {
    parity("q76")(() => operators.Graph.q76CoreNumbers(spark, sf))
  }

  test("q76: clamped local peel falls through to the distributed escalation") {
    // kMax=2 cannot empty sf0.001's K_max=15 graph: the local peel must
    // return None and the entry must take the same h-index escalation
    // the distributed path takes (Round8Spec pins that path's output)
    import spark.implicits._
    Caches.clear()
    val gated = operators.Graph.q76CoreNumbers(spark, sf, kMax = 2, rounds = 3)
      .collect().map(_.toString).toSeq
    Caches.clear()
    val dist = GraphLocal.withGates(GraphLocal.Gates(graph = 0L)) {
      operators.Graph.q76CoreNumbers(spark, sf, kMax = 2, rounds = 3)
        .collect().map(_.toString).toSeq
    }
    Caches.clear()
    assert(gated == dist)
  }

  test("q85: local Bellman-Ford == forced-distributed, bit-identical") {
    parity("q85")(() => operators.Graph.q85Sssp(spark, sf))
  }

  test("q97: observed per-round totals == post-hoc estimate aggregate (same bytes, one fewer job per round)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Caches.clear()
    val prs = operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2)
    val edges = prs.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(prs.select($"pb".as("src"), $"pa".as("dst")))
    val (state, totals) = operators.Graph.anfLoop(edges,
      operators.Graph.AnfRounds, operators.Graph.AnfLgK)
    // the final observed total must equal re-aggregating the final
    // checkpointed state — the observe refactor changed the job
    // schedule, not the bytes estimated
    val postHoc = state.agg(sum(expr("hll_sketch_estimate(sk)")))
      .as[Long].head()
    assert(totals.last == postHoc,
      s"observed totals $totals diverge from post-hoc estimate $postHoc")
    Caches.clear()
  }

  test("components gate: d6/p10/q73 local union-find == forced-distributed") {
    parity("d6")(() => operators.Dedup.d6DupGroups(spark, sf))
    parity("p10")(() => operators.Dedup.p10NearDedup(spark, sf))
    parity("q73")(() => operators.Graph.q73PartFamilies(spark, sf))
  }

  test("components gate: constructed graph — min-id labels, chains and singleton-free bidirectional input") {
    import spark.implicits._
    // two components {1,2,3,7} (chain) and {10,11}, bidirectional
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = operators.Dedup.connectedComponents(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L), got.toString)
  }
}
