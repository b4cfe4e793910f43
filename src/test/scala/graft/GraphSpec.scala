package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Graph, GraphLocal}

/** The co-purchase graph family's shared distributed kernels, driven
  * directly: the multi-source frontier BFS and the ego-seeded entries
  * on a graph with no edge at the threshold. */
class GraphSpec extends GraftSpecBase {
  import spark.implicits._

  /** Per-seed BFS that runs every one of the `radius` rounds (no early
    * exit): seed → node → hops. */
  private def fullRadiusBfs(adj: Map[Long, Seq[Long]], seed: Long,
      radius: Int): Map[Long, Int] = {
    val dist = collection.mutable.Map(seed -> 0)
    var frontier = Set(seed)
    for (h <- 1 to radius) {
      frontier = frontier.flatMap(adj.getOrElse(_, Seq.empty)).filterNot(dist.contains)
      frontier.foreach(n => dist(n) = h)
    }
    dist.toMap
  }

  test("bfsHops: multi-source rows equal per-seed full-radius BFS when one seed's frontier empties early") {
    // two components: a diamond 1-{2,3}-4 with a tail 4-5-6-7 (seed 1
    // runs to the radius or to its eccentricity 5; node 4 is reached
    // twice at hop 2; seed 5 shares every node with seed 1) and a star
    // 10-{11,12} (seed 10's frontier is empty after hop 1)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (10L, 11L), (10L, 12L))
    val sym = pairs ++ pairs.map(_.swap)
    val edges = sym.toDF("src", "dst")
    val adj = sym.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    val seeds = Seq(1L, 5L, 10L)
    // radius 4 cuts the path; radius 8 outlives every frontier, so the
    // kernel stops before its budget
    Seq(4, 8).foreach { radius =>
      val got = GraphLocal.withGates(GraphLocal.Distributed) {
        Graph.bfsHops(edges, seeds.toDF("seed"), radius)
          .as[(Long, Long, Int)].collect().toSeq.sorted
      }
      val want = seeds.flatMap { sd =>
        fullRadiusBfs(adj, sd, radius).map { case (n, h) => (sd, n, h) }
      }.sorted
      assert(got == want, s"radius $radius: got $got\nwant $want")
    }
  }

  /** A dataset of one order: every pair is bought together exactly
    * once, so no pair reaches the co-purchase threshold. */
  private def oneOrderDataset(): String = {
    val li = Tables.lineitem(spark, sf)
    val order = li.agg(min($"l_orderkey")).as[Long].head()
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_graph").toString
    li.filter($"l_orderkey" === order).write.parquet(s"$dir/lineitem.parquet")
    assert(Graph.copurchaseHalf(spark, dir).isEmpty)
    dir
  }

  test("q77, q78, q85 return no rows with their normal columns when no pair reaches the threshold") {
    val dir = oneOrderDataset()
    val entries: Seq[(String, String => DataFrame)] = Seq(
      "q77" -> (d => Graph.q77Ppr(spark, d)),
      "q78" -> (d => Graph.q78SeedReach(spark, d)),
      "q85" -> (d => Graph.q85Sssp(spark, d)))
    try entries.foreach { case (name, fn) =>
      val empty = fn(dir)
      assert(empty.collect().isEmpty, s"$name returned rows on an empty graph")
      val normal = fn(sf).schema.map(f => (f.name, f.dataType))
      assert(empty.schema.map(f => (f.name, f.dataType)) == normal, name)
    } finally Caches.clear()
  }

  test("q88 returns one all-NULL row with its normal columns when no pair reaches the threshold") {
    // the oracle's scalar subqueries over an empty graph give one row
    // of NULLs; the entry answers the same under either gate
    val dir = oneOrderDataset()
    val normal = Graph.q88Diameter(spark, sf).schema.map(f => (f.name, f.dataType))
    try Seq("default" -> GraphLocal.gates, "distributed" -> GraphLocal.Distributed)
      .foreach { case (regime, g) =>
        Caches.clear()
        val empty = GraphLocal.withGates(g)(Graph.q88Diameter(spark, dir))
        val rows = empty.collect()
        assert(rows.length == 1, s"$regime: ${rows.length} rows")
        assert(rows.head.toSeq.forall(_ == null), s"$regime: ${rows.head}")
        assert(empty.schema.map(f => (f.name, f.dataType)) == normal, regime)
      }
    finally Caches.clear()
  }
}
