package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.FreshCheckpoint

/** Graph analytics over the co-purchase graph (parts are nodes, an
  * edge joins parts bought together in ≥ 2 orders) — the "customers
  * also bought" graph every retail analytics stack mines. d6 covers
  * connected components on the document near-dup graph; this module
  * adds centrality.
  */
object Graph {

  /** Fixed-point scale: ranks live in integer micro-units (1.0 ≡ 1e6).
    * PageRank is float iteration in every textbook (Page et al. 1999),
    * but float sums are addition-order-dependent, which across two
    * engines (and across Spark's own shuffle nondeterminism) makes
    * bit-exact verification impossible. Integer fixed-point makes the
    * whole computation EXACT — same result on Spark, DuckDB, or a
    * calculator — at a quantization error (≤ 1 micro-unit per
    * operation, 5 iterations ≈ 1e-5 relative) far below anything a
    * ranking consumer can observe. */
  val Scale = 1000000L
  val Iters = 5

  /** The threshold-2 co-purchase graph as its half list (pa < pb,
    * n_orders): part pairs bought together in ≥ 2 orders, over the
    * family's memoized pair artifact (order-key self-join, codegen'd —
    * see Analytics.copurchasePairs). The ONE place the family applies
    * the threshold, so the graph holds signal, not noise. Lazy plan. */
  private[graft] def copurchaseHalf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Analytics.copurchasePairs(s, dir).filter($"n_orders" >= 2)
  }

  /** The threshold-2 graph's symmetric edge list (src, dst, n_orders):
    * both directions of every half pair, the pair weight riding along
    * (q80 and q85 derive their edge weights from it). Lazy plan —
    * callers cache around their loops. */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prs = copurchaseHalf(s, dir)
    prs.select($"pa".as("src"), $"pb".as("dst"), $"n_orders")
      .unionAll(prs.select($"pb".as("src"), $"pa".as("dst"), $"n_orders"))
  }

  /** The top-`k` nodes of a symmetric edge list by degree (deg desc,
    * key asc) as a one-column `seed` frame — the deterministic pivot /
    * hub rule (q78/q82/q86/q94) both engines agree on. */
  private[graft] def topByDegree(edges: DataFrame, k: Int): DataFrame = {
    import edges.sparkSession.implicits._
    edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .orderBy($"deg".desc, $"src").limit(k).select($"src".as("seed"))
  }

  /** The ego seed (q77/q85/q88): the highest-degree node, min-key
    * tie-break — the "anchor product" a merchandiser would actually
    * ask about. None when the graph is empty. */
  private[graft] def egoSeed(edges: DataFrame): Option[Long] = {
    import edges.sparkSession.implicits._
    topByDegree(edges, 1).as[Long].collect().headOption
  }

  /** The distributed damped PageRank (d = 0.85) of the family — q53
    * (uniform), q77 (personalized) and q80 (weighted) — over a
    * symmetric weighted edge list (src, dst, w), in exact integer
    * fixed point. Returns (node, rank) after `iters` rounds. `seed` =
    * None spreads the 0.15 restart mass uniformly; Some(sd) pins it to
    * `sd` (topic-sensitive PageRank, Haveliwala WWW'02), so nodes the
    * walk has not reached stay at rank 0.
    *
    * Integer algebra: each edge ships (rank · w) div W_src, W_src = Σ w
    * over src's out-edges — a per-edge floor, deterministic and
    * oracle-replayable. With w = 1 every W_src is the out-degree at
    * LongType, so (rank · 1) div W_src ≡ rank div deg: q53/q77's
    * unweighted algebra to the bit.
    *
    * Shape at scale: each iteration is ONE shuffle — contributions
    * flow along edges and aggregate on the destination key (map-side
    * partials); the rank update joins back on the node key both frames
    * already hash by, the restart term is a per-row `when` (the seed
    * is a driver scalar), and `localCheckpoint` flattens lineage per
    * round exactly like d6's propagation loop — so the loop also
    * materializes eagerly inside the call. `iters` graph-sized
    * shuffles, no driver-side state beyond the loop counter; a
    * billion-edge graph runs the same plan wider. Dangling nodes cannot
    * exist (edges are symmetric, so every node has out-degree ≥ 1). */
  private[graft] def pagerank(weighted: DataFrame, iters: Int,
      seed: Option[Long]): DataFrame = graft.Caches.scoped { sc =>
    val s = weighted.sparkSession
    import s.implicits._
    val edges = sc.keep(weighted.select($"src", $"dst", $"w"))
    val wdeg = sc.keep(edges.groupBy($"src").agg(sum($"w").as("wd")))
    def pinned(node: Column, mass: Long): Column =
      seed.fold(lit(mass))(sd => when(node === sd, lit(mass)).otherwise(lit(0L)))
    var ranks = wdeg.select($"src".as("node"), pinned($"src", Scale).as("rank"))
      .localCheckpoint(true)
    withLoopWidth(s, edges.count()) {
    for (_ <- 1 to iters) {
      val contrib = edges.join(wdeg, "src")
        .join(ranks, $"src" === $"node")
        .select($"dst", expr("(rank * w) div wd").as("c"))
        .groupBy($"dst").agg(sum($"c").as("c"))
      ranks = ranks.join(contrib, $"node" === $"dst", "left")
        .select($"node",
          (pinned($"node", Scale * 15 / 100) +
            expr("(85 * coalesce(c, 0L)) div 100")).as("rank"))
        .localCheckpoint(true)
    }
    }
    ranks
  }

  /** Q53: 5-iteration uniform damped PageRank over the threshold-2
    * co-purchase graph (`pagerank` with w = 1). */
  def q53Pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LOCAL ENDGAME (round 14): the thresholded pair list is metadata-
    // scale; under the gate the 5 rounds replay driver-side with
    // bit-identical integer algebra (GraphLocal; OptR14Spec pins
    // local == forced-distributed). The pair BUILD stays distributed
    // at every SF.
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.pagerankTop(s, half, Iters)
      case None =>
    }
    pagerank(copurchaseEdges(s, dir).withColumn("w", lit(1L)), Iters, None)
      .select($"node".as("l_partkey"), $"rank".as("pr_rank"))
      .orderBy($"pr_rank".desc, $"l_partkey")
      .limit(50)
  }

  /** Round 15 (VERDICT item 6): q53's DISTRIBUTED kernel as its own
    * registry entry — at the driver's correctness SFs every gated
    * family takes the driver-local path, so without this twin the
    * distributed fixed-point loop would be exercised only by the
    * builder's own parity specs. The oracle SQL is identical to
    * q53_pagerank's (same computation, forced through the distributed
    * regime; `pagerank` materializes eagerly through its
    * localCheckpoints, so the gate override covers the whole build). */
  def q53PagerankDist(s: SparkSession, dir: String): DataFrame =
    GraphLocal.withGates(GraphLocal.Distributed)(q53Pagerank(s, dir))

  /** Q54: triangle census + global clustering coefficient over the
    * same threshold-2 co-purchase graph — the graph-health summary
    * (how clique-ish is co-purchase behavior). All integer counts plus
    * one floor-quantized ratio, so cross-engine exact.
    *
    * Triangles enumerate ONCE via the oriented form: with edges kept
    * as pa < pb, a triangle a<b<c appears exactly as the wedge
    * (a,b)+(b,c) closed by (a,c) — two shuffle equi-joins on keys the
    * edge list already carries, never a cube. The join fan-out is
    * Σ C(deg⁺,2) (oriented wedge count), the standard bound that keeps
    * triangle counting tractable on power-law graphs when orientation
    * is by the TOTAL order (high-degree nodes get low out-degree).
    * Wedges (open + closed) come from the degree frame: Σ C(deg,2),
    * a part-cardinality-sized aggregate. */
  /** Q62: neighbor-Jaccard link prediction over the threshold-2
    * co-purchase graph — the top 50 part pairs that are NOT yet edges
    * but share the most similar neighborhoods (Liben-Nowell & Kleinberg
    * 2003's strongest simple predictor): J(a,b) =
    * |N(a)∩N(b)| / |N(a)∪N(b)|, all integer counts, one floor-
    * quantized ratio, rank tie-broken on the pair key — cross-engine
    * exact.
    *
    * Shape at scale: common-neighbor counts enumerate as wedges — one
    * self-join of the symmetric adjacency on the CENTER key (the
    * q50/m10 one-exchange-two-sides shape), fan-out Σ C(deg, 2), the
    * same bound q54 already carries for the wedge census; the count
    * then aggregates on the (a, b) pair key those rows carry. Degrees
    * ride in on a catalog-sized broadcast, existing edges anti-join
    * out on the pair key, and the final rank is a TakeOrdered top-50,
    * never a global sort.
    *
    * ROUTING (SURVEY §6.15): this exact path recounts each candidate
    * pair once PER COMMON NEIGHBOR — fan-out Σ C(deg,2), measured
    * 132–253 s single-shot at 20× — so it is the ORACLE BASELINE, not
    * the production path. At scale route to `q62LinkLsh` (the MinHash
    * band-join twin below): same output surface, exact Jaccard on
    * every reported pair, each pair pays |N(a)|+|N(b)| exactly once.
    * Ship this exact path only at wedge counts you have budgeted. */
  def q62LinkPredict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = copurchaseHalf(s, dir).select($"pa", $"pb")
    val sym = copurchaseEdges(s, dir).select($"src".as("w"), $"dst".as("n"))
    val common = sym.as("x").join(sym.as("y"),
        $"x.w" === $"y.w" && $"x.n" < $"y.n")
      .groupBy($"x.n".as("a"), $"y.n".as("b"))
      .agg(count(lit(1)).as("common"))
    val deg = sym.groupBy($"n").agg(count(lit(1)).as("deg"))
    common
      .join(e.select($"pa".as("a"), $"pb".as("b")), Seq("a", "b"), "left_anti")
      .join(broadcast(deg.select($"n".as("a"), $"deg".as("da"))), "a")
      .join(broadcast(deg.select($"n".as("b"), $"deg".as("db"))), "b")
      .select($"a", $"b", $"common",
        (floor($"common" * 10000 / ($"da" + $"db" - $"common")) / 10000.0)
          .as("jaccard"))
      .orderBy($"jaccard".desc, $"a", $"b")
      .limit(50)
  }

  /** Q62-LSH: the production-scale candidate path for neighbor-Jaccard
    * link prediction — q62's exact wedge enumeration recounts every
    * candidate pair once PER COMMON NEIGHBOR (fan-out Σ C(deg,2), the
    * measured 20× ceiling: 132–253 s), which on a densifying graph is
    * the one exact-path asymptote a real user hits. This is the d3
    * machinery applied to neighbor SETS: MinHash signatures of each
    * node's adjacency list, LSH band join over DISTINCT signatures
    * (duplicate compression — a hub's thousand degree-1 spokes share
    * one signature), then an EXACT Jaccard verify on the survivors via
    * one `sorted_intersect_size` two-pointer merge per candidate pair
    * — each pair pays |N(a)|+|N(b)| exactly once, never once per
    * wedge. Banding is 32 bands × 2 rows (NumHashes = 64): collision
    * probability 1−(1−J²)³² ≈ 0.9999 at J = 0.5, 0.95 at J = 0.3 —
    * sized to the measured top-50 regime (J ≥ 0.5 on this corpus at
    * every SF). Seeded-hash signatures are deterministic but not
    * SQL-replicable → rows-only; the spec pins recall ≥ 0.7 against
    * the exact top-50 (the exact entry stays as the oracle baseline).
    *
    * Same output surface as q62 (a, b, common, jaccard — common and
    * jaccard EXACT on every reported pair, same tie-break), so a
    * candidate-complete run is bit-identical to the exact path. */
  def q62LinkLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q62_lsh_top", dir) { sc =>
      val e = copurchaseHalf(s, dir).select($"pa", $"pb")
      val sym = copurchaseEdges(s, dir).select($"src".as("v"), $"dst".as("nb"))
      // per-node neighbor-set signature + sorted adjacency array; both
      // artifacts are node-count-sized and feed several joins below
      val sigs = sc.keep(sym
        .select($"v", pmod(xxhash64($"nb"), lit(2147483647L)).as("x"))
        .groupBy($"v")
        .agg(call_function("minhash_agg", $"x").as("sig")))
      // banding SOLVED, not hand-tuned (Dedup.lshConfig): target
      // J = 0.5 (the measured top-50 regime floor at every SF),
      // recall floor 0.95 on the S-curve, background J estimated
      // from a rerun-stable signature sample — resolves to 32×2 on
      // this corpus, and re-solves itself if the signature width or
      // the similarity regime moves
      val (bandsN, rpb) = Dedup.lshConfig(Dedup.NumHashes, 0.5, 0.95,
        Dedup.estimateBackgroundJaccard(sigs))
      val adj = sc.keep(sym.groupBy($"v")
        .agg(array_sort(collect_list($"nb")).as("nbrs")))
      val distinctSigs = sigs.select($"sig").distinct()
      val bands = distinctSigs.select($"sig",
        explode(array((0 until bandsN).map { j =>
          struct(lit(j).as("band"),
            xxhash64(lit(j), slice($"sig", j * rpb + 1, rpb)).as("bh"))
        }: _*)).as("b"))
        .select($"sig", $"b.band", $"b.bh")
      val sigPairs = bands.as("x").join(bands.as("y"),
          $"x.band" === $"y.band" && $"x.bh" === $"y.bh" && $"x.sig" < $"y.sig")
        .select($"x.sig".as("sa"), $"y.sig".as("sb"))
        .dropDuplicates("sa", "sb")
      val inter = sigPairs
        .join(sigs.select($"v".as("va"), $"sig".as("sa")), "sa")
        .join(sigs.select($"v".as("vb"), $"sig".as("sb")), "sb")
        .select(least($"va", $"vb").as("a"), greatest($"va", $"vb").as("b"))
      val intra = sigs.as("x").join(sigs.as("y"),
          $"x.sig" === $"y.sig" && $"x.v" < $"y.v")
        .select($"x.v".as("a"), $"y.v".as("b"))
      val cands = inter.unionAll(intra).dropDuplicates("a", "b")
        .join(e.select($"pa".as("a"), $"pb".as("b")), Seq("a", "b"), "left_anti")
      cands
        .join(adj.select($"v".as("a"), $"nbrs".as("na")), "a")
        .join(adj.select($"v".as("b"), $"nbrs".as("nbb")), "b")
        .select($"a", $"b",
          call_function("sorted_intersect_size", $"na", $"nbb")
            .cast("long").as("common"),
          (size($"na") + size($"nbb")).cast("long").as("degsum"))
        .filter($"common" > 0L)
        .select($"a", $"b", $"common",
          (floor($"common" * 10000 / ($"degsum" - $"common")) / 10000.0)
            .as("jaccard"))
        .orderBy($"jaccard".desc, $"a", $"b")
        .limit(50)
    }
  }

  def q54Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = copurchaseHalf(s, dir).select($"pa", $"pb")
    val deg = e.select($"pa".as("n")).unionAll(e.select($"pb".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val tri = e.as("ab")
      .join(e.as("bc"), $"ab.pb" === $"bc.pa")
      .join(e.as("ac"),
        $"ac.pa" === $"ab.pa" && $"ac.pb" === $"bc.pb", "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      // integer `div`, not `/`: true division routes the count through
      // a double and loses exactness past 2^53 (power-law degree
      // squares at corpus scale) — bigint end-to-end matches the
      // oracle's integer `// 2`.
      expr("sum(deg * (deg - 1)) div 2").as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    stats.join(broadcast(nEdges)).join(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        when($"n_wedges" === 0L, 0.0)
          .otherwise(floor(lit(3L) * $"n_triangles" / $"n_wedges" * 10000) / 10000.0)
          .as("clustering"))
  }

  /** Q70: DOULION-style sampled triangle estimate (Tsourakakis et al.,
    * KDD'09) — the scale twin for the wedge-bound family (q54/q67):
    * keep each edge with probability p via a DETERMINISTIC seeded
    * xxhash coin (engine-rerunnable, like m11's sampling coin), count
    * triangles on the thinned graph with q54's oriented enumeration,
    * scale by 1/p³ (each triangle survives with p³ — the unbiased
    * DOULION estimator). The wedge fan-out Σ C(deg⁺,2) — the measured
    * exact-path ceiling — shrinks by p² BEFORE the join runs, because
    * both wedge edges must survive the scan-side coin: at p = 0.5 the
    * join does a quarter of the work, at p = 0.2 a twenty-fifth.
    * Estimate in exact integer arithmetic (n·1000³ div p₁₀₀₀³ in
    * decimal — no float in the estimator); seeded-coin output →
    * rows-only, spec pins p = 1 ≡ q54 exactly and the p² wedge-cost
    * contraction. */
  def q70TriangleSample(s: SparkSession, dir: String,
      p1000: Long = 500L): DataFrame = {
    import s.implicits._
    val e = copurchaseHalf(s, dir).select($"pa", $"pb")
      .filter(pmod(xxhash64(lit(7L), $"pa", $"pb"), lit(1000L)) < p1000)
    val tri = e.as("ab")
      .join(e.as("bc"), $"ab.pb" === $"bc.pa")
      .join(e.as("ac"),
        $"ac.pa" === $"ab.pa" && $"ac.pb" === $"bc.pb", "left_semi")
      .agg(count(lit(1)).as("n_tri_sampled"))
    val ne = e.agg(count(lit(1)).as("n_edges_sampled"))
    tri.join(broadcast(ne))
      .select(
        (lit(p1000) / 1000.0).as("p"),
        $"n_edges_sampled", $"n_tri_sampled",
        expr(s"(cast(n_tri_sampled as decimal(38,0)) * 1000000000L) div " +
          s"${p1000 * p1000 * p1000}L").as("est_triangles"))
  }

  /** Q71: per-node SAMPLED clustering coefficient — q67's lcc served
    * from q70's thinned graph: triangles count on edges surviving the
    * deterministic coin (wedge fan-out contracts p² scan-side — the
    * exact path's 100× bound), each node's count scales by 1/p³
    * (unbiased per node, exact integer div), while DEGREES stay exact
    * (the node-keyed aggregate is linear — no reason to sample it).
    * Per-node variance is the honest caveat: a node with few
    * triangles gets a noisy estimate (relative error ~1/√(p³·tri)),
    * so the consumer reads high-triangle nodes — the spec pins the
    * exact identities instead of a variance band: p = 1 ≡ q67
    * bit-for-bit, Σ per-node estimates = 3 × q70's census estimate at
    * the same p, rerun-identical. */
  def q71LccSample(s: SparkSession, dir: String,
      p1000: Long = 500L): DataFrame = {
    import s.implicits._
    val full = copurchaseHalf(s, dir).select($"pa", $"pb")
    val deg = full.select($"pa".as("n")).unionAll(full.select($"pb".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val e = full.filter(pmod(xxhash64(lit(7L), $"pa", $"pb"), lit(1000L)) < p1000)
    val tri = e.as("ab")
      .join(e.as("bc"), $"ab.pb" === $"bc.pa")
      .join(e.as("ac"),
        $"ac.pa" === $"ab.pa" && $"ac.pb" === $"bc.pb", "left_semi")
      .select($"ab.pa".as("a"), $"ab.pb".as("b"), $"bc.pb".as("c"))
    val triPerNode = tri
      .select(explode(array($"a", $"b", $"c")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("t"))
    deg.join(triPerNode, Seq("n"), "left")
      .select($"n", $"deg",
        expr(s"(cast(coalesce(t, 0L) as decimal(38,0)) * 1000000000L) div " +
          s"${p1000 * p1000 * p1000}L").as("tri_est"))
      .select($"n".as("l_partkey"), $"deg", $"tri_est",
        when($"deg" < 2, 0.0)
          .otherwise(floor($"tri_est" * 2 * 10000 /
            ($"deg" * ($"deg" - 1))) / 10000.0)
          .as("lcc_est"))
      .orderBy($"l_partkey")
  }

  /** Q73: co-purchase product FAMILIES — connected components over the
    * threshold-2 co-purchase graph (the merchandising cut: parts that
    * chain together through shared baskets form one assortment
    * family), labeled with the component-minimum part key plus the
    * family size. Reuses d6's pointer-jumping components
    * (O(log diameter) rounds, one job per round, loop shuffle width
    * sized to the graph); the size join hashes on the label both
    * frames carry. Oracle = the same recursive-CTE closure d6 uses,
    * over the basket pair graph. */
  def q73PartFamilies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q73_families", dir) { sc =>
      val edges = sc.keep(copurchaseEdges(s, dir))
      val labels = Dedup.connectedComponents(s, edges)
        .select($"doc_id".as("l_partkey"), $"group_id".as("family_id"))
      val sizes = labels.groupBy($"family_id")
        .agg(count(lit(1)).as("family_size"))
      labels.join(sizes, "family_id")
        .select($"l_partkey", $"family_id", $"family_size")
    }.orderBy($"l_partkey")
  }

  /** Peel rounds for q66 — fixed (not until-convergence) so the
    * operator is a pure function of the input and the DuckDB oracle
    * can replay it exactly; the spec separately proves the corpus
    * converges within this budget (round 8 == round 9). */
  val KcoreRounds = 8

  /** Q66: k-core decomposition (k = 3) of the threshold-2 co-purchase
    * graph by synchronous peeling — the standard dense-subgraph
    * extractor (Seidman 1983): repeatedly delete nodes of degree < k
    * until every survivor has ≥ k in-core neighbors. Output is the
    * surviving nodes with their in-core degree.
    *
    * Shape at scale: each round is ONE degree aggregation (map-side
    * partials on the node key) plus two semi-joins that both hash on
    * keys the edge list already carries — no fan-out anywhere, every
    * intermediate is ≤ the edge list, and the edge list only SHRINKS.
    * `localCheckpoint` flattens lineage per round exactly like d6's
    * pointer-jumping loop, so a billion-edge graph runs the same
    * constant-round plan wider. Synchronous peeling converges in
    * O(graph depth) rounds; the fixed `KcoreRounds` budget keeps the
    * operator engine-replayable (the oracle unrolls the same rounds),
    * and the spec pins convergence-within-budget on the corpus. */
  def q66Kcore(s: SparkSession, dir: String, k: Int = 3,
      rounds: Int = KcoreRounds): DataFrame = {
    import s.implicits._
    // LOCAL ENDGAME (round 15): below the shared 2²² gate the 8
    // synchronous peel rounds (each a degree aggregate + two
    // semi-joins + localCheckpoint) replay driver-side over the
    // collected pair list with the same integer counts
    // (GraphLocal.kcoreTable; OptR15Spec pins parity). The pair BUILD
    // stays distributed at every SF; beyond the gate the loop below
    // runs unchanged.
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.kcoreTable(s, half, k, rounds)
      case None =>
    }
    var e = copurchaseHalf(s, dir).select($"pa", $"pb").localCheckpoint(true)
    withLoopWidth(s, e.count()) {
    for (_ <- 1 to rounds) {
      val core = e.select($"pa".as("n")).unionAll(e.select($"pb".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k).select($"n")
      e = e.join(core.select($"n".as("pa")), Seq("pa"), "left_semi")
        .join(core.select($"n".as("pb")), Seq("pb"), "left_semi")
        .select($"pa", $"pb")
        .localCheckpoint(true)
    }
    }
    e.select($"pa".as("n")).unionAll(e.select($"pb".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg_core"))
      .select($"n".as("l_partkey"), $"deg_core")
      .orderBy($"l_partkey")
  }

  /** Q67: per-node local clustering coefficient over the threshold-2
    * co-purchase graph — lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the
    * node-level refinement of q54's global census (Watts & Strogatz
    * 1998). All integer counts plus one floor-quantized ratio, so
    * cross-engine exact.
    *
    * Shape at scale: triangles enumerate ONCE in oriented form (q54's
    * Σ C(deg⁺,2) wedge bound — never a cube), then each triangle
    * credits its three corners via one `explode(array(a,b,c))` — a
    * 3× narrow fan-out that aggregates immediately on the node key
    * with map-side partials. Degrees are the same node-keyed
    * aggregate; the final join hashes on the node key both frames
    * already carry. Output is node-cardinality-sized. */
  def q67ClusteringCoef(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = copurchaseHalf(s, dir).select($"pa", $"pb")
    val deg = e.select($"pa".as("n")).unionAll(e.select($"pb".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val tri = e.as("ab")
      .join(e.as("bc"), $"ab.pb" === $"bc.pa")
      .join(e.as("ac"),
        $"ac.pa" === $"ab.pa" && $"ac.pb" === $"bc.pb", "left_semi")
      .select($"ab.pa".as("a"), $"ab.pb".as("b"), $"bc.pb".as("c"))
    val triPerNode = tri
      .select(explode(array($"a", $"b", $"c")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("n"), "left")
      .select($"n".as("l_partkey"), $"deg",
        coalesce($"n_tri", lit(0L)).as("n_tri"),
        when($"deg" < 2, 0.0)
          .otherwise(floor(coalesce($"n_tri", lit(0L)) * 2 * 10000 /
            ($"deg" * ($"deg" - 1))) / 10000.0)
          .as("lcc"))
      .orderBy($"l_partkey")
  }

  /** k-budget for q76 — one past the worst measured degeneracy across
    * the SFs (sf0.001: K_max = 15 — its 200-part catalog makes the
    * co-purchase graph DENSE; sf0.01: 3; sf0.1: 2), so the level-16
    * peel provably empties the graph and the output is the TRUE
    * un-clamped core-number table; the spec pins the slack (output
    * invariant under kMax + 1). */
  val CoreKMax = 17

  /** Per-level round budget for q76 — q66's 8 is measured far too
    * short here: the graph-emptying cascade at sf0.001's level 16
    * needs 20 synchronous rounds (each peeled node drops a chain of
    * others below k, one hop per round). 21 covers it; the spec pins
    * the slack by asserting the output is invariant under
    * rounds + 1. */
  val CoreRounds = 21

  /** Q76: the FULL core-number table — each node's DEGENERACY ORDER
    * (the maximum k for which it survives the k-core), the q66
    * generalization that turns one dense-subgraph cut into the whole
    * nestedness profile (Seidman 1983; Matula & Beck 1983). Output is
    * (l_partkey, core_number) for every node of the threshold-2
    * co-purchase graph.
    *
    * Shape at scale: k-cores NEST ((k+1)-core ⊆ k-core), so the peel
    * is INCREMENTAL — level k+1 starts from level k's survivor edges,
    * never from the full graph; total work is one q66-shaped pass over
    * a monotonically shrinking edge set per level. Each round is one
    * node-keyed degree aggregate (map-side partials) plus two
    * semi-joins, `localCheckpoint` flattens lineage per round, and the
    * count() the convergence check rides on is the same tiny job the
    * d6 loop runs. Early exit is RESULT-IDENTICAL to the fixed unroll:
    * a round that removes no edge changes no degree, so every further
    * round at that level is the identity — which is also why the
    * fixed-budget DuckDB oracle (kMax × rounds unrolled MATERIALIZED
    * CTEs) replays the exact same answer. Core number = max k whose
    * final survivor set still carries the node. */
  def q76CoreNumbers(s: SparkSession, dir: String, kMax: Int = CoreKMax,
      rounds: Int = CoreRounds): DataFrame =
    if (kMax == CoreKMax && rounds == CoreRounds)
      graft.Caches.memo("q76_core", dir)(_ => q76Compute(s, dir, kMax, rounds))
    else q76Compute(s, dir, kMax, rounds)

  private def q76Compute(s: SparkSession, dir: String, kMax: Int,
      rounds: Int): DataFrame = {
    import s.implicits._
    // LOCAL ENDGAME (round 15): the nested kMax×rounds peel (the
    // costliest loop left after r14 — up to 17 levels × 21 rounds of
    // degree aggregate + two semi-joins + a count per round) replays
    // driver-side below the shared 2²² gate (GraphLocal.
    // coreNumbersUnderBudget; OptR15Spec pins parity). A CLAMPED local
    // peel returns None and falls through to the distributed path so
    // the h-index escalation below stays the single authority for
    // budget-exhausted graphs.
    val localOpt = GraphLocal.halfPairsUnderGate(s, dir)
      .flatMap(h => GraphLocal.coreNumbersUnderBudget(s, h, kMax, rounds))
    if (localOpt.isDefined) return localOpt.get
    val (table, clamped) = peelCoreNumbers(copurchaseHalf(s, dir), kMax, rounds)
    if (!clamped) table
    else {
      // The peel budget did NOT empty the graph: reporting the level
      // table would silently clamp every deeper node's core number at
      // kMax — budget constants that look like data. Escalate LOUDLY
      // to the budget-free h-index fixed point (q79's algorithm; the
      // spec pins the two equal wherever the peel is exact).
      System.err.println(s"[graft] q76_core_numbers: peel budget " +
        s"(kMax=$kMax, rounds=$rounds) did not empty the graph — " +
        "escalating to the h-index fixed point (q79 path) instead of " +
        "reporting clamped core numbers")
      hIndexCoreNumbers(copurchaseEdges(s, dir), HIndexRounds)
        .orderBy($"l_partkey")
    }
  }

  /** The budgeted nested peel over an undirected pair list `(pa, pb)`.
    * Returns the core-number table AND a `clamped` flag: true when the
    * budget could not certify exactness — the level-`kMax` peel left
    * survivors (their true core numbers may exceed `kMax`), or some
    * level's cascade did not converge within `rounds` (its survivor
    * set is then an overestimate of that k-core). Callers must not
    * present a clamped table as data (q76 escalates to the h-index
    * path). */
  private[graft] def peelCoreNumbers(pairs: DataFrame, kMax: Int,
      rounds: Int): (DataFrame, Boolean) = {
    val s = pairs.sparkSession
    import s.implicits._
    var e = pairs.select($"pa", $"pb").localCheckpoint(true)
    var cnt = e.count()
    var clamped = false
    var levels = List.empty[DataFrame]
    withLoopWidth(s, cnt) {
    for (k <- 1 to kMax) {
      var converged = false
      var r = 0
      while (r < rounds && cnt > 0 && !converged) {
        val core = e.select($"pa".as("n")).unionAll(e.select($"pb".as("n")))
          .groupBy($"n").agg(count(lit(1)).as("deg"))
          .filter($"deg" >= k).select($"n")
        val e2 = e.join(core.select($"n".as("pa")), Seq("pa"), "left_semi")
          .join(core.select($"n".as("pb")), Seq("pb"), "left_semi")
          .select($"pa", $"pb").localCheckpoint(true)
        val c2 = e2.count()
        converged = c2 == cnt
        e = e2; cnt = c2; r += 1
      }
      if (cnt > 0 && !converged) clamped = true
      levels = e.select($"pa".as("n")).unionAll(e.select($"pb".as("n")))
        .distinct().withColumn("k", lit(k)) :: levels
    }
    }
    if (cnt > 0) clamped = true
    val table = levels.reduce(_ unionAll _)
      .groupBy($"n").agg(max($"k").cast("int").as("core_number"))
      .select($"n".as("l_partkey"), $"core_number")
      .orderBy($"l_partkey")
    (table, clamped)
  }

  /** The q76 oracle: the q66 MATERIALIZED-CTE discipline chained over
    * every k-level — e_k_0 is the previous level's final survivor set
    * (k-cores nest, exactly like the Spark loop), each level unrolls
    * `rounds` peel steps, and the final select takes max(k) over the
    * per-level survivor membership. The degree filter is INLINED into
    * each peel CTE (one CTE per round, not two): the 17 × 21 unroll
    * would otherwise blow DuckDB's max_expression_depth of 1000
    * (measured — the binder counts chained CTEs), and the driver
    * can't raise engine settings. Every CTE materialized so DuckDB
    * runs the same O(kMax · rounds) passes the Spark loop bounds;
    * measured ~6 s at each SF. */
  private[graft] def coreNumbersOracleSql(kMax: Int = CoreKMax,
      rounds: Int = CoreRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e_1_0 AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)"""
    val steps = (1 to kMax).flatMap { k =>
      val lvl = (1 to rounds).map { r =>
        s""",
         e_${k}_$r AS MATERIALIZED (
           SELECT pa, pb FROM e_${k}_${r - 1}
           WHERE pa IN (SELECT n FROM
               (SELECT pa AS n FROM e_${k}_${r - 1} UNION ALL SELECT pb FROM e_${k}_${r - 1})
               GROUP BY 1 HAVING count(*) >= $k)
             AND pb IN (SELECT n FROM
               (SELECT pa AS n FROM e_${k}_${r - 1} UNION ALL SELECT pb FROM e_${k}_${r - 1})
               GROUP BY 1 HAVING count(*) >= $k))"""
      }
      val chain = if (k < kMax)
        s""",
         e_${k + 1}_0 AS MATERIALIZED (SELECT pa, pb FROM e_${k}_$rounds)"""
      else ""
      lvl :+ chain
    }.mkString
    val membership = (1 to kMax).map { k =>
      s"""SELECT n, $k AS k FROM
           (SELECT pa AS n FROM e_${k}_$rounds UNION ALL SELECT pb FROM e_${k}_$rounds)
           GROUP BY 1"""
    }.mkString("\n           UNION ALL ")
    base + steps + s"""
         SELECT n AS l_partkey, CAST(max(k) AS INTEGER) AS core_number FROM (
           $membership
         ) GROUP BY 1 ORDER BY l_partkey"""
  }

  /** Rounds budget for q79 — convergence is STRUCTURE-dependent, not
    * just size-dependent (measured: 21 rounds at sf0.001, 10 at
    * sf0.01, 5 at sf0.1 — but 38 on the dense 20× probe graph, where
    * a near-clique community grinds its estimates down one collective
    * decrement at a time; the first 24-round budget left 16k nodes
    * one above truth there). 48 is 1.26× the worst measured; the
    * early exit keeps the real cost at actual convergence, and the
    * monotone iteration makes ANY budget a sound pointwise UPPER
    * bound on every core number (estimates only decrease toward the
    * fixed point). Spec pins the slack (invariant under rounds + 1,
    * and == q76). */
  val HIndexRounds = 48

  /** Q79: the full core-number table by H-INDEX ITERATION (Montresor,
    * De Pellegrini & Miorandi, "Distributed k-core decomposition",
    * IEEE TPDS 2013; Lü et al. 2016) — q76's 100 TB twin. Start every
    * node at its degree; each round replace c(v) with
    * min(c(v), H({c(u) : u ∼ v})), the h-index of its neighbors'
    * estimates; the fixed point IS the core number table (spec: equals
    * q76 exactly). Why this is the scale shape and the peel is not:
    * q76 scans k = 1..kMax SEQUENTIALLY, each level its own cascade
    * (~170 driver-synchronized rounds on the dense 20× probe graph,
    * 85.8 s measured) and any fixed kMax CLAMPS when the graph's
    * degeneracy outgrows it; the h-index iteration computes EVERY
    * node's core number in ONE loop with no k budget at all — the
    * measured 21/10/5 rounds at sf0.001/0.01/0.1 (denser ⟹ fewer),
    * each round one edge-keyed join + one node-keyed aggregate.
    *
    * Per-round H is HUB-SAFE — the histogram / conditional-count
    * formulation, NOT a per-node sorted list: H({c(u)}) = max k with
    * |{u : c(u) ≥ k}| ≥ k. Count neighbors per (src, estimate) value
    * — O(1)-width rows with map-side partials — then one running sum
    * over the estimates in descending order gives m(t) = #neighbors
    * with estimate ≥ t, and H = max_t min(t, m(t)) (m is a step
    * function, so the max over the distinct-t grid equals the max
    * over all k). A 10⁶-degree power-law hub is ≤10⁶ NARROW rows
    * through a sort-spillable window partition, never a degree-sized
    * array in one aggregation buffer (the q30-class trap the sorted-
    * list formulation carried). One more key-carried exchange than
    * the list version, same fixed point.
    * Early exit is result-identical to the fixed unroll: estimates
    * only DECREASE, so an unchanged Σc means an unchanged table and
    * every further round is the identity — which is also why the
    * fixed-round DuckDB oracle (one CTE per round, list_filter with a
    * 1-based index lambda vs Spark's 0-based — the oracle keeps the
    * list form; the histogram computes the identical H) replays it
    * exactly. */
  def q79CoreHindex(s: SparkSession, dir: String,
      rounds: Int = HIndexRounds): DataFrame = {
    import s.implicits._
    // local endgame under the gate (see q53) — same h-index rounds,
    // same early exit (unchanged sum of estimates)
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.coreHindexTable(s, half, rounds)
      case None =>
    }
    hIndexCoreNumbers(copurchaseEdges(s, dir), rounds).orderBy($"l_partkey")
  }

  /** The h-index core-number fixed point over a SYMMETRIC edge list
    * `(src, dst)` — q79's engine, also the escalation target when
    * q76's peel budget clamps. Returns (l_partkey, core_number),
    * unordered (callers sort). */
  private[graft] def hIndexCoreNumbers(edges0: DataFrame,
      rounds: Int): DataFrame = graft.Caches.scoped { sc =>
    val s = edges0.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val edges = sc.keep(edges0)
    var c = edges.groupBy($"src").agg(count(lit(1)).as("c"))
      .select($"src".as("node"), $"c")
      .localCheckpoint(true)
    var tot = c.agg(sum($"c")).as[Long].head()
    var converged = false
    var r = 0
    val byTDesc = Window.partitionBy($"src").orderBy($"t".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withLoopWidth(s, edges.count()) {
    while (r < rounds && !converged) {
      // histogram of neighbor estimates per node: (src, t) -> m rows,
      // O(1) width, map-side partial agg
      val hist = edges.join(c.select($"node".as("dst"), $"c".as("t")), "dst")
        .groupBy($"src", $"t").agg(count(lit(1)).as("m"))
      // m(t) = running count of neighbors with estimate >= t (desc
      // scan); H = max_t min(t, m(t))
      val h = hist.withColumn("cum", sum($"m").over(byTDesc))
        .groupBy($"src").agg(max(least($"t", $"cum")).as("h"))
      c = c.join(h, $"node" === $"src")
        .select($"node", least($"c", $"h").as("c"))
        .localCheckpoint(true)
      val t2 = c.agg(sum($"c")).as[Long].head()
      converged = t2 == tot
      tot = t2; r += 1
    }
    }
    c.select($"node".as("l_partkey"), $"c".cast("int").as("core_number"))
  }

  /** Q79 oracle: the h-index iteration unrolled, one MATERIALIZED CTE
    * per round (~28 CTEs total vs q76's 374 — the algorithm change
    * shrinks the oracle too). DuckDB's `(x, i) ->` list lambda is
    * 1-based where Spark's `filter` index is 0-based; both count the
    * prefix of the desc-sorted neighbor estimates with value ≥ rank. */
  private[graft] def coreHindexOracleSql(rounds: Int = HIndexRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         c0 AS MATERIALIZED (SELECT src AS node, count(*) AS c FROM e GROUP BY 1)"""
    val steps = (1 to rounds).map { i =>
      s""",
         c$i AS MATERIALIZED (
           SELECT c.node, LEAST(c.c, h.h) AS c
           FROM c${i - 1} c JOIN (
             SELECT e.src AS node,
               len(list_filter(list_sort(list(p.c), 'DESC'), (x, i) -> x >= i)) AS h
             FROM e JOIN c${i - 1} p ON e.dst = p.node
             GROUP BY e.src) h USING (node))"""
    }.mkString
    base + steps + s"""
         SELECT node AS l_partkey, CAST(c AS INTEGER) AS core_number
         FROM c$rounds ORDER BY l_partkey"""
  }

  /** Q80: WEIGHTED damped PageRank — q53 with the edge weights the
    * co-purchase graph already carries (w = n_orders: how many baskets
    * joined the pair), so rank flows in proportion to tie strength
    * instead of treating a 100-basket pairing like a 2-basket one
    * (`pagerank`; weights ride the edge rows they already live on). */
  def q80WeightedPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // local endgame under the gate (see q53) — weighted flows,
    // Math.multiplyExact mirrors the ANSI overflow loudness
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.weightedPagerankTop(s, half, Iters)
      case None =>
    }
    pagerank(copurchaseEdges(s, dir).withColumn("w", $"n_orders"), Iters, None)
      .select($"node".as("l_partkey"), $"rank".as("wpr_rank"))
      .orderBy($"wpr_rank".desc, $"l_partkey")
      .limit(50)
  }

  /** Q80 oracle: q53's unrolled iterations with weighted flows. */
  private[graft] def weightedPagerankOracleSql(iters: Int = Iters): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst, w FROM prs
               UNION ALL SELECT pb, pa, w FROM prs),
         d AS (SELECT src, sum(w) AS wd FROM e GROUP BY 1),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM d)"""
    val its = (1 to iters).map { i =>
      s""",
         it$i AS (SELECT e.dst AS node, sum((r${i - 1}.rank * e.w) // d.wd) AS c
                 FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN d ON e.src = d.src
                 GROUP BY 1),
         r$i AS (SELECT r${i - 1}.node,
                  CAST(150000 + (85 * COALESCE(it$i.c, 0)) // 100 AS BIGINT) AS rank
                FROM r${i - 1} LEFT JOIN it$i USING (node))"""
    }.mkString
    base + its + s"""
         SELECT node AS l_partkey, rank AS wpr_rank FROM r$iters
         ORDER BY wpr_rank DESC, l_partkey LIMIT 50"""
  }

  /** Rounds for q81 — a FIXED-round synchronous schedule is the
    * semantic, not a convergence budget: synchronous LPA provably
    * 2-cycles on bipartite-ish structure (measured here: sf0.01/sf0.1
    * are NOT stable under +1 round), which is exactly why Raghavan et
    * al. recommend the async schedule — but async is update-order-
    * dependent and cross-engine unverifiable, so the bounded
    * synchronous form is the deterministic cut every engine can agree
    * on (6 rounds ≈ the label-mixing horizon of a diameter-≤4 graph). */
  val LpaRounds = 6

  /** Q81: label-propagation COMMUNITIES (Raghavan, Albert & Kumara
    * 2007) over the threshold-2 co-purchase graph — the merchandising
    * clustering between d6/q73's pure connectivity (components) and
    * q66/q76's density cores: each node adopts its neighborhood's
    * most frequent label, seeded with own id; ties break to the MIN
    * label so every round is a pure function of the input.
    *
    * Shape at scale: one round = one edge-keyed join (votes ride the
    * edge rows) + a (node, label)-keyed count + an AGGREGATE-ONLY
    * argmax — max(struct(cnt, −lbl)) picks highest-count-then-lowest-
    * label without any window sort (the q23 agg-not-window
    * discipline); `localCheckpoint` per round like every loop in the
    * module. Label skew is bounded by node degree (votes per node =
    * degree), the same bound the degree aggregate already carries. */
  def q81LabelProp(s: SparkSession, dir: String,
      rounds: Int = LpaRounds): DataFrame = {
    import s.implicits._
    // local endgame under the gate (see q53) — same synchronous
    // schedule, same (cnt desc, label asc) argmax
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.labelPropTable(s, half, rounds)
      case None =>
    }
    val labels = graft.Caches.scoped { sc =>
      val edges = sc.keep(copurchaseEdges(s, dir))
      var lbls = edges.select($"src".as("node")).distinct()
        .select($"node", $"node".as("lbl"))
        .localCheckpoint(true)
      withLoopWidth(s, edges.count()) {
      for (_ <- 1 to rounds) {
        val votes = edges
          .join(lbls.select($"node".as("dst"), $"lbl"), "dst")
          .groupBy($"src", $"lbl").agg(count(lit(1)).as("cnt"))
        lbls = votes.groupBy($"src")
          .agg(max(struct($"cnt", (-$"lbl").as("nl"))).as("m"))
          .select($"src".as("node"), (-$"m.nl").as("lbl"))
          .localCheckpoint(true)
      }
      }
      lbls
    }
    val sizes = labels.groupBy($"lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select($"node".as("l_partkey"), $"lbl".as("community"),
        $"community_size")
      .orderBy($"l_partkey")
  }

  /** Q81 oracle: the synchronous rounds unrolled, argmax as a
    * deterministic row_number window (count desc, label asc). */
  private[graft] def labelPropOracleSql(rounds: Int = LpaRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)"""
    val steps = (1 to rounds).map { i =>
      s""",
         v$i AS MATERIALIZED (
           SELECT e.src AS node, p.lbl, count(*) AS cnt
           FROM e JOIN l${i - 1} p ON e.dst = p.node
           GROUP BY 1, 2),
         l$i AS MATERIALIZED (
           SELECT node, lbl FROM (
             SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
             FROM v$i) WHERE rn = 1)"""
    }.mkString
    base + steps + s"""
         SELECT l.node AS l_partkey, l.lbl AS community, c.community_size
         FROM l$rounds l JOIN (
           SELECT lbl, count(*) AS community_size FROM l$rounds GROUP BY 1) c
           USING (lbl)
         ORDER BY l_partkey"""
  }

  /** Q77: PERSONALIZED PageRank from the ego seed — the "related to
    * THIS product" ranking: `pagerank` with w = 1 and the restart mass
    * pinned to the seed. Nodes the walk hasn't reached stay at rank 0
    * and are filtered; output is the top-50 rank-desc with node
    * tie-break, and no rows when the graph is empty. */
  def q77Ppr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // local endgame under the gate (see q53); the seed replays the
    // same (deg desc, key asc) argmax locally
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.pprTop(s, half, Iters)
      case None =>
    }
    val edges = copurchaseEdges(s, dir).withColumn("w", lit(1L))
    egoSeed(edges) match {
      case None => Seq.empty[(Long, Long)].toDF("l_partkey", "ppr_rank")
      case seed => pagerank(edges, Iters, seed).filter($"rank" > 0L)
        .select($"node".as("l_partkey"), $"rank".as("ppr_rank"))
        .orderBy($"ppr_rank".desc, $"l_partkey")
        .limit(50)
    }
  }

  /** Radius for q78 — a bounded-radius reach query BY DESIGN (the
    * "within N hops of this product" merchandising cut), not a
    * full-graph shortest path: the radius is part of the semantics and
    * the oracle replays the same radius. */
  val ReachRadius = 4

  /** The distributed frontier BFS of the family — q78 (one seed),
    * q82 (its pivots) and q88 (two single-seed sweeps) — over a
    * symmetric edge list (src, dst) and a one-column `seed` frame: one
    * multi-source loop whose rows carry their seed id. Returns (seed,
    * node, hops) for every node within `rounds` hops of each seed,
    * seeds themselves at 0. BFS layers are set-valued (no tie-break
    * nondeterminism — hops is MIN over paths, and the frontier dedups
    * on the (seed, node) key).
    *
    * Shape at scale: FRONTIER-based expansion — each round joins only
    * the newly-reached rows against the edge list (never the whole
    * settled set) and anti-joins out already-settled (seed, node)
    * pairs, so each edge is traversed at most once per endpoint per
    * seed: total work is O(Σ edges in each seed's ball), not
    * O(rounds · edges), with every join hashed on the node key. Loop
    * state goes through `checkpointFresh`: the anti-join reads two
    * descendants of the same checkpointed state, so bare
    * localCheckpoint would compound inherited stats per round (§6.14).
    * The loop exits once every seed's frontier is empty — result-
    * identical, since the remaining rounds add nothing. */
  private[graft] def bfsHops(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var dist = seeds.select($"seed", $"seed".as("node"), lit(0).as("hops"))
      .checkpointFresh
    var frontier = dist
    var cnt = 1L
    var h = 0
    withLoopWidth(s, edges.count()) {
    while (h < rounds && cnt > 0) {
      val nxt = frontier.join(edges, $"node" === $"src")
        .select($"seed", $"dst".as("node")).distinct()
        .join(dist.select($"seed", $"node"), Seq("seed", "node"), "left_anti")
        .select($"seed", $"node", lit(h + 1).as("hops"))
        .checkpointFresh
      dist = dist.unionAll(nxt).checkpointFresh
      frontier = nxt
      cnt = nxt.count()
      h += 1
    }
    }
    dist
  }

  /** Q78: BFS hop distances within `ReachRadius` of the ego seed — the
    * ego-network reach table (which products are 1, 2, 3, 4
    * basket-hops away), `bfsHops` from one seed. Output (l_partkey,
    * hops), seed included at 0; no rows when the graph is empty. */
  def q78SeedReach(s: SparkSession, dir: String,
      radius: Int = ReachRadius): DataFrame = {
    import s.implicits._
    // local endgame under the gate (see q53) — BFS layers are
    // set-valued, so the replay is trivially order-independent
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.seedReachTable(s, half, radius)
      case None =>
    }
    val dist = graft.Caches.scoped { sc =>
      val edges = sc.keep(copurchaseEdges(s, dir))
      bfsHops(edges, topByDegree(edges, 1), radius)
    }
    dist.select($"node".as("l_partkey"), $"hops")
      .orderBy($"l_partkey")
  }

  /** Seed count for q82 — 8 pivots is the classic sampled-centrality
    * trade (Eppstein & Wang 2004: error ~ O(1/√S) per node); the
    * top-degree deterministic pivot set doubles as the hub view a
    * merchandiser reads first. */
  val HarmonicSeeds = 8

  /** Q82: HARMONIC centrality estimated from `HarmonicSeeds` pivots
    * (Boldi & Vigna 2014's harmonic variant of closeness — robust to
    * disconnection, which this graph has plenty of at sf0.1) — for
    * every node, Σ over pivots within `ReachRadius` hops of
    * Scale div d(pivot, v), in exact integer fixed-point, plus the
    * count of pivots reaching it. Pivots = the top-S-degree nodes
    * (min-key tie-break), deterministic in both engines.
    *
    * Shape at scale: ONE multi-source `bfsHops` loop serves all
    * pivots, total fan-out per round ≤ S × the single-source bound.
    * Radius-bounded by design (the q78 contract): contributions beyond
    * R hops are ≤ Scale/R and truncation is part of the estimator
    * every engine replays. */
  def q82Harmonic(s: SparkSession, dir: String,
      nSeeds: Int = HarmonicSeeds, radius: Int = ReachRadius): DataFrame = {
    import s.implicits._
    // local endgame under the gate (see q53) — per-pivot BFS + the
    // Scale div hops sum, zero-filled over every node
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) => return GraphLocal.harmonicTable(s, half, nSeeds, radius)
      case None =>
    }
    // cached for the BFS only: the zero-fill below reads them uncached
    val edges = copurchaseEdges(s, dir)
    val dist = graft.Caches.scoped { sc =>
      sc.keep(edges)
      bfsHops(edges, topByDegree(edges, nSeeds), radius)
    }
    val contrib = dist.filter($"hops" > 0)
      .groupBy($"node")
      .agg(count(lit(1)).cast("long").as("n_seeds"),
        sum(expr(s"$Scale div hops")).as("harmonic_1e6"))
    edges.select($"src".as("node")).distinct()
      .join(contrib, Seq("node"), "left")
      .select($"node".as("l_partkey"),
        coalesce($"n_seeds", lit(0L)).as("n_seeds"),
        coalesce($"harmonic_1e6", lit(0L)).as("harmonic_1e6"))
      .orderBy($"l_partkey")
  }

  /** Q82 oracle: the multi-source BFS unrolled — layer CTEs carry the
    * (seed, node) pair key, settlement is a per-pair NOT EXISTS. */
  private[graft] def harmonicOracleSql(nSeeds: Int = HarmonicSeeds,
      radius: Int = ReachRadius): String = {
    val base = s"""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         f0 AS (SELECT src AS seed, src AS node, 0 AS hops FROM dg
                ORDER BY deg DESC, src LIMIT $nSeeds),
         d0 AS (SELECT seed, node, hops FROM f0)"""
    val steps = (1 to radius).map { h =>
      s""",
         f$h AS MATERIALIZED (SELECT DISTINCT f.seed, e.dst AS node, $h AS hops
                FROM e JOIN f${h - 1} f ON e.src = f.node
                WHERE NOT EXISTS (SELECT 1 FROM d${h - 1} d
                  WHERE d.seed = f.seed AND d.node = e.dst)),
         d$h AS MATERIALIZED (SELECT seed, node, hops FROM d${h - 1}
                 UNION ALL SELECT seed, node, hops FROM f$h)"""
    }.mkString
    base + steps + s"""
         SELECT dg.src AS l_partkey,
           CAST(COALESCE(c.n_seeds, 0) AS BIGINT) AS n_seeds,
           CAST(COALESCE(c.harmonic_1e6, 0) AS BIGINT) AS harmonic_1e6
         FROM dg LEFT JOIN (
           SELECT node, CAST(count(*) AS BIGINT) AS n_seeds,
             CAST(sum($Scale // hops) AS BIGINT) AS harmonic_1e6
           FROM d$radius WHERE hops > 0 GROUP BY 1) c ON dg.src = c.node
         ORDER BY l_partkey"""
  }

  /** Q77 oracle: q53's unrolled-iteration CTE discipline with the
    * restart mass pinned to the seed scalar subquery (max-degree,
    * min-key — deterministic in both engines). */
  private[graft] def pprOracleSql(iters: Int = Iters): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         sd AS (SELECT src AS seed FROM d ORDER BY deg DESC, src LIMIT 1),
         r0 AS (SELECT src AS node,
                  CAST(CASE WHEN src = (SELECT seed FROM sd)
                       THEN 1000000 ELSE 0 END AS BIGINT) AS rank
                FROM d)"""
    val its = (1 to iters).map { i =>
      s""",
         it$i AS (SELECT e.dst AS node, sum(r${i - 1}.rank // d.deg) AS c
                 FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN d ON e.src = d.src
                 GROUP BY 1),
         r$i AS (SELECT r${i - 1}.node,
                  CAST(CASE WHEN r${i - 1}.node = (SELECT seed FROM sd)
                       THEN 150000 ELSE 0 END
                    + (85 * COALESCE(it$i.c, 0)) // 100 AS BIGINT) AS rank
                FROM r${i - 1} LEFT JOIN it$i USING (node))"""
    }.mkString
    base + its + s"""
         SELECT node AS l_partkey, rank AS ppr_rank FROM r$iters
         WHERE rank > 0
         ORDER BY ppr_rank DESC, l_partkey LIMIT 50"""
  }

  /** Q78 oracle: the BFS layers unrolled — f_h = neighbors of f_{h-1}
    * not yet settled, d accumulates (node, hops). */
  private[graft] def seedReachOracleSql(radius: Int = ReachRadius): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         f0 AS (SELECT src AS node, 0 AS hops FROM d
                ORDER BY deg DESC, src LIMIT 1),
         d0 AS (SELECT node, hops FROM f0)"""
    val steps = (1 to radius).map { h =>
      s""",
         f$h AS (SELECT DISTINCT e.dst AS node, $h AS hops
                FROM e JOIN f${h - 1} ON e.src = f${h - 1}.node
                WHERE e.dst NOT IN (SELECT node FROM d${h - 1})),
         d$h AS (SELECT node, hops FROM d${h - 1}
                 UNION ALL SELECT node, hops FROM f$h)"""
    }.mkString
    base + steps + s"""
         SELECT node AS l_partkey, hops FROM d$radius ORDER BY l_partkey"""
  }

  /** The unrolled k-core oracle: `rounds` peel rounds as chained CTEs
    * (e0 → d0 → e1 → …), the exact SQL replay of q66Kcore — DuckDB's
    * recursive CTE can't express iterate-with-replacement over a
    * shrinking working set, but a fixed round budget unrolls. The
    * CTEs are `AS MATERIALIZED`: each eᵢ references eᵢ₋₁ five times
    * (the FROM plus two doubly-nested IN subqueries), so DuckDB's
    * default CTE INLINING re-expands the whole chain ~5^rounds times
    * — the first run died on "Too many open files" from thousands of
    * inlined lineitem scans. Materialization makes the oracle run the
    * same O(rounds) passes the Spark loop does. */
  private[graft] def kcoreOracleSql(k: Int = 3,
      rounds: Int = KcoreRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)"""
    val steps = (1 to rounds).map { i =>
      s""",
         d${i - 1} AS MATERIALIZED (SELECT n FROM
           (SELECT pa AS n FROM e${i - 1} UNION ALL SELECT pb FROM e${i - 1})
           GROUP BY 1 HAVING count(*) >= $k),
         e$i AS MATERIALIZED (SELECT pa, pb FROM e${i - 1}
           WHERE pa IN (SELECT n FROM d${i - 1})
             AND pb IN (SELECT n FROM d${i - 1}))"""
    }.mkString
    base + steps + s"""
         SELECT n AS l_partkey, count(*) AS deg_core FROM
           (SELECT pa AS n FROM e$rounds UNION ALL SELECT pb FROM e$rounds)
         GROUP BY 1 ORDER BY l_partkey"""
  }

  /** Coloring-round budget for q84's trial-coloring pre-pass. The
    * round-11 schedule change: windowed random TRIAL coloring
    * (Johansson 1999's O(log n) randomized Δ+1-coloring shape) drains
    * a CONSTANT FRACTION of uncolored nodes per round regardless of
    * density, where the previous Luby-MIS greedy schedule drained
    * ~n/(deg+1) per round and paid 134 rounds × ~4 s of per-round job
    * scheduling on the 20× densified probe (the round-10 verdict's
    * one perf-weak entry). Exact local replays (tools in §6.15):
    * Luby 29/9/4 rounds at sf0.001/0.01/0.1 and 134 at 20× → trial
    * 6/4/3 and 14 at W=4, 4/3/3 and 10 at the round-12 W=8. Budget 8
    * covers every oracle-reachable SF with
    * 2× slack; the loop early-exits when every node is colored;
    * extra oracle rounds are the identity (no uncolored nodes ⟹
    * nothing picked, nothing newly colored). */
  val SemiColoringRounds = 8

  /** Trial-pick window: each uncolored node picks deterministically
    * pseudo-randomly among the W SMALLEST free palette colors (free =
    * [1..deg+1] minus colored-neighbor colors). W trades colors for
    * rounds: W=1 is greedy mex (minimum colors, Luby-slow on dense
    * graphs — every same-palette neighbor pair collides), W=deg+1 is
    * classic trial coloring (fastest drain, ~Δ colors). Extra colors
    * used to cost a whole sweep step per LPA round downstream, which
    * is why round 11 shipped W=4 (6/4/3 rounds, 19/9/5 colors at
    * sf0.001/0.01/0.1; 14 rounds / 48 colors at 20×) — but the
    * round-12 pending-class skip makes stabilized classes nearly
    * free, flipping the trade (§8e.1b): W=8 measures 4/3/3 rounds
    * and 22/11/5 colors at the SFs, 10 rounds / 61 colors at 20×,
    * and the 20× full entry drops 125.9 → 113.0 s same-box (sweeps
    * 39.5 → 21.5 s — more, smaller classes skip better), with sf0.1
    * inside noise (11.9 vs 11.7 s — the small graph never opens the
    * window). Colors stay inside the SemiColors=24 oracle budget. */
  val SemiPickWindow = 8

  /** Color-class budget for q84's oracle unroll — windowed trial
    * coloring uses ≤ shell-used+W colors per node; measured max is
    * 22 (sf0.001), 11 (sf0.01), 5 (sf0.1) at W=8 (19/9/5 at the
    * round-11 W=4); 24 covers. Spark iterates the ACTUAL color
    * count; oracle subrounds for empty classes are the identity. The
    * spec pins actual ≤ budget at the test SFs. */
  val SemiColors = 24

  /** Full-round budget for q84's per-color LPA sweeps — measured
    * stable (a full round changes nothing) after 4 rounds at
    * sf0.001/sf0.01 and 2 at sf0.1; 6 gives slack, early exit on the
    * first unchanged round is result-identical (stability is
    * absorbing: the potential argument below). */
  val SemiLpaRounds = 6

  /** Coloring-priority modulus (Mersenne prime 2³¹−1) and the
    * per-round multiplier schedule. PRIORITIES RE-RANDOMIZE EVERY
    * ROUND (Luby 1986's MIS schedule, not fixed-priority
    * Jones–Plassmann): round r uses prio_r(v) = (v · a_r) mod M with
    * a_r = (A0 + r·STEP) mod M — multiplications by varying constants
    * mod a prime are a pairwise-independent permutation family, so
    * each round breaks last round's blocking chains and the expected
    * schedule is O(ω + log n) rounds instead of fixed-priority JP's
    * longest-decreasing-path bound (measured rounds 39/13/5 →
    * 29/9/4 at sf0.001/0.01/0.1 — the dense sf0.001 graph's clique
    * number floors any MIS schedule; the 20× densified probe is
    * where the gap opens, 374 JP rounds → see §6.15). Pure integer
    * algebra both engines replay exactly (ids ≤ ~10⁶ keep the
    * product far inside int64). */
  private[graft] val SemiPrioM = 2147483647L
  private[graft] val SemiPrioA0 = 2654435761L
  private[graft] val SemiPrioStep = 2246822519L

  /** Round-r priority multiplier — nonzero mod M by construction
    * (guarded loudly: a zero multiplier would tie every priority). */
  private[graft] def semiPrioA(r: Int): Long = {
    val a = (SemiPrioA0 + r.toLong * SemiPrioStep) % SemiPrioM
    require(a != 0L, s"q84 coloring multiplier degenerate at round $r")
    a
  }

  /** Q84: SEMI-SYNCHRONOUS label propagation — q81's communities with
    * a CONVERGENCE GUARANTEE (Cordasco & Gargano, "Community detection
    * via semi-synchronous label propagation algorithms", IEEE BASNA
    * 2010). q81's synchronous schedule provably 2-cycles on
    * bipartite-ish structure (measured: not stable under +1 round at
    * either SF); this entry fixes it with the literature's schedule:
    *
    *  1. COLORING PRE-PASS: a proper coloring by windowed random
    *     TRIAL coloring (Johansson 1999's randomized Δ+1-coloring,
    *     windowed to stay color-frugal) — each round, every uncolored
    *     node picks deterministically pseudo-randomly among the
    *     `SemiPickWindow` smallest colors its colored neighbors don't
    *     use, and KEEPS the pick unless a same-pick uncolored
    *     neighbor outranks it on (prio_r, id); priorities and picks
    *     re-randomize each round (`semiPrioA`'s deterministic
    *     pairwise-independent multipliers). A constant fraction of
    *     nodes succeeds per round INDEPENDENT OF DENSITY — the
    *     lineage Luby-MIS greedy (round ≤ 10) and fixed-priority
    *     Jones–Plassmann (rounds ≤ 8) both drain dense graphs a
    *     priority-peak at a time: measured rounds on the 20×
    *     densified probe 374 (JP) → 134 (Luby) → 14 (trial W=4) →
    *     10 (W=8, the round-12 window — affordable once the
    *     pending-class skip made extra color classes nearly free),
    *     and 29/9/4 → 6/4/3 → 4/3/3 at sf0.001/0.01/0.1 (§6.15,
    *     §8e.1b). Progress is
    *     GUARANTEED (the globally max-(prio, id) uncolored node keeps
    *     its pick unconditionally), and kept picks are proper by
    *     construction: picks exclude colored-neighbor colors, and of
    *     two adjacent same-round same-pick nodes only the higher
    *     (prio, id) keeps.
    *  2. PER-COLOR SWEEPS: each LPA round updates one color class at
    *     a time. Classes are independent sets, so the simultaneous
    *     within-class update equals a sequential schedule — and
    *     sequential LPA with the KEEP-CURRENT-IF-ARGMAX rule strictly
    *     increases the monochromatic-edge count on every label
    *     switch, so the process terminates at a genuinely stable
    *     labeling (≤ |E| switches total): the exact property q81
    *     measurably lacks, pinned by the rounds+1 spec.
    *
    * Ties break to the MIN label so every subround is a pure function
    * of its input — the whole schedule is replayable algebra and the
    * DuckDB oracle unrolls it CTE-for-subround.
    *
    * Shape at scale: the coloring is 2 node-keyed aggregates per
    * round (colored-neighbor color sets, bounded by degree; the
    * same-pick conflict max over uncolored neighbors); each sweep is
    * one edge-keyed join + one (node, label) count + one agg-only
    * argmax restricted to the active class (classes hold ~n/colors
    * nodes — bulk parallelism survives the schedule; colors ≤ Δ+1
    * and measured 5–19, 48 at 20×). Rounds × colors
    * driver-synchronized steps vs q81's plain rounds is the price of
    * guaranteed convergence — and the trial schedule keeps ROUNDS
    * near the O(log n) floor where job-scheduling latency, not data,
    * is the per-round cost. */
  def q84LpaSemisync(s: SparkSession, dir: String,
      coloringRounds: Int = SemiColoringRounds,
      rounds: Int = SemiLpaRounds): DataFrame =
    if (coloringRounds == SemiColoringRounds && rounds == SemiLpaRounds)
      graft.Caches.memo("q84_semi", dir)(_ =>
        q84Summarize(s, semiLabeled(s, dir).select(col("node"), col("lbl"))))
    else q84Compute(s, dir, coloringRounds, rounds)

  /** The memoized proper-coloring artifact — ONE trial-coloring run
    * per dataset schedules BOTH q84's LPA sweeps and q101's Louvain
    * move passes (the d2/d7 artifact pattern: the expensive loop runs
    * once, every downstream schedule reads it). */
  private[graft] def semiColoredMemo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q84_coloring", dir) { sc =>
      // LOCAL ENDGAME (round 14 — the q102 discipline moved to the
      // BASE labeling chain): the thresholded co-purchase graph is
      // metadata-scale at every test SF, and the distributed trial
      // coloring alone billed ~70 driver-synchronized jobs against it.
      // Under the gate the coloring replays driver-side
      // (LouvainLocal.coloring — spec-pinned == trialColoring on
      // constructed + seeded + real graphs); beyond it the
      // distributed schedule runs unchanged.
      val halfOpt = GraphLocal.halfPairsUnderGate(s, dir)
      if (halfOpt.isDefined) {
        val ce = GraphLocal.symmetrize(halfOpt.get).map(t => (t._1, t._2))
        LouvainLocal.coloring(ce).toSeq.toDF("node", "color")
      } else {
        trialColoring(sc.keep(copurchaseEdges(s, dir)), SemiColoringRounds)._1
      }
    }
  }

  /** The memoized (node, color, lbl) labeling artifact — built over
    * the shared coloring; serves q84 (labels) and q100 (score). */
  private[graft] def semiLabeled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q84_semi_labeled", dir) { sc =>
      // local endgame under the gate (see semiColoredMemo): the LPA
      // sweeps replay over the SHARED coloring artifact — one
      // collect of the memoized (node, color) frame, then
      // LouvainLocal.lpaSweeps (parity spec'd vs semiSweeps)
      val halfOpt = GraphLocal.halfPairsUnderGate(s, dir)
      if (halfOpt.isDefined) {
        val ce = GraphLocal.symmetrize(halfOpt.get).map(t => (t._1, t._2))
        val colMap = semiColoredMemo(s, dir)
          .as[(Long, Int)].collect().toMap
        checkColorBudget("q84",
          if (colMap.isEmpty) 0 else colMap.valuesIterator.max, SemiColors)
        val lbl = LouvainLocal.lpaSweeps(ce, colMap, SemiLpaRounds)
        colMap.keysIterator.toSeq.sorted
          .map(n => (n, colMap(n), lbl(n)))
          .toDF("node", "color", "lbl")
      } else {
        val edges = sc.keep(copurchaseEdges(s, dir))
        semiSweeps(edges, semiColoredMemo(s, dir), SemiColors)
      }
    }
  }

  private def q84Summarize(s: SparkSession, colored: DataFrame): DataFrame = {
    import s.implicits._
    val sizes = colored.groupBy($"lbl").agg(count(lit(1)).as("community_size"))
    colored.join(sizes, "lbl")
      .select($"node".as("l_partkey"), $"lbl".as("community"),
        $"community_size")
      .orderBy($"l_partkey")
  }

  private def q84Compute(s: SparkSession, dir: String,
      coloringRounds: Int, rounds: Int): DataFrame = graft.Caches.scoped { sc =>
    val edges = sc.keep(copurchaseEdges(s, dir))
    q84Summarize(s, semiSyncLabels(edges, coloringRounds, rounds))
  }

  /** The windowed pick's free palette, HUB-SAFE: the pick only ever
    * reads the min(|free|, W) smallest free colors, and the k-th
    * smallest free color is ≤ |used| + k (at most |used| exclusions
    * below it), so truncating the candidate sequence at
    * |used| + SemiPickWindow preserves (a) ALL free colors when
    * |free| ≤ W — the |free|-th is ≤ |used| + W — and (b) the first W
    * otherwise; either way both the modulus min(|free|, W) and the
    * indexed element are unchanged → the pick is BIT-IDENTICAL to the
    * full [1..deg+1] palette the oracle replays. The row cost drops
    * from O(deg) to O(|used| + W) ≤ O(colors-so-far): a 10⁶-degree
    * hub on a power-law graph allocates a ≤ ~50-element array per
    * round instead of a 10⁶-element one (executor-memory scale
    * guard; Round12Spec pins both the bound and pick equality). */
  private[graft] def freePalette(deg: Column, used: Column): Column =
    array_except(
      sequence(lit(1L),
        least(deg + 1L, size(used).cast("long") + lit(SemiPickWindow.toLong))),
      used)

  /** The windowed-trial-coloring schedule — one schedule: picks
    * among the `SemiPickWindow` smallest free colors, the colored-
    * neighbor sets carried incrementally — colors to COMPLETION:
    * every node must land in some class or the sweeps would never
    * update it. `coloringRounds` sizes the ORACLE's unrolled replay
    * (rounds past completion are the identity — no uncolored nodes,
    * nothing picked, nothing newly colored — so a completion that
    * beats the unroll keeps Spark ≡ oracle). The ceiling is ONLY a
    * runaway guard: the globally max-(prio, id) uncolored node keeps
    * its pick every round, so ≥ 1 node colors per round worst-case,
    * and in expectation a constant fraction succeeds (a node's pick
    * collides with each same-window uncolored neighbor w.p. ~1/W and
    * the higher priority keeps) — measured 6/4/3 rounds at
    * sf0.001/0.01/0.1 and 14 at 20× vs the replaced Luby-MIS greedy
    * schedule's 29/9/4 and 134 (§6.15; per-round Spark job scheduling
    * is the 20× wall-clock, so rounds ARE the cost). Returns (colored
    * nodes, rounds used) — separated from the sweeps so specs can
    * drive it (Round12Spec).
    *
    * Per-round history kept from the Luby-era experiments (§6.15):
    * frontier semi-joins restricting the edge joins to active sets
    * measured inside host noise at 20× and COST 54% at sf0.1 (extra
    * shuffle stages dominate on small graphs); in-plan batching of k
    * steps per Spark round fails structurally (each lazy step
    * references the previous state frame twice — the composed subplan
    * duplicates ~2^k). The per-round form stays simple; the round
    * COUNT is where the 20× win came from. */
  private[graft] def trialColoring(edges: DataFrame,
      coloringRounds: Int): (DataFrame, Int) = {
    val s = edges.sparkSession
    import s.implicits._
    // graph-sized loop width (see withLoopWidth): every round runs a
    // ~6-job pick/keep/merge chain; picks are MEMBERSHIP algebra
    // (array_except/size — order-free) and the conflict keep an
    // order-free max(struct), so results are partition-count
    // independent — measured sf0.1 coloring 13.3 → 9.4 s
    withLoopWidth(s, edges.count()) {
    // undirected degree (edges is symmetric, simple): sizes each
    // node's palette [1..deg+1] — a free color always exists
    val nodes = edges.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("deg"))
      .checkpointFresh
    var col = nodes.select($"node", lit(0).as("color")).filter(lit(false))
      .checkpointFresh
    var unc = nodes
    var uncCnt = unc.count()
    // INCREMENTAL `used` state (round 12): colors of colored
    // neighbors, carried for still-uncolored nodes. A neighbor's
    // color enters the set exactly once — the round it colors — so
    // the whole loop touches each edge ONCE (O(E) aggregate work
    // total) where recomputing re-joins every colored neighborhood
    // every round (O(E·rounds)). Membership is what the pick reads
    // (array_except + size are order-free), and delta-union-distinct
    // preserves membership exactly, so picks are BIT-IDENTICAL to the
    // full recomputation the oracle (and LouvainLocal.coloring)
    // replays (spec-pinned against it on constructed + real graphs).
    // The trade is one node-keyed outer-merge + checkpoint per
    // round — edge-scale work drops, node-scale bookkeeping
    // appears: same-box back-to-back A/B measured the 20× coloring
    // 60.8 → 29.8 s (2.0×) and sf0.1 inside noise (9.5 vs 9.0 s —
    // the small graph's 3 rounds never amortize either way).
    var usedSt = nodes.select($"node")
      .withColumn("used", array().cast("array<long>"))
      .filter(lit(false)).checkpointFresh
    var r = 0
    val ceiling = math.max(coloringRounds, 4096)
    while (r < ceiling && uncCnt > 0) graft.Caches.scoped { sc =>
      // round-r priorities (re-randomized each round; the same prio
      // drives the windowed pick index — a pairwise-independent
      // permutation, so adjacent nodes' picks decorrelate)
      val prio = ($"node" * semiPrioA(r)) % SemiPrioM
      // free palette (ascending) over the carried colored-neighbor
      // colors, and the windowed pick
      val picks = sc.keep(unc
        .join(usedSt, Seq("node"), "left")
        .withColumn("prio", prio)
        .withColumn("free", freePalette($"deg",
          coalesce($"used", array().cast("array<long>"))))
        .withColumn("pick", element_at($"free",
          (($"prio" % least(size($"free"), lit(SemiPickWindow))) + 1)
            .cast("int")))
        .select($"node", $"prio", $"pick"))
      // keep a pick unless a same-pick uncolored neighbor outranks it
      val conflictMax = edges
        .join(picks.select($"node".as("dst"), $"pick".as("dp"),
          struct($"prio".as("p"), $"node".as("n")).as("ds")), "dst")
        .join(picks.select($"node".as("src"), $"pick".as("sp")), "src")
        .filter($"dp" === $"sp")
        .groupBy($"src").agg(max($"ds").as("mx"))
      // newly is read TWICE (col union + unc anti-join): cache it so
      // the two per-round checkpoints don't each recompute the whole
      // round's join chain, and its count gives the uncolored-residue
      // bookkeeping for free (per-round JOB COUNT is the wall-clock)
      val newly = sc.keep(picks
        .join(conflictMax.withColumnRenamed("src", "node"), Seq("node"), "left")
        .filter($"mx".isNull ||
          $"mx" < struct($"prio".as("p"), $"node".as("n")))
        .select($"node", $"pick".cast("int").as("color")))
      val nNew = newly.count()
      // the max-priority uncolored node always keeps its pick (strict
      // total order on (prio, id)), so an empty round with uncolored
      // residue is impossible — guard loudly rather than spin
      require(nNew > 0 || uncCnt == 0,
        s"q84 coloring round $r made no progress with $uncCnt uncolored")
      col = col.unionAll(newly).checkpointFresh
      unc = unc.join(newly.select($"node"), Seq("node"), "left_anti")
        .checkpointFresh
      if (uncCnt - nNew > 0) {
        // fold this round's newly-colored neighbors into the carried
        // state: each edge contributes in exactly one round's delta.
        // Rows for nodes that just colored leave the state (anti-join)
        // — their sets are never read again.
        val delta = edges
          .join(newly.select($"node".as("dst"), $"color"), "dst")
          .join(unc.select($"node".as("src")), Seq("src"), "left_semi")
          .groupBy($"src").agg(collect_set($"color".cast("long")).as("du"))
          .withColumnRenamed("src", "node")
        usedSt = usedSt
          .join(newly.select($"node"), Seq("node"), "left_anti")
          .join(delta, Seq("node"), "outer")
          .select($"node", array_distinct(concat(
              coalesce($"used", array().cast("array<long>")),
              coalesce($"du", array().cast("array<long>")))).as("used"))
          .checkpointFresh
      }
      uncCnt -= nNew
      r += 1
    }
    require(uncCnt == 0,
      s"q84 coloring ceiling $ceiling left $uncCnt uncolored nodes")
    (col.select($"node", $"color"), r)
    }
  }

  /** Executed (non-skipped) sweep steps across all semiSyncLabels
    * runs — observability for the pending-class skip (Round12Spec
    * asserts skipping actually happens). */
  private[graft] val lpaSweepSteps = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q84's engine over a symmetric edge list: returns (node, lbl)
    * at the stable labeling, checked against the oracle's
    * `SemiColors` class budget. Separated so specs can drive
    * constructed graphs (the 2-cycle graphs q81 oscillates on). */
  private[graft] def semiSyncLabels(edges: DataFrame,
      coloringRounds: Int = SemiColoringRounds,
      rounds: Int = SemiLpaRounds): DataFrame =
    semiSweeps(edges, trialColoring(edges, coloringRounds)._1,
      SemiColors, rounds).select(col("node"), col("lbl"))

  /** The per-color LPA sweep schedule over a PREBUILT proper coloring
    * — separated so the coloring artifact can be shared with q101's
    * Louvain schedule (`semiColoredMemo`). */
  private[graft] def semiSweeps(edges: DataFrame, col: DataFrame,
      colorBudget: Int, rounds: Int = SemiLpaRounds): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val nColors = col.agg(max($"color")).as[Int].head()
    // same loud guard as louvainMovesW: the oracle unrolls a fixed
    // class budget; sweeping past it would diverge silently
    checkColorBudget("q84", nColors, colorBudget)
    // graph-sized loop width (see withLoopWidth): each sweep step is
    // one class-restricted join chain + checkpoint; the argmax is an
    // order-free max(struct), the pending artifact a distinct set
    withLoopWidth(s, edges.count()) {
    // ---- per-color LPA sweeps, keep-current-if-argmax, with a ----
    // ---- driver-side PENDING-CLASS skip (round-12)            ----
    // A class's sweep is the IDENTITY when no member has a neighbor
    // whose label changed since the class was last evaluated (the
    // argmax inputs — neighbor-label counts and the member's own
    // label, which only moves at its own evaluation — are unchanged,
    // and keep-current-if-argmax re-picks the current label). So
    // skipping exactly those classes replays the full schedule
    // BIT-IDENTICALLY — the oracle still unrolls every sweep.
    //
    // Bookkeeping is ONE bounded job per LPA ROUND (not per class
    // step — the per-sweep form lost twice at local[32], §6.15): the
    // distinct (changer color, touched neighbor color) pairs of the
    // round's label changes, ≤ |colors|² rows. Sweeps run in class
    // order c = 1..K, so a change by class cc at position cc is SEEN
    // by a same-round sweep of class tc iff tc > cc; the driver
    // replays that order on the collected pairs:
    //   pending'(tc) = ∃(cc, tc) with cc > tc          if tc swept
    //                = pending(tc) ∨ ∃(cc, tc) any cc   if tc skipped
    // (classes are independent sets, so cc ≠ tc for adjacent pairs).
    // pending all-false ⟺ every class saw all adjacent changes at
    // its last evaluation ⟺ the labeling is a fixed point — the same
    // stability the old before/after check detected one round later,
    // and this job REPLACES that one, so rounds 2+ get strictly
    // cheaper: most classes stabilize after round 1 (the measured
    // majority cost at 20× was 6 rounds × 48 near-identity sweeps).
    var lbl = col.select($"node", $"color", $"node".as("lbl"))
      .checkpointFresh
    var pending = Array.fill(nColors + 1)(true) // round 1 sweeps all
    var round = 0
    while (round < rounds && pending.exists(identity)) {
      val before = lbl
      val swept = pending.clone()
      for (c <- 1 to nColors if swept(c)) {
        lpaSweepSteps.incrementAndGet()
        val cls = lbl.filter($"color" === c)
          .select($"node".as("src"), $"lbl".as("cur"))
        val upd = edges
          .join(cls.select($"src"), Seq("src"), "left_semi")
          .join(lbl.select($"node".as("dst"), $"lbl".as("nl")), "dst")
          .groupBy($"src", $"nl").agg(count(lit(1)).as("cnt"))
          .join(cls, "src")
          .groupBy($"src")
          .agg(max(struct($"cnt",
            when($"nl" === $"cur", 1).otherwise(0).as("ic"),
            (-$"nl").as("neg"))).as("m"))
          .select($"src", (-$"m.neg").as("newLbl"))
        lbl = lbl.join(upd, $"node" === $"src", "left")
          .select($"node", $"color", coalesce($"newLbl", $"lbl").as("lbl"))
          .checkpointFresh
      }
      round += 1
      if (round < rounds) {
        // the round's one bounded job: colors are a ≤ Δ+1 driver-scale
        // artifact, so the distinct pair set is ≤ |colors|² rows.
        // Skipped entirely after the LAST budgeted round — pending
        // only schedules a next round that will never run.
        val touched = lbl
          .join(before.select($"node", $"lbl".as("prevLbl")), "node")
          .filter($"lbl" =!= $"prevLbl")
          .select($"node".as("src"), $"color".as("cc"))
          .join(edges, "src")
          .join(col.select($"node".as("dst"), $"color".as("tc")), "dst")
          .select($"cc", $"tc").distinct()
          .as[(Int, Int)].collect()
        pending = Array.tabulate(nColors + 1) { tc =>
          if (tc == 0) false
          else if (swept(tc)) touched.exists { case (cc, t) => t == tc && cc > tc }
          else pending(tc) || touched.exists { case (_, t) => t == tc }
        }
      }
    }
    lbl
    }
  }

  /** Q84 oracle: the trial-coloring rounds and every per-color sweep
    * unrolled as materialized CTEs (the q76 discipline — DuckDB can't
    * iterate-with-replacement, a fixed unroll with identity tails
    * replays the early-exiting Spark loop exactly). Each coloring
    * round is a pick CTE (windowed pseudo-random pick from the free
    * palette, the same (node·a_r) mod M arithmetic Spark runs) plus a
    * col CTE (keep unless a same-pick neighbor outranks — the NOT
    * EXISTS). The sweep argmax window ORDER BY (cnt DESC, is-current
    * DESC, label ASC) IS keep-current-if-argmax. 2×8 coloring +
    * 6×24 sweep ≈ 161 materialized CTEs, comfortably under the 374
    * q76 ships. */
  private[graft] def lpaSemiSyncOracleSql(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      rounds: Int = SemiLpaRounds): String =
    lpaSemiSyncOracleBody(coloringRounds, colors, rounds) + s"""
         SELECT l.node AS l_partkey, l.lbl AS community, c.community_size
         FROM l_${rounds}_$colors l JOIN (
           SELECT lbl, count(*) AS community_size
           FROM l_${rounds}_$colors GROUP BY 1) c USING (lbl)
         ORDER BY l_partkey"""

  /** The q84 unroll WITHOUT the final select — shared by the q84 and
    * q100 oracles so the labeling both score is one CTE chain. */
  private[graft] def lpaSemiSyncOracleBody(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      rounds: Int = SemiLpaRounds): String =
    coloringOracleBody(coloringRounds) + lpaSweepOracleCtes(coloringRounds, colors, rounds)

  /** Graph + trial-coloring prefix of the unroll (base tables, edges,
    * degrees, the coloring rounds) — shared by the q84/q100 chain and
    * q101's Louvain chain, which schedules over the SAME coloring. */
  private[graft] def coloringOracleBody(
      coloringRounds: Int = SemiColoringRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         nd AS MATERIALIZED (
           SELECT DISTINCT src AS node FROM e),
         dg AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           FROM e GROUP BY 1),
         col_0 AS (SELECT node, CAST(NULL AS INTEGER) AS color
                   FROM nd WHERE 1 = 0)"""
    base + coloringCtes("e", "dg", "", coloringRounds)
  }

  /** The trial-coloring CTE rounds over arbitrary edge/degree table
    * names — ONE recipe for the base graph ("" tag: pick_i/col_i, the
    * q84/q100/q101 chain) and q102's supergraph ("2" tag). The caller
    * supplies the empty `col{tag}_0` seed CTE. */
  private[graft] def coloringCtes(e: String, dg: String, tag: String,
      coloringRounds: Int): String =
    (1 to coloringRounds).map { i =>
      // SQL round i replays Spark round r = i-1's multiplier
      val a = semiPrioA(i - 1)
      s""",
         pick${tag}_$i AS MATERIALIZED (
           -- free palette = [1..deg+1] minus colored-neighbor colors
           -- (ascending; a free color ALWAYS exists), pick = the
           -- ((node*a) mod M) mod min(len, W)-th smallest free color
           SELECT v.node, v.prio,
             v.fr[1 + CAST(v.prio % least(len(v.fr), $SemiPickWindow)
                           AS INTEGER)] AS pick
           FROM (
             SELECT d.node, ((d.node * $a) % $SemiPrioM) AS prio,
               list_filter(generate_series(1, d.deg + 1),
                 c -> NOT list_contains(
                   coalesce(u.used, CAST([] AS BIGINT[])), c)) AS fr
             FROM $dg d
             LEFT JOIN (
               SELECT e.src AS node,
                 list(DISTINCT CAST(cc.color AS BIGINT)) AS used
               FROM $e e JOIN col${tag}_${i - 1} cc ON e.dst = cc.node
               GROUP BY 1) u ON u.node = d.node
             WHERE d.node NOT IN (SELECT node FROM col${tag}_${i - 1})) v),
         col${tag}_$i AS MATERIALIZED (
           SELECT node, color FROM col${tag}_${i - 1}
           UNION ALL
           SELECT p.node, CAST(p.pick AS INTEGER) AS color
           FROM pick${tag}_$i p
           WHERE NOT EXISTS (
             SELECT 1 FROM $e e JOIN pick${tag}_$i q ON e.dst = q.node
             WHERE e.src = p.node AND q.pick = p.pick
               AND (q.prio, q.node) > (p.prio, p.node)))"""
    }.mkString

  /** The LPA singleton-init + per-color sweep CTEs (the suffix of the
    * q84 chain over `coloringOracleBody`'s prefix). */
  private[graft] def lpaSweepOracleCtes(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      rounds: Int = SemiLpaRounds): String = {
    val init = s""",
         l_0_$colors AS MATERIALIZED (
           SELECT node, color, node AS lbl FROM col_$coloringRounds)"""
    val sweeps = (1 to rounds).flatMap { rr =>
      (1 to colors).map { c =>
        val prev = if (c == 1) s"l_${rr - 1}_$colors" else s"l_${rr}_${c - 1}"
        s""",
         l_${rr}_$c AS MATERIALIZED (
           SELECT p.node, p.color,
             CASE WHEN p.color = $c THEN coalesce(u.newlbl, p.lbl)
                  ELSE p.lbl END AS lbl
           FROM $prev p LEFT JOIN (
             SELECT src AS node, nl AS newlbl FROM (
               SELECT v.src, v.nl,
                 row_number() OVER (PARTITION BY v.src
                   ORDER BY v.cnt DESC, (v.nl = v.cur) DESC, v.nl) AS rn
               FROM (
                 SELECT e.src, q.lbl AS nl, count(*) AS cnt,
                   any_value(me.lbl) AS cur
                 FROM e
                 JOIN $prev me ON me.node = e.src AND me.color = $c
                 JOIN $prev q ON q.node = e.dst
                 GROUP BY 1, 2) v) WHERE rn = 1) u
             ON u.node = p.node)"""
      }
    }.mkString
    init + sweeps
  }

  /** Q100 oracle: the full q84 unroll (same CTE chain — the labeling
    * being scored must be bit-identical to the q84 entry's) followed
    * by the modularity algebra: per community c, intra_deg (directed
    * edges inside c), total_deg (Σ degree), and the exact numerator
    * q_num = intra_deg·2m − total_deg² of Q_c = intra/2m − (deg/2m)².
    * Products route through HUGEINT (DuckDB's int128 ≡ Spark's
    * DECIMAL(38,0) path — both exact, final value BIGINT-checked). */
  private[graft] def modularityOracleSql(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      rounds: Int = SemiLpaRounds): String = {
    val labels = s"l_${rounds}_$colors"
    lpaSemiSyncOracleBody(coloringRounds, colors, rounds) + s""",
         m2t AS MATERIALIZED (SELECT count(*) AS m2 FROM e),
         degc AS (SELECT l.lbl AS community, count(*) AS community_size,
                    CAST(sum(d.deg) AS BIGINT) AS total_deg
                  FROM $labels l JOIN dg d USING (node) GROUP BY 1),
         intra AS (SELECT la.lbl AS community, count(*) AS intra_deg
                   FROM e JOIN $labels la ON la.node = e.src
                          JOIN $labels lb ON lb.node = e.dst
                   WHERE la.lbl = lb.lbl GROUP BY 1)
         SELECT d.community, d.community_size,
           CAST(coalesce(i.intra_deg, 0) AS BIGINT) AS intra_deg,
           d.total_deg, m.m2,
           CAST(CAST(coalesce(i.intra_deg, 0) AS HUGEINT) * m.m2
                - CAST(d.total_deg AS HUGEINT) * d.total_deg
             AS BIGINT) AS q_num
         FROM degc d LEFT JOIN intra i USING (community)
         CROSS JOIN m2t m
         ORDER BY community"""
  }

  /** Q100: NEWMAN MODULARITY of the q84 community labeling (Newman &
    * Girvan 2004; Q = Σ_c [e_c/2m − (d_c/2m)²]) — the quality metric
    * that closes the community-detection loop: q81/q84 EMIT labelings,
    * this entry SCORES one, per community, in exact integer algebra.
    * Per community c over the symmetric directed edge list (|e| = 2m):
    * `intra_deg` = directed edges with both endpoints in c (= 2× the
    * undirected internal edges), `total_deg` = Σ member degrees, and
    * the exact numerator `q_num = intra_deg·2m − total_deg²` of
    * Q_c·(2m)² — integers, so the oracle hash gates every community's
    * contribution bit-for-bit (Q itself = Σ q_num / m2², one driver
    * division away; doubles never enter the checked surface).
    *
    * Exactness at scale: both products route through DECIMAL(38,0)
    * (the q65_cuped discipline — two ≤19-digit longs multiply
    * EXACTLY), and the final BIGINT cast is loud-guarded: a corpus
    * where total_deg² outgrows int64 (total_deg > 3·10⁹ — a single
    * community holding that many edge endpoints) fails visibly
    * instead of wrapping or nulling.
    *
    * Shape at 100 TB: reuses q84's memoized labeling; then one
    * node-keyed degree aggregate, two edge-keyed label joins (the
    * same bucketing the LPA sweeps themselves use), and one
    * community-keyed aggregate with map-side partials — linear in
    * edges, no per-community fan-out, output ≤ |communities| rows. */
  def q100Modularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lab = q84LpaSemisync(s, dir)
      .select($"l_partkey".as("node"), $"community".as("lbl"))
    // local endgame under the gate (see semiColoredMemo): the score is
    // three integer aggregates over the metadata-scale edge list and
    // the memoized labeling — GraphLocal replays the exact algebra,
    // including the loud int64 overflow guard
    GraphLocal.halfPairsUnderGate(s, dir).foreach { half =>
      val lmap = lab.as[(Long, Long)].collect().toMap
      return GraphLocal.modularityTable(s, half, lmap)
    }
    modularityOf(copurchaseEdges(s, dir), lab).orderBy($"community")
  }

  /** The q100 kernel over an arbitrary symmetric edge list and a
    * (node, lbl) labeling — separated so the spec can replay graphs
    * with hand-computable modularity (two disjoint triangles → Q =
    * 1/2) and pin the Σ-invariants (Σ total_deg = 2m = |e|;
    * Σ community_size = |V|; Σ intra_deg = 2m − cut edges). */
  private[graft] def modularityOf(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // materialized once for the count and both aggregates; unlike a
    // cache, the checkpoint is freed once the lazy result is dropped
    val e = edges.localCheckpoint(eager = true)
    val m2 = e.count() // |e| = 2m: one scalar, the only driver value
    val lab = labels.select($"node", $"lbl")
    val degc = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .join(lab, "node")
      .groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("community_size"),
        sum($"deg").as("total_deg"))
    val intra = e
      .join(lab.select($"node".as("src"), $"lbl".as("ls")), "src")
      .join(lab.select($"node".as("dst"), $"lbl".as("ld")), "dst")
      .filter($"ls" === $"ld")
      .groupBy($"ls".as("community")).agg(count(lit(1)).as("intra_deg"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    def loud(c: Column, what: String) = when(c.isNull,
      raise_error(lit(s"q100_modularity: exact-integer overflow in " +
        s"$what — community mass exceeds the int64 surface"))).otherwise(c)
    val qn = d38($"intra_deg") * lit(m2) - d38($"total_deg") * $"total_deg"
    degc.join(intra, Seq("community"), "left")
      .select($"community", $"community_size",
        coalesce($"intra_deg", lit(0L)).as("intra_deg"), $"total_deg")
      .select($"community", $"community_size", $"intra_deg", $"total_deg",
        lit(m2).as("m2"),
        loud(loud(qn, "intra·2m − deg² (decimal)").cast("long"),
          "q_num (int64 range)").as("q_num"))
  }

  // ----------------------------------------------------------------
  // Q101: Louvain-style modularity local moves
  // ----------------------------------------------------------------

  /** Louvain move passes from the singleton init — fixed (not
    * until-convergence) so the operator is a pure function of its
    * input and the oracle can replay it unrolled (the q84/q66
    * discipline). */
  val LouvainRounds = 3

  /** One Louvain "phase 1" move engine (Blondel et al. 2008),
    * DISTRIBUTED with the semi-synchronous schedule the repo's LPA
    * already runs (the published distributed-Louvain shape — Ghosh et
    * al., IPDPS 2018): color classes are swept in ascending order,
    * and within a class every node simultaneously moves to the
    * neighbor community with the best strictly-positive modularity
    * gain (ties → min label; no positive gain → stay). Classes are
    * independent sets, so a member's neighbor-community edge counts
    * k_{v,C} are EXACT under simultaneous within-class moves; the
    * community volumes Σ_C deg refresh PER CLASS STEP, the one
    * schedule of `louvainMovesW` (why: volumes frozen at round start
    * OSCILLATE on the dense sf0.001 graph — moves
    * 193/81/124/149/129/155 over 6 rounds, snowballing into 4
    * over-merged communities at Σ q_num 727,882 — while per-step
    * volumes CONVERGE 169/62/30/20/17/13 and land 12 communities at
    * Σ q_num 3,588,086, 4.9× the modularity, at no wall-clock cost;
    * §6.18).
    *
    * The gain is Newman modularity's exact integer numerator: moving
    * v (degree k_v) from community A to C changes Q·(2m)²/2 by
    *   gain = 2m·(k_{v,C} − k_{v,A}) − k_v·(tot_C − (tot_A − k_v))
    * — every term a counter, so the whole schedule is replayable
    * algebra (products in DECIMAL(38,0) ↔ the oracle's HUGEINT,
    * loud-guarded: a corpus whose products outgrow 38 digits fails
    * visibly, never drops a candidate to a silent null).
    *
    * Shape at scale: per class step, one edge-keyed join restricted
    * to the class (left_semi on the shrinking member set) + one
    * (node, community) count + a broadcast-scale volume join + one
    * agg-only argmax — the q84 sweep shape with a volumes join. The
    * volumes frame is |communities|-sized. Rounds × colors
    * driver-synchronized steps is the q84 price, bounded by the
    * ZERO-MOVE ROUND EARLY EXIT (round 13):
    * a round that applies no move is a fixed point, and the fixed
    * point is ABSORBING — volumes are a pure function of the (now
    * frozen) labeling, so every later round replays the same gains
    * and moves nothing — so exiting is result-identical to running
    * the remaining budget (the oracle still unrolls every round;
    * its tail rounds are identity CTEs). The per-round move count
    * rides the class steps' own checkpoint jobs as an observed
    * metric (the d6 convergence-count discipline) — zero extra
    * jobs. */
  private[graft] def louvainMoves(edges: DataFrame, labeled: DataFrame,
      colorBudget: Int, rounds: Int = LouvainRounds): DataFrame =
    graft.Caches.scoped { sc =>
      val s = edges.sparkSession
      import s.implicits._
      val deg = sc.keep(edges.groupBy($"src".as("node"))
        .agg(count(lit(1)).as("s")))
      val m2 = edges.count() // |e| = 2m: one scalar, the only driver value
      louvainMovesW(edges.withColumn("w", lit(1L)), deg, m2,
        labeled, rounds, colorBudget)
    }

  /** Executed (non-skipped) Louvain class steps across all
    * louvainMovesW runs — observability for the zero-move early exit
    * (Round13Spec asserts exiting actually happens), the
    * lpaSweepSteps pattern. */
  private[graft] val louvainMoveSteps = new java.util.concurrent.atomic.AtomicInteger(0)

  /** GRAPH-SIZED LOOP WIDTH (round 13 — the d6 discipline, one place
    * owns the recipe): run `body` with the shuffle width sized to the
    * graph — 1 partition per 100k rows, capped at the session width a
    * billion-edge graph keeps; restored in finally. The iterative
    * operators' per-round cost on small graphs is ~8 stages × 32
    * near-empty task startups of pure scheduling (measured: a q101
    * class step 1.7 s against 4,648 edges; q84's sf0.1 chain 29 → 10 s
    * under this lever); at data volumes where tasks do real work the
    * cap keeps full width. Sound wherever results are partition-count
    * independent — every loop in this module qualifies: exact integer
    * algebra with commutative aggregates (sums, counts, min/max,
    * max(struct) argmaxes, set membership), gated by the sf0.01
    * oracle hashes.
    *
    * CONCURRENCY ASSUMPTION (advisor r13): this mutates the
    * session-global shuffle width read-then-restore, so it assumes
    * the engine's serial execution model (Verify/Bench run entries
    * one at a time on one session — the suite-wide contract).
    * Interleaved restores under concurrent queries on a shared
    * session could strand the narrowed width on unrelated plans —
    * a PERF-only hazard (results are partition-count independent by
    * the soundness argument above). A multi-tenant deployment should
    * give each stream its own session (`newSession()` clones the
    * conf, so the width mutation scopes to the clone). */
  private[graft] def withLoopWidth[T](s: SparkSession, rows: Long)(
      body: => T): T = {
    val parts = math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong, rows / 100000L)).toInt
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** LOUD color-budget guard (round-12 ADVICE, round 13): the engine
    * sweeps the coloring's data-dependent class count while the
    * UNROLLED oracle replays a fixed budget of class CTEs — a corpus
    * whose coloring exceeds the budget would make the engine run
    * steps the oracle never replays, a silent divergence anywhere the
    * oracle is EVALUATED (the driver's sf0.01 gate; the spec SFs).
    * It always raises. The check costs nothing: max(color) was
    * already computed for the sweep schedule. */
  private[graft] def checkColorBudget(op: String, nColors: Int,
      colorBudget: Int): Unit =
    if (nColors > colorBudget) {
      val msg = s"$op: coloring used $nColors classes > the oracle's " +
        s"unroll budget $colorBudget — raise the budget (and the " +
        "unrolled oracle with it) rather than diverge silently"
      throw new IllegalArgumentException(msg)
    }

  /** The weighted move core (one recipe for both phases — the bandsOf
    * discipline): `edges` carry a weight column `w` (phase 1 passes
    * w = 1, where sum ≡ count), `strength` is the per-node weighted
    * degree INCLUDING self-loop mass (phase 1: the plain degree;
    * phase 2: Σ cross-community weights + the community's internal
    * directed count — the standard Σw + 2·loops), and `m2w` = Σ
    * strength, which coarsening leaves INVARIANT (= the base graph's
    * |e| — the property that makes phase-2 gains the same global Q
    * algebra as phase 1's).
    *
    * One schedule, the one both phases and both oracles ship: rounds
    * of classes ascending, community volumes recomputed from the
    * CURRENT labeling before every class step, and an exit after the
    * first round that moves nothing (the remaining budget replays as
    * the identity; the oracle still unrolls it). Why per-step volumes:
    * frozen at round start they SNOWBALL — at sf0.001 phase 2 (9
    * supernodes / 8 colors ⟹ nearly-sequential steps against fully
    * stale volumes) collapses Q·(2m)² 569,980 → 3,104, while per-step
    * volumes improve and converge (→ 779,378, stable from round 1);
    * phase 1's measurement is on `louvainMoves`. The volumes frame is
    * community-count-sized, so the per-step aggregate is
    * metadata-scale. The color budget is the oracle unroll's class
    * count (`checkColorBudget`). */
  private[graft] def louvainMovesW(edges: DataFrame, strength: DataFrame,
      m2w: Long, labeled: DataFrame, rounds: Int,
      colorBudget: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val nColors = labeled.agg(coalesce(max($"color"), lit(0))).as[Int].head()
    // LOUD budget guard (the decimal-overflow discipline): the engine
    // sweeps the coloring's data-dependent class count while the
    // oracle unrolls a FIXED budget of class CTEs — a corpus whose
    // coloring exceeds the budget would make the engine run steps the
    // oracle never replays, a silent divergence at non-oracle SFs.
    // nColors is already computed above, so the guard costs nothing.
    checkColorBudget("louvain", nColors, colorBudget)
    // graph-sized loop width (see withLoopWidth): each of the
    // rounds × colors class steps shuffles ~|E|/colors edges and
    // |N|-scale label rows through an ~8-stage plan — measured at
    // sf0.001 (4,648 directed edges) ~1.7 s/step of pure scheduling
    // at session width, halved under the data-sized width
    withLoopWidth(s, edges.count()) {
    def d38(c: Column) = c.cast("decimal(38,0)")
    def loud(c: Column) = when(c.isNull,
      raise_error(lit("louvain: exact-integer overflow in the " +
        "gain product — graph mass exceeds the decimal(38,0) surface")))
      .otherwise(c)
    var lbl = labeled.select($"node", $"color", $"lbl").checkpointFresh
    var round = 0
    var fixedPoint = false
    while (round < rounds && !fixedPoint) {
      var movedInRound = 0L
      for (c <- 1 to nColors) graft.Caches.scoped { sc =>
        louvainMoveSteps.incrementAndGet()
        // community volumes from the CURRENT labeling (per class step)
        val tot = sc.keep(lbl.join(strength, "node")
          .groupBy($"lbl".as("c_lbl")).agg(sum($"s").as("tot")))
        val cls = lbl.filter($"color" === c)
          .select($"node".as("src"), $"lbl".as("cur"))
        val kv = edges
          .join(cls.select($"src"), Seq("src"), "left_semi")
          .join(lbl.select($"node".as("dst"), $"lbl".as("nl")), "dst")
          .groupBy($"src", $"nl").agg(sum($"w").as("k"))
          .join(cls, "src")
        val ka = kv.filter($"nl" === $"cur").select($"src", $"k".as("ka"))
        val gain =
          d38(lit(m2w)) * (d38($"k") - d38(coalesce($"ka", lit(0L)))) -
            d38($"s") * (d38($"totC") - d38($"totA") + d38($"s"))
        val gains = kv.filter($"nl" =!= $"cur")
          .join(ka, Seq("src"), "left")
          .join(strength.select($"node".as("src"), $"s"), "src")
          .join(tot.select($"c_lbl".as("nl"), $"tot".as("totC")), "nl")
          .join(tot.select($"c_lbl".as("cur"), $"tot".as("totA")), "cur")
        val mv = gains
          .select($"src", $"nl", loud(gain).as("gain"))
          .filter($"gain" > 0)
          .groupBy($"src")
          .agg(max(struct($"gain", (-$"nl").as("neg"))).as("m"))
          .select($"src", (-$"m.neg").as("newLbl"))
        // the per-step move count rides the checkpoint's own job as
        // an observed metric (mv rows always carry newLbl ≠ the
        // current label — gains filter nl ≠ cur): one job per step,
        // same as before, and the round's Σ drives the early exit
        val obs = org.apache.spark.sql.Observation(
          s"lv_moves_${round}_${c}_${louvainMoveSteps.get}")
        lbl = lbl.join(mv, $"node" === $"src", "left")
          .observe(obs, sum(when($"newLbl".isNotNull, 1L).otherwise(0L))
            .as("moved"))
          .select($"node", $"color", coalesce($"newLbl", $"lbl").as("lbl"))
          .checkpointFresh
        val stepMoved =
          Option(obs.get("moved")).map(_.asInstanceOf[Long]).getOrElse(0L)
        movedInRound += stepMoved
      }
      round += 1
      // zero-move round ⟹ fixed point ⟹ absorbing (volumes are a
      // pure function of the unchanged labeling): the remaining
      // budget replays as the identity, so exit is result-identical
      fixedPoint = movedInRound == 0L
    }
    lbl.select($"node", $"lbl")
    }
  }

  /** Q101: LOUVAIN COMMUNITY DETECTION (phase 1) — the modularity-
    * optimizing detector next to q84's LPA, closing the community
    * loop: q84 DETECTS by label frequency, q100 SCORES, q101 detects
    * by the score itself. Starts from SINGLETONS (the published
    * init — Blondel et al. 2008; a local move can merge but never
    * split, so starting from a coarse labeling would freeze its
    * mistakes: measured, q84 glues dense sf0.001 into ONE community
    * with Q = 0 exactly, and no move sequence can leave it) and runs
    * `LouvainRounds` semi-synchronous move passes over the SHARED
    * coloring artifact (`semiColoredMemo` — one coloring schedules
    * both detectors). Output mirrors q84 (per node: community + size)
    * so the labeling itself is the hash-checked surface; the oracle
    * replays the coloring + every move round CTE-for-step. */
  def q101Louvain(s: SparkSession, dir: String): DataFrame =
    q84Summarize(s, louvainLabels(s, dir))

  /** The memoized phase-1 labeling artifact — serves q101's summary
    * AND q102's coarsening (the semiLabeled pattern). */
  private[graft] def louvainLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q101_labels", dir) { sc =>
      // local endgame under the gate (see semiColoredMemo): phase 1 is
      // louvainMovesW with w = 1, strength = degree, m2w = |e| — the
      // exact machinery LouvainLocal.movesW already replays for the
      // coarse level, over the same shared coloring artifact
      val halfOpt = GraphLocal.halfPairsUnderGate(s, dir)
      if (halfOpt.isDefined) {
        val ceW = GraphLocal.symmetrize(halfOpt.get).map(t => (t._1, t._2, 1L))
        val colMap = semiColoredMemo(s, dir)
          .as[(Long, Int)].collect().toMap
        checkColorBudget("louvain",
          if (colMap.isEmpty) 0 else colMap.valuesIterator.max, SemiColors)
        val strength = ceW.groupBy(_._1).map { case (n, xs) =>
          n -> xs.length.toLong }
        LouvainLocal.movesW(ceW, strength, ceW.length.toLong, colMap,
          LouvainRounds).toSeq.toDF("node", "lbl")
      } else {
        val edges = sc.keep(copurchaseEdges(s, dir))
        louvainMoves(edges, semiColoredMemo(s, dir)
          .select($"node", $"color", $"node".as("lbl")), SemiColors)
      }
    }
  }

  /** Phase-2 move passes over the coarsened supergraph — its own
    * budget so the oracle unroll and the spec convergence pins are
    * independent of phase 1's. */
  val LouvainP2Rounds = 3

  /** Q102: LOUVAIN PHASE 2 (coarsening) — the step that makes Louvain
    * MULTI-LEVEL (Blondel et al. 2008 §2): contract each phase-1
    * community to one supernode (cross-community directed weights
    * aggregated; internal mass becomes the supernode's self-loop,
    * carried inside its STRENGTH), color the supergraph with the same
    * trial-coloring schedule, and run weighted move passes. The total
    * weight 2m is INVARIANT under contraction (Σ strength = base |e|),
    * so phase-2 gains optimize the SAME global Q in the same integer
    * units — the projected labeling's per-community q_num on the BASE
    * graph is exactly the supergraph algebra's (spec-pinned), and
    * merges phase 1 could only reach through a chain of individually
    * negative node moves happen in one supernode move (measured: Σ
    * q_num strictly improves over q101 at sf0.001). Volumes refresh
    * PER CLASS STEP (see louvainMovesW: with community-scale
    * strengths, round-frozen volumes measurably snowball into a
    * near-total collapse).
    *
    * Shape at scale: the contraction is ONE (label, label) aggregate
    * over the edge list; everything after runs on a graph whose node
    * count is the COMMUNITY count — the move-pass bill that dominates
    * phase 1 at 20× shrinks with the contraction ratio (the published
    * reason multi-level Louvain scales). Isolated supernodes (no
    * cross edges) can't move and are projected through unchanged. */
  def q102LouvainCoarse(s: SparkSession, dir: String): DataFrame =
    graft.Caches.scoped { sc =>
    import s.implicits._
    val edges = sc.keep(copurchaseEdges(s, dir))
    val l1 = louvainLabels(s, dir)
    val le = sc.keep(edges
      .join(l1.select($"node".as("src"), $"lbl".as("la")), "src")
      .join(l1.select($"node".as("dst"), $"lbl".as("lb")), "dst")
      .groupBy($"la", $"lb").agg(count(lit(1)).as("w")))
    val cross = le.filter($"la" =!= $"lb")
      .select($"la".as("src"), $"lb".as("dst"), $"w")
    // strength(c) = Σ_b w(c,b) over ALL b (self term included) =
    // Σ member degrees; Σ strength = |e| = the invariant 2m
    val strength = sc.keep(le.groupBy($"la".as("node"))
      .agg(sum($"w").as("s")))
    val m2w = edges.count()
    // LOCAL ENDGAME (round 14 — see LouvainLocal): the coarse level
    // is metadata-scale by construction (community count ≪ node
    // count); once its cross-edge list fits the driver gate, the
    // distributed coloring + move steps are pure scheduling (r14
    // probe: 341 jobs / ~14.6 s at sf0.1 against 538 cross edges),
    // so finish the level locally — the SAME schedule, BigInt-exact,
    // spec-pinned bit-identical to the distributed path, which a
    // corpus beyond the gate still takes.
    // Driver gate: the coarse level finishes locally when its cross-
    // edge count — the collected payload, 24 B/edge ≈ 100 MB at 2²²,
    // the published "coarse level fits on one node" bar — is under
    // `gates.louvain`; beyond it (a corpus whose phase-1 community
    // graph is itself data-scale) the distributed weighted moves run.
    // Measured at 20× sf0.1, an undersized 2²⁰ gate sent 1.12M cross
    // edges distributed for 571.9 s where the local replay takes
    // seconds.
    val nCross = cross.count()
    val l2 =
      if (nCross <= GraphLocal.gates.louvain) {
        val ce = cross.select($"src", $"dst", $"w")
          .as[(Long, Long, Long)].collect()
        val st = strength.select($"node", $"s")
          .as[(Long, Long)].collect().toMap
        val col2 = LouvainLocal.coloring(ce.map(t => (t._1, t._2)))
        checkColorBudget("louvain",
          if (col2.isEmpty) 0 else col2.valuesIterator.max, LouvainP2Colors)
        val lbl2 = LouvainLocal.movesW(ce, st, m2w, col2, LouvainP2Rounds)
        lbl2.toSeq.toDF("node", "lbl")
      } else {
        val (col2, _) = trialColoring(cross.select($"src", $"dst"),
          SemiColoringRounds)
        val init2 = col2.select($"node", $"color", $"node".as("lbl"))
        louvainMovesW(cross, strength, m2w, init2, LouvainP2Rounds,
          LouvainP2Colors)
      }
    // isolated supernodes never entered the cross graph: keep their
    // phase-1 label (they have no neighbors to move toward)
    val projected = l1
      .join(l2.select($"node".as("lbl"), $"lbl".as("lbl2")), Seq("lbl"), "left")
      .select($"node", coalesce($"lbl2", $"lbl").as("lbl"))
    q84Summarize(s, projected)
    }

  /** The Louvain move-round CTEs over arbitrary table names — ONE
    * recipe for both phases: phase 1 reads (e, dg.deg, k = count(*));
    * phase 2 reads (e2, st2.s, k = sum of edge weights). `tag`
    * suffixes the lt/kv/lv names; `init` is the singleton CTE. */
  private[graft] def louvainMoveCtes(e: String, st: String, sCol: String,
      kAgg: String, init: String, tag: String,
      colors: Int, moveRounds: Int): String =
    (1 to moveRounds).map { r =>
      val roundStart = if (r == 1) init else s"lv${tag}_${r - 1}_$colors"
      (1 to colors).map { c =>
        val prev = if (c == 1) roundStart else s"lv${tag}_${r}_${c - 1}"
        // volumes recomputed from the CURRENT labeling before every
        // class step (louvainMovesW's schedule)
        val lt = s"lt${tag}_${r}_$c"
        s""",
         $lt AS MATERIALIZED (
           SELECT l.lbl AS c_lbl, CAST(sum(d.$sCol) AS BIGINT) AS tot
           FROM $prev l JOIN $st d ON d.node = l.node GROUP BY 1),
         kv${tag}_${r}_$c AS MATERIALIZED (
           SELECT e.src, q.lbl AS nl, $kAgg AS k,
             any_value(me.lbl) AS cur
           FROM $e e JOIN $prev me ON me.node = e.src AND me.color = $c
                  JOIN $prev q ON q.node = e.dst
           GROUP BY 1, 2),
         lv${tag}_${r}_$c AS MATERIALIZED (
           SELECT p.node, p.color,
             CASE WHEN p.color = $c THEN coalesce(u.newlbl, p.lbl)
                  ELSE p.lbl END AS lbl
           FROM $prev p LEFT JOIN (
             SELECT src AS node, nl AS newlbl FROM (
               SELECT v.src, v.nl,
                 row_number() OVER (PARTITION BY v.src
                   ORDER BY v.gain DESC, v.nl) AS rn
               FROM (
                 SELECT kv.src, kv.nl,
                   CAST(m.m2 AS HUGEINT) * (kv.k - coalesce(ka.ka, 0))
                     - CAST(d.$sCol AS HUGEINT)
                       * (tc.tot - ta.tot + d.$sCol) AS gain
                 FROM kv${tag}_${r}_$c kv
                 LEFT JOIN (SELECT src, k AS ka FROM kv${tag}_${r}_$c
                            WHERE nl = cur) ka ON ka.src = kv.src
                 JOIN $st d ON d.node = kv.src
                 JOIN $lt tc ON tc.c_lbl = kv.nl
                 JOIN $lt ta ON ta.c_lbl = kv.cur
                 CROSS JOIN m2t m
                 WHERE kv.nl <> kv.cur) v
               WHERE v.gain > 0) z WHERE z.rn = 1) u
             ON u.node = p.node)"""
      }.mkString
    }.mkString

  /** The q101 chain WITHOUT the final select (coloring prefix + m2t +
    * singleton init + phase-1 move rounds) — shared with q102. */
  private[graft] def louvainOracleBody(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      moveRounds: Int = LouvainRounds): String =
    coloringOracleBody(coloringRounds) + s""",
         m2t AS MATERIALIZED (SELECT count(*) AS m2 FROM e),
         lv_0 AS MATERIALIZED (
           SELECT node, color, node AS lbl FROM col_$coloringRounds)""" +
      louvainMoveCtes("e", "dg", "deg", "count(*)", "lv_0", "",
        colors, moveRounds)

  /** Q101 oracle: the shared coloring CTE prefix, a singleton init
    * `lv_0`, then per move round r and class step c: a volumes CTE
    * `lt_r_c` refreshed from the CURRENT labeling (louvainMovesW's
    * per-step volumes), a
    * `kv_r_c` (per-member neighbor-community counts) and `lv_r_c`
    * (apply the best strictly-positive-gain move, ties → min label).
    * HUGEINT products ≡ Spark's DECIMAL(38,0) — both exact. ~17
    * coloring + 3×(3×24) move CTEs ≈ 233, under the 374 precedent. */
  private[graft] def louvainOracleSql(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      moveRounds: Int = LouvainRounds): String = {
    val last = s"lv_${moveRounds}_$colors"
    louvainOracleBody(coloringRounds, colors, moveRounds) + s"""
         SELECT l.node AS l_partkey, l.lbl AS community, c.community_size
         FROM $last l JOIN (
           SELECT lbl, count(*) AS community_size
           FROM $last GROUP BY 1) c USING (lbl)
         ORDER BY l_partkey"""
  }

  /** Supergraph colors budget for q102's oracle unroll — the
    * coarsened graph's trial coloring at W=8; measured and pinned ≤
    * budget by the spec at both oracle SFs. */
  val LouvainP2Colors = 24

  /** Q102 oracle: the full q101 chain, then the contraction (le2 →
    * e2 cross edges + st2 strengths + dg2 degrees), the supergraph's
    * own coloring rounds, the weighted move rounds, and the
    * projection (isolated supernodes keep their phase-1 label). */
  private[graft] def louvainCoarseOracleSql(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      moveRounds: Int = LouvainRounds,
      p2Colors: Int = LouvainP2Colors,
      p2Rounds: Int = LouvainP2Rounds): String = {
    val l1 = s"lv_${moveRounds}_$colors"
    val last = s"lv2_${p2Rounds}_$p2Colors"
    louvainOracleBody(coloringRounds, colors, moveRounds) + s""",
         le2 AS MATERIALIZED (
           SELECT a.lbl AS la, b.lbl AS lb, count(*) AS w
           FROM e JOIN $l1 a ON a.node = e.src
                  JOIN $l1 b ON b.node = e.dst
           GROUP BY 1, 2),
         e2 AS MATERIALIZED (
           SELECT la AS src, lb AS dst, w FROM le2 WHERE la <> lb),
         st2 AS MATERIALIZED (
           SELECT la AS node, CAST(sum(w) AS BIGINT) AS s
           FROM le2 GROUP BY 1),
         dg2 AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
           FROM e2 GROUP BY 1),
         col2_0 AS (SELECT CAST(NULL AS BIGINT) AS node,
                      CAST(NULL AS INTEGER) AS color WHERE 1 = 0)""" +
      coloringCtes("e2", "dg2", "2", coloringRounds) + s""",
         lv2_0 AS MATERIALIZED (
           SELECT node, color, node AS lbl FROM col2_$coloringRounds)""" +
      louvainMoveCtes("e2", "st2", "s", "CAST(sum(e.w) AS BIGINT)",
        "lv2_0", "2", p2Colors, p2Rounds) + s"""
         SELECT l.node AS l_partkey,
           coalesce(p.lbl, l.lbl) AS community, c.community_size
         FROM $l1 l
         LEFT JOIN $last p ON p.node = l.lbl
         JOIN (
           SELECT coalesce(p.lbl, l.lbl) AS community,
             count(*) AS community_size
           FROM $l1 l LEFT JOIN $last p ON p.node = l.lbl
           GROUP BY 1) c ON c.community = coalesce(p.lbl, l.lbl)
         ORDER BY l_partkey"""
  }

  // ----------------------------------------------------------------
  // Q103: per-community conductance
  // ----------------------------------------------------------------

  /** Q103: CONDUCTANCE of the q101 communities — the second standard
    * community-quality metric next to modularity (Kannan, Vempala &
    * Vetta, JACM 2004; the LFR/partitioning-benchmark yardstick):
    * q100 scores density against the null model, conductance
    * certifies BOUNDARY sparsity — φ(c) = cut(c) / min(vol(c),
    * 2m − vol(c)). The checked surface is exact integers (cut =
    * boundary edge count, vol = Σ member degrees, denom = the min) —
    * φ itself is one driver division away; doubles never enter. Zero-
    * cut communities keep their rows (the q100 zero-intra
    * discipline). Oracle = the q101 chain (the labeling scored is the
    * labeling verified) + two linear label joins.
    *
    * Shape at 100 TB: reuses the memoized q101 labels; one node-keyed
    * degree aggregate + two edge-keyed label joins (the same
    * bucketing the move steps use) + community-keyed aggregates with
    * map-side partials — linear in edges, output ≤ |communities|. */
  def q103Conductance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // materialize BEFORE the scope releases the edges: the kernel's
    // result is lazy, and releasing first would make every downstream
    // action recompute the co-purchase join uncached (round-12 ADVICE)
    graft.Caches.scoped { sc =>
      conductanceOf(sc.keep(copurchaseEdges(s, dir)), louvainLabels(s, dir))
        .orderBy($"community").checkpointFresh
    }
  }

  /** The q103 kernel over an arbitrary symmetric edge list and a
    * (node, lbl) labeling — separated so the spec can replay graphs
    * with hand-computable conductance (two triangles + a bridge →
    * cut 1, vol 7, denom 7 each) and pin the Σ-invariants. CALLERS
    * manage `edges` caching (the kernel reads it three times: the m2
    * count, the volume aggregate, the cut join) — caching here would
    * leak executor storage on the frames spec callers pass, since the
    * returned frame is lazy and no inner unpersist point is sound
    * before the caller materializes it (round-12 ADVICE). */
  private[graft] def conductanceOf(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges
    val m2 = e.count() // Σ degrees = |directed e|: the only driver value
    val lab = labels.select($"node", $"lbl")
    val volc = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .join(lab, "node")
      .groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("community_size"), sum($"deg").as("volume"))
    val cut = e
      .join(lab.select($"node".as("src"), $"lbl".as("la")), "src")
      .join(lab.select($"node".as("dst"), $"lbl".as("lb")), "dst")
      .filter($"la" =!= $"lb")
      .groupBy($"la".as("community")).agg(count(lit(1)).as("cut_edges"))
    volc.join(cut, Seq("community"), "left")
      .select($"community", $"community_size",
        coalesce($"cut_edges", lit(0L)).as("cut_edges"), $"volume",
        least($"volume", lit(m2) - $"volume").as("denom"))
  }

  /** Q103 oracle: the q101 chain + the conductance algebra. */
  private[graft] def conductanceOracleSql(
      coloringRounds: Int = SemiColoringRounds,
      colors: Int = SemiColors,
      moveRounds: Int = LouvainRounds): String = {
    val labels = s"lv_${moveRounds}_$colors"
    louvainOracleBody(coloringRounds, colors, moveRounds) + s""",
         volc AS (SELECT l.lbl AS community, count(*) AS community_size,
                    CAST(sum(d.deg) AS BIGINT) AS volume
                  FROM $labels l JOIN dg d ON d.node = l.node GROUP BY 1),
         cutc AS (SELECT a.lbl AS community, count(*) AS cut_edges
                  FROM e JOIN $labels a ON a.node = e.src
                         JOIN $labels b ON b.node = e.dst
                  WHERE a.lbl <> b.lbl GROUP BY 1)
         SELECT v.community, v.community_size,
           CAST(coalesce(c.cut_edges, 0) AS BIGINT) AS cut_edges,
           v.volume, least(v.volume, m.m2 - v.volume) AS denom
         FROM volc v LEFT JOIN cutc c USING (community)
         CROSS JOIN m2t m
         ORDER BY community"""
  }

  // ----------------------------------------------------------------
  // Q85: weighted single-source shortest paths
  // ----------------------------------------------------------------

  /** Relaxation rounds for q85 — fixed (not until-convergence) so the
    * operator stays a pure function of the input and the oracle can
    * replay it as unrolled CTEs (the q66/q78 discipline); the spec
    * pins convergence within budget (rounds == rounds+1) at the
    * oracle SFs. Weighted paths need more rounds than q78's hop
    * radius 4: a cheap multi-hop detour beats an expensive direct
    * edge, so the optimal path can have more edges than the hop
    * eccentricity. */
  val SsspRounds = 8

  /** Q85: weighted single-source SHORTEST PATHS from the ego seed part
    * (no rows when the graph is empty) — q78's hop-count reach
    * upgraded to edge COSTS. An edge between parts co-purchased in n
    * baskets costs `greatest(1, 1000 div n)` (tighter assortment
    * link = cheaper hop), so the table answers "how strongly is this
    * part CHAINED to the seed through the assortment", not just "how
    * many hops away": a part two strong links out ranks closer than
    * one weak link out.
    *
    * Algorithm: frontier Bellman–Ford. Each round relaxes ONLY edges
    * out of nodes whose distance improved last round — relaxing an
    * unchanged node re-proposes a candidate already applied the round
    * after it last changed, and distances never increase, so the
    * frontier cut is output-equivalent to the full relaxation the
    * oracle replays. Costs are exact BIGINTs: addition-order-
    * independent, cross-engine bit-exact with NO quantization step at
    * all (the q53 fixed-point discipline at its simplest).
    *
    * Shape at scale: one equi-join on the frontier key + one
    * node-keyed min-aggregate (map-side partials) + one full-outer
    * merge per round; every intermediate is bounded by the improved
    * set's out-edge count, so total work is O(E · avg label
    * settlings), the textbook frontier-BF bound. Loop state goes
    * through `checkpointFresh`, because the merge joins two
    * descendants of the same checkpointed state — exactly the
    * inherited-stats compounding q84 uncovered (§6.14). Early exit
    * when the frontier empties is result-identical (remaining rounds
    * are the identity). */
  def q85Sssp(s: SparkSession, dir: String,
      rounds: Int = SsspRounds): DataFrame = {
    import s.implicits._
    val out =
      if (rounds == SsspRounds) graft.Caches.memo("q85_sssp", dir)(_ =>
        q85Compute(s, dir, rounds))
      else q85Compute(s, dir, rounds)
    out.orderBy($"l_partkey")
  }

  private def q85Compute(s: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    import s.implicits._
    // LOCAL ENDGAME (round 15): below the shared 2²² gate the frontier
    // Bellman–Ford replays driver-side — same ego seed (deg desc, key
    // asc), same exact-Long costs, same early exit
    // (GraphLocal.ssspTable; OptR15Spec pins parity). The pair BUILD
    // stays distributed at every SF.
    GraphLocal.halfPairsUnderGate(s, dir) match {
      case Some(half) =>
        return GraphLocal.ssspTable(s, half, rounds)
          .select($"node".as("l_partkey"), $"dist")
      case None =>
    }
    graft.Caches.scoped { sc =>
      val edges = sc.keep(copurchaseEdges(s, dir)
        .select($"src", $"dst", greatest(lit(1L), expr("1000 div n_orders")).as("w")))
      egoSeed(edges) match {
        case None => Seq.empty[(Long, Long)].toDF("l_partkey", "dist")
        case Some(seed) => ssspFrom(edges, seed, rounds)
          .select($"node".as("l_partkey"), $"dist")
      }
    }
  }

  /** q85's engine over a weighted symmetric edge list (src, dst, w):
    * returns (node, dist) after `rounds` relaxations from `seed`.
    * Separated so specs can drive constructed graphs (cheap-detour
    * cases where weighted order differs from hop order). */
  private[graft] def ssspFrom(edges: DataFrame, seed: Long,
      rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var dist = Seq((seed, 0L)).toDF("node", "dist").checkpointFresh
    var frontier = dist
    var frontierCnt = 1L
    var r = 0
    withLoopWidth(s, edges.count()) {
    while (r < rounds && frontierCnt > 0) {
      val relax = frontier.join(edges, $"node" === $"src")
        .select($"dst".as("node"), ($"dist" + $"w").as("cand"))
        .groupBy($"node").agg(min($"cand").as("cand"))
      val merged = dist.as("o").join(relax.as("r"), Seq("node"), "full_outer")
        .select($"node",
          when($"r.cand".isNull, $"o.dist")
            .when($"o.dist".isNull, $"r.cand")
            .otherwise(least($"o.dist", $"r.cand")).as("dist"),
          ($"o.dist".isNull ||
            ($"r.cand".isNotNull && $"r.cand" < $"o.dist")).as("improved"))
        .checkpointFresh
      dist = merged.select($"node", $"dist")
      frontier = merged.filter($"improved").select($"node", $"dist")
      frontierCnt = frontier.count()
      r += 1
    }
    }
    dist
  }

  private[graft] def ssspOracleSql(rounds: Int = SsspRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_orders
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS MATERIALIZED (
           SELECT pa AS src, pb AS dst,
                  greatest(1, 1000 // n_orders) AS w FROM prs
           UNION ALL
           SELECT pb, pa, greatest(1, 1000 // n_orders) FROM prs),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         d0 AS (SELECT src AS node, CAST(0 AS BIGINT) AS dist FROM dg
                ORDER BY deg DESC, src LIMIT 1)"""
    val steps = (1 to rounds).map { h =>
      s""",
         d$h AS MATERIALIZED (
           SELECT node, min(dd) AS dist FROM (
             SELECT node, dist AS dd FROM d${h - 1}
             UNION ALL
             SELECT e.dst AS node, d.dist + e.w AS dd
             FROM e JOIN d${h - 1} d ON e.src = d.node)
           GROUP BY node)"""
    }.mkString
    base + steps + s"""
         SELECT node AS l_partkey, dist FROM d$rounds ORDER BY l_partkey"""
  }

  // ----------------------------------------------------------------
  // Q86: pivot-sampled betweenness centrality (Brandes)
  // ----------------------------------------------------------------

  /** Pivots for q86 — same top-degree/min-key rule as q82's, scalar-
    * derivable in both engines. */
  val BetweennessSeeds = 8

  /** Q86: BETWEENNESS centrality estimated from `BetweennessSeeds`
    * deterministic pivots (Brandes 2001's dependency accumulation;
    * Brandes & Pich 2007 for the pivot-sampled estimator), radius-
    * truncated at `ReachRadius` like q82 — the "bridge" centrality
    * that completes the family: degree (local), PageRank (flow),
    * harmonic (distance), core (density), betweenness (brokerage).
    *
    * Forward: one multi-pivot frontier BFS (rows carry their pivot id,
    * the q82 shape) that also accumulates σ — the NUMBER of shortest
    * paths — as a sum over predecessor frontiers (exact BIGINTs).
    * Backward: Brandes' recurrence δ(u) = Σ_{v ∈ succ(u)}
    * σ(u)·(1+δ(v))/σ(v), processed level-by-level downward in integer
    * MICRO-UNITS with a per-term floor (the q80 per-edge-floor
    * discipline): term = σ(u)·(Scale+δ(v)) div σ(v) — deterministic,
    * addition-order-independent, replayable by the oracle's unrolled
    * CTEs. Radius truncation is part of the estimator both engines
    * replay (only dependencies of targets within the ball count).
    *
    * Shape at scale: forward = R frontier joins (the q78/q82 bound —
    * each edge visited once per pivot ball); backward = R level-keyed
    * joins, each bounded by the level's out-edge count; everything
    * hashes on (pivot, node) pair keys, state through
    * `checkpointFresh`. Integer headroom (§8b.4, closed): σ and the
    * backward product run in DECIMAL(38,0) — no silent Long wrap at
    * any density — and the forward pass guards max σ ≤ `SigmaGuard`
    * (1e15), RAISING with the escalation named (per-level σ
    * renormalization) where even decimal headroom thins. */
  def q86Betweenness(s: SparkSession, dir: String,
      nSeeds: Int = BetweennessSeeds, radius: Int = ReachRadius): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q86_betweenness", dir) { _ =>
      // LOCAL ENDGAME (round 15, VERDICT item 3): below the 2²² gate
      // the R-level forward/backward loop replays driver-side with
      // the SAME integer algebra and the SAME overflow guards
      // (GraphLocal.betweennessTable; OptR15Spec pins parity). The
      // distributed kernel below runs unchanged beyond the gate and
      // stays directly spec-driven (Round8Spec constructed graphs).
      val halfOpt = GraphLocal.halfPairsUnderGate(s, dir)
      if (halfOpt.isDefined)
        GraphLocal.betweennessTable(s, halfOpt.get, nSeeds, radius)
      else graft.Caches.scoped { sc =>
        val edges = sc.keep(copurchaseEdges(s, dir))
        val bet = betweennessFrom(edges, topByDegree(edges, nSeeds), radius)
        edges.select($"src".as("node")).distinct()
          .join(bet, Seq("node"), "left")
          .select($"node".as("l_partkey"),
            coalesce($"bet_1e6", lit(0L)).as("bet_1e6"))
      }
    }.orderBy($"l_partkey")
  }

  /** σ ceiling for the backward pass (§8b.4): with σ ≤ 1e15 the
    * DECIMAL(38,0) product σ·(Scale+δ) keeps ~23 digits of headroom
    * for δ, and the forward decimal sums stay far from precision
    * loss. A graph whose truncated balls hold more than 1e15 shortest
    * paths to one node needs per-level renormalization — that regime
    * RAISES loudly (the q76 never-clamp-as-data lesson) instead of
    * wrapping or nulling. */
  val SigmaGuard = 1000000000000000L

  /** q86's engine over a symmetric edge list + pivot frame: returns
    * (node, bet_1e6). Separated so specs can drive constructed graphs
    * (bridge/barbell cases) against a local Brandes replay.
    *
    * Overflow discipline (§8b.4, closed): σ and δ stay BIGINT in the
    * hot exchanges (a full DECIMAL(38,0) state rebuild measured 2.6×
    * slower at 20×), but every Long SUM is PROVEN unwrapped by a
    * per-level guard before its values are trusted: each aggregation
    * also carries its term COUNT, and count·(trusted prior max) must
    * fit in Long — counts cannot wrap, and the prior max was itself
    * guard-verified, so a wrapped sum is caught the level it could
    * first occur. σ is additionally capped at `SigmaGuard` and the
    * guard RAISES with the escalation named (per-level σ
    * renormalization), never reporting precision-compromised
    * centralities. The one multiplication that outgrows Long first —
    * the backward σ·(Scale+δ) product — runs through DECIMAL(38,0)
    * inside the expression (projection-only, no decimal state), with
    * the integral-divide landing back in BIGINT micro-units. The
    * guard aggregates run on just-checkpointed (cached) frames — R
    * frontier-sized reduces, not extra shuffles. */
  private[graft] def betweennessFrom(edges: DataFrame, seeds: DataFrame,
      radius: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // ---- forward: BFS levels + shortest-path counts σ ----
    var settled = seeds.select($"seed", $"seed".as("node"),
      lit(0).as("lvl"), lit(1L).as("sigma")).checkpointFresh
    var frontier = settled
    val perLevel = scala.collection.mutable.ArrayBuffer(frontier)
    var sigmaMaxPrev = 1L // guard-verified max σ of the previous level
    withLoopWidth(s, edges.count()) {
    for (h <- 1 to radius) {
      val nxtFull = frontier.join(edges, $"node" === $"src")
        .select($"seed", $"dst".as("node"), $"sigma")
        .join(settled.select($"seed", $"node"), Seq("seed", "node"), "left_anti")
        .groupBy($"seed", $"node")
        .agg(sum($"sigma").as("sigma"), count(lit(1)).as("npred"))
        .select($"seed", $"node", lit(h).as("lvl"), $"sigma", $"npred")
        .checkpointFresh
      val (mxH, cntH) = nxtFull.agg(max($"sigma"), max($"npred"))
        .as[(Option[Long], Option[Long])].head()
      // each σ sum has ≤ cntH terms, each ≤ the VERIFIED prior max —
      // if that product fits in Long, no sum at this level wrapped
      require(BigInt(sigmaMaxPrev) * BigInt(cntH.getOrElse(0L)) <=
          BigInt(Long.MaxValue),
        s"q86: level-$h σ sums (≤ ${cntH.getOrElse(0L)} terms × ≤ $sigmaMaxPrev) " +
          "could exceed Long — per-level σ renormalization required (SigmaGuard regime)")
      require(mxH.getOrElse(0L) <= SigmaGuard,
        s"q86: max shortest-path count ${mxH.getOrElse(0L)} exceeds " +
          s"SigmaGuard=$SigmaGuard — per-level σ renormalization required; " +
          "refusing to report precision-compromised centralities")
      sigmaMaxPrev = math.max(mxH.getOrElse(1L), 1L)
      val nxt = nxtFull.select($"seed", $"node", $"lvl", $"sigma")
      settled = settled.unionAll(nxt).checkpointFresh
      frontier = nxt
      perLevel += nxt
    }
    // ---- backward: Brandes dependency accumulation, level-by-level ----
    // δ(u at lvl h) = Σ over successors v at lvl h+1 of
    //   floor(σ(u)·(Scale + δ(v)) div σ(v)); δ(lvl = radius) = 0.
    var deltaNext = perLevel(radius)
      .select($"seed", $"node", $"sigma", lit(0L).as("delta"))
    val deltas = scala.collection.mutable.ArrayBuffer(
      deltaNext.select($"seed", $"node", $"delta"))
    var deltaMaxPrev = 0L // guard-verified max δ of the level below
    var deltaMaxAll = 0L  // guard-verified max δ across all levels
    for (h <- (radius - 1) to 1 by -1) {
      val terms = perLevel(h).as("u")
        .join(edges, $"u.node" === $"src")
        .join(deltaNext.as("v"),
          $"u.seed" === $"v.seed" && $"dst" === $"v.node")
        .select($"u.seed".as("seed"), $"u.node".as("node"),
          // the product σ·(Scale+δ) is the first thing to outgrow
          // Long — route it through DECIMAL(38,0) in the projection
          // (σ ≤ 1e15 guard leaves ~23 digits for Scale+δ); the
          // integral-divide lands back in BIGINT
          expr(s"CAST(CAST(u.sigma AS DECIMAL(38,0)) * ($Scale + v.delta)" +
            s" div v.sigma AS BIGINT)").as("term"))
        .groupBy($"seed", $"node")
        .agg(sum($"term").as("dsum"), count(lit(1)).as("nterm"))
      val dh = perLevel(h)
        .join(terms, Seq("seed", "node"), "left")
        .select($"seed", $"node", $"sigma",
          coalesce($"dsum", lit(0L)).as("delta"),
          coalesce($"nterm", lit(0L)).as("nterm"))
        .checkpointFresh
      // no-wrap proof for the δ sums: each term ≤ (σu/σv)·(Scale+δv)
      // ≤ Scale + verified-prior-max-δ, and counts cannot wrap
      val (dMax, tMax) = dh.agg(max($"delta"), max($"nterm"))
        .as[(Option[Long], Option[Long])].head()
      require(BigInt(Scale + deltaMaxPrev) * BigInt(tMax.getOrElse(0L)) <=
          BigInt(Long.MaxValue),
        s"q86: level-$h δ sums (≤ ${tMax.getOrElse(0L)} terms × ≤ " +
          s"${Scale + deltaMaxPrev}) could exceed Long — δ needs DECIMAL(38) " +
          "state at this density; refusing to report wrapped centralities")
      deltaMaxPrev = math.max(dMax.getOrElse(0L), 0L)
      deltaMaxAll = math.max(deltaMaxAll, deltaMaxPrev)
      deltas += dh.select($"seed", $"node", $"delta")
      deltaNext = dh
    }
    // pivots themselves (lvl 0) are excluded — Brandes sums δ over
    // non-source nodes; a pivot still collects δ from OTHER pivots'
    // walks through its lvl ≥ 1 appearances. The final per-node sum
    // has ≤ |pivots| terms (one level per node per seed), each ≤ the
    // verified max δ — prove it unwrapped too.
    val nSeeds = seeds.count()
    require(BigInt(deltaMaxAll) * BigInt(nSeeds) <= BigInt(Long.MaxValue),
      s"q86: pivot-sum of δ (≤ $nSeeds × $deltaMaxAll) could exceed Long")
    deltas.reduce(_ unionAll _)
      .groupBy($"node").agg(sum($"delta").as("bet_1e6"))
    }
  }

  // ----------------------------------------------------------------
  // Q88: diameter lower bound by double-sweep BFS
  // ----------------------------------------------------------------

  /** BFS budget for q88 — sized far past any observed eccentricity
    * (measured graph eccentricities ≤ 8 at every SF); the spec pins
    * budget-invariance (rounds == rounds+1), so the unrolled oracle's
    * tail CTEs are the identity. */
  val DiameterRounds = 12

  private val diameterCols = Seq("seed", "ecc_seed", "far_node", "diameter_lb")

  /** Q88: graph DIAMETER lower bound by the double-sweep heuristic
    * (Magnien, Latapy & Habib 2009; the iFUB seed step): BFS from the
    * top-degree seed, take the FARTHEST node (max hops, min key —
    * deterministic), BFS again from there; the second eccentricity is
    * a diameter lower bound, EXACT on trees and empirically tight on
    * real-world graphs. One row out: seed, its eccentricity, the far
    * node, and the double-sweep bound — the "how wide is this graph"
    * dashboard number next to q73's component table. A graph with no
    * edge at the threshold gives one all-NULL row, as the oracle does.
    *
    * Shape at scale: two single-seed `bfsHops` sweeps; the argmax is
    * aggregate-only (max(struct(hops, −node))). */
  def q88Diameter(s: SparkSession, dir: String,
      rounds: Int = DiameterRounds): DataFrame = {
    import s.implicits._
    def compute = {
      // LOCAL ENDGAME (round 15, VERDICT item 3): both sweeps replay
      // driver-side below the 2²² gate (104 jobs → 2 at sf0.1); the
      // local seed is the same (deg desc, key asc) argmax egoSeed
      // computes. OptR15Spec pins local == forced-distributed.
      val halfOpt = GraphLocal.halfPairsUnderGate(s, dir)
      if (halfOpt.isDefined)
        GraphLocal.diameterTable(s, halfOpt.get, rounds)
      else graft.Caches.scoped { sc =>
      val edges = sc.keep(copurchaseEdges(s, dir))
      egoSeed(edges) match {
        case Some(seed) =>
          val d1 = bfsHops(edges, Seq(seed).toDF("seed"), rounds)
          val (eccSeed, far) = d1
            .agg(max(struct($"hops", (-$"node").as("neg"))).as("m"))
            .select($"m.hops", -$"m.neg").as[(Int, Long)].head()
          val d2 = bfsHops(edges, Seq(far).toDF("seed"), rounds)
          val eccFar = d2.agg(max($"hops")).as[Int].head()
          Seq((seed, eccSeed, far, eccFar)).toDF(diameterCols: _*)
        case None => // no seed: the oracle's scalar subqueries are NULL
          Seq[(Option[Long], Option[Int], Option[Long], Option[Int])](
            (None, None, None, None)).toDF(diameterCols: _*)
      }
      }
    }
    if (rounds == DiameterRounds)
      graft.Caches.memo("q88_diameter", dir)(_ => compute)
    else compute
  }

  // ----------------------------------------------------------------
  // Q98: k-truss decomposition (fixed k)
  // ----------------------------------------------------------------

  /** Truss level for q98: every surviving edge sits in ≥ k−2
    * triangles OF THE SURVIVING SUBGRAPH. k = 3 (the triangle
    * backbone) is the registered gate level — the sf0.01 co-purchase
    * graph carries only 2 edges of support ≥ 2, so a k = 4 gate
    * entry would be vacuous there (the mm5 lesson: no zero-row
    * gates); the constructed-graph spec drives k = 4 semantics
    * (clique survives, pendant triangle peels) through the same
    * kernel. */
  val TrussK = 3

  /** Peel-round budget for q98 — support-peeling shrinks
    * monotonically and most mass drops in round 1 (measured at k=3:
    * 3445 → 181 edges at sf0.01, then stable — every triangle's
    * three edges keep support ≥ 1 once non-triangle edges are gone);
    * the rounds+1 spec pins budget invariance so the oracle's
    * unrolled tail CTEs are the identity. */
  val TrussRounds = 5

  /** Q98: K-TRUSS of the co-purchase graph (Cohen 2008) — the EDGE
    * cohesion analog completing q66's k-core and q54's census: an
    * edge survives iff it participates in ≥ k−2 triangles among
    * surviving edges, so the 4-truss keeps exactly the
    * triangle-dense "strongly co-sold" backbone that degree-based
    * cores overcount (a hub's spokes have high degree but no
    * closure). Iterative support peeling to the fixed point: each
    * round enumerates triangles ONCE under the q54 total-order
    * orientation (x<y<z via two joins + a semi-join close — fan-out
    * Σ C(deg⁺,2), the power-law-safe bound), credits each triangle
    * to its three edges, and semi-joins out edges below k−2. All
    * integer counts — the oracle unrolls the rounds and replays the
    * identical peeling.
    *
    * Shape at scale: round 1 bears q54's full wedge bound; every
    * later round runs on the (much smaller) surviving subgraph —
    * measured: the sf0.01 graph drops from 2.5k to 1.2k edges in
    * round 1 and is stable by round 2. Loop state self-joins 3× per
    * round → `checkpointFresh` (the q84 stats-blowup lesson), wire is
    * edge-keyed pairs only. */
  def q98Ktruss(s: SparkSession, dir: String, k: Int = TrussK,
      rounds: Int = TrussRounds): DataFrame = {
    import s.implicits._
    def compute = {
      val e0 = copurchaseHalf(s, dir).select($"pa", $"pb")
      val e = trussPeel(e0, k, rounds, math.max(rounds, 1024))
      // final support measured IN the settled subgraph (≥ k−2 by the
      // fixed point; the coalesce mirrors the oracle's left join)
      e.join(edgeSupport(e), Seq("pa", "pb"), "left")
        .select($"pa", $"pb", coalesce($"support", lit(0L)).as("support"))
    }
    (if (k == TrussK && rounds == TrussRounds)
      graft.Caches.memo("q98_ktruss", dir)(_ => compute)
    else compute).orderBy($"pa", $"pb")
  }

  /** The support-peel loop, run to its FIXED POINT: each round keeps
    * edges with support ≥ k−2 in the current subgraph; a round that
    * removes nothing is the identity, so the loop early-exits there
    * (result-identical to any larger blind unroll — the q76/q66
    * discipline). `rounds` is the ORACLE's unroll budget: settling
    * within it keeps Spark ≡ oracle; needing more trips the LOUD
    * escalation note (the result is then the true truss and the
    * budget-bounded oracle must be re-unrolled — never report a
    * budget artifact as the k-truss, the q76 silent-clamp lesson).
    * `ceiling` is the runaway guard: hitting it still unsettled
    * RAISES instead of returning a non-truss. */
  private[graft] def trussPeel(e0: DataFrame, k: Int, rounds: Int,
      ceiling: Int): DataFrame = {
    import e0.sparkSession.implicits._
    var e = e0.checkpointFresh
    var prev = e.count()
    var settled = prev == 0L
    var r = 0
    // width sized to the wedge fan-out Σ C(deg⁺,2), not the edge
    // count: round 1's triangle enumeration is the dominant cost and
    // its rows outnumber edges by the orientation bound
    withLoopWidth(e.sparkSession, prev * 8) {
    while (r < ceiling && !settled) {
      val keep = edgeSupport(e).filter($"support" >= k - 2)
        .select($"pa", $"pb")
      e = e.join(keep, Seq("pa", "pb"), "left_semi").checkpointFresh
      val cnt = e.count()
      settled = cnt == prev
      prev = cnt
      r += 1
    }
    }
    require(settled,
      s"q98 truss peel NOT settled after ceiling=$ceiling rounds " +
        "(edges still dropping) — raise the ceiling; returning a " +
        "budget artifact as the k-truss is the q76 silent-clamp bug")
    // productive rounds = r - 1: the final round is the identity that
    // merely CONFIRMS the fixed point, and the oracle's round-`rounds`
    // unroll already equals the fixed point when rounds productive
    // rounds sufficed — warn only past that
    if (r - 1 > rounds)
      println(s"[graft] q98 truss peel needed ${r - 1} productive " +
        s"rounds > oracle budget $rounds — result is the TRUE fixed " +
        "point; re-unroll the oracle if hash-gating at this scale")
    e
  }

  /** Thinning probability (per mille) for `q98_truss_thinned`'s
    * support screen — p = 1/2 at the gate SFs (sparse supports: the
    * screen must not starve; recall measured by the spec). The 20×
    * recall/time-vs-p curve (SURVEY §6.15) sets the scale
    * expectations: lower p buys 2–8× wall-clock at sharply falling
    * recall — backbone extraction, not truss recovery. */
  val TrussThinP1000 = 500L

  /** Q98's production-scale twin: DOULION-style THINNED SUPPORT
    * SCREEN (Tsourakakis KDD'09, q70's seeded-coin machinery) ahead
    * of the exact peel. The exact path's asymptote is round 1 — the
    * full wedge fan-out over the un-peeled graph (93.8 s at 20×, the
    * one documented exact-path ceiling without a shipped twin until
    * now). The screen replaces round 1's exact support with an
    * UNBIASED estimate from the thinned graph:
    *
    *   - edges keep a deterministic seeded coin at probability p
    *     (canonical-pair xxhash64 — rerun-identical, q70);
    *   - wedges enumerate at EVERY node of the thinned SYMMETRIC
    *     adjacency (cost p²·Σ C(deg,2) — the full-degree wedge bound
    *     contracted p² SCAN-SIDE, which also tames hubs: a degree-D
    *     hub's wedge cost falls D²→(pD)²), and close against the
    *     FULL edge set — so each triangle through edge (a,b) is seen
    *     exactly once via the wedge at its third node, and the count
    *     never involves (a,b)'s own coin: est = cnt/p² is unbiased
    *     for EVERY edge, not just surviving ones;
    *   - the screen drops edges with est < k−2 (exact integer
    *     compare: cnt·10⁶ < (k−2)·p1000²), then the EXACT peel runs
    *     to its fixed point on the survivors — cheap, the screen
    *     already removed the non-backbone mass.
    *
    * p = 1 makes the screen the exact round 1 (cnt = true support),
    * so the whole entry degenerates to q98 bit-for-bit — the spec
    * pins it. The trade is RECALL, and the round-10 20× measurements
    * (§6.15) bound it honestly: an edge with support s survives the
    * screen w.p. ≥ 1−(1−p²)^s, but the exact peel then CASCADES
    * marginal losses (a dropped edge lowers its triangles' other two
    * edges), so recall is poor wherever truss edges sit NEAR the
    * support threshold — measured 0.665/0.278/0.108 at p=0.5/0.3/0.2
    * for k=3 (abundant support-1 edges), and 0.068 at p=0.5 for k=10
    * (marginal surplus unravels). The screen's honest use is
    * HIGH-SUPPORT BACKBONE extraction at aggressive p (2–8× faster,
    * keeps the heavy core, precision structural: output ⊆ exact
    * truss), NOT full-truss recovery. Seeded coin → rows-only by
    * design. The recall-vs-p ORDER and the precision contract are
    * SUITE-PINNED on a mid-size mixed-support graph (Round11Spec:
    * 17.4k edges across K3/K4/K6/K10 components, measured
    * 0.029/0.339/0.690 at p=0.1/0.3/0.5 — the same shape as the 20×
    * probe's 0.108/0.278/0.665), so the probe table can't silently
    * rot. */
  def q98TrussThinned(s: SparkSession, dir: String, k: Int = TrussK,
      p1000: Long = TrussThinP1000): DataFrame = {
    import s.implicits._
    def compute = {
      val e0 = copurchaseHalf(s, dir).select($"pa", $"pb")
      val screened = thinnedSupport(e0, p1000)
        .filter($"cnt" * 1000000L >= lit((k - 2).toLong) * p1000 * p1000)
        .select($"pa", $"pb")
      val e = trussPeel(screened, k, TrussRounds, 1024)
      e.join(edgeSupport(e), Seq("pa", "pb"), "left")
        .select($"pa", $"pb", coalesce($"support", lit(0L)).as("support"))
    }
    (if (k == TrussK && p1000 == TrussThinP1000)
      graft.Caches.memo("q98_truss_thinned", dir)(_ => compute)
    else compute).orderBy($"pa", $"pb")
  }

  /** Per-edge THINNED triangle support: for every canonical (pa<pb)
    * edge of `e`, the count of third nodes w whose BOTH spokes
    * (w,pa), (w,pb) survive the seeded coin. Wedges pair thinned
    * neighbors at every center node (a<b orders the pair, so the
    * wedge (w; a, b) is canonical) and close against the full edge
    * set — each triangle contributes to each of its 3 edges exactly
    * once, via the wedge centered at the edge's third node. The
    * edge's OWN coin never participates: cnt/p² is unbiased for all
    * of `e`. */
  private[graft] def thinnedSupport(e: DataFrame, p1000: Long): DataFrame = {
    import e.sparkSession.implicits._
    val thin = e.filter(
      pmod(xxhash64(lit(7L), $"pa", $"pb"), lit(1000L)) < p1000)
    val adj = thin.select($"pa".as("w"), $"pb".as("n"))
      .unionAll(thin.select($"pb".as("w"), $"pa".as("n")))
    val wedgeCnt = adj.as("x").join(adj.as("y"),
        $"x.w" === $"y.w" && $"x.n" < $"y.n")
      .groupBy($"x.n".as("pa"), $"y.n".as("pb"))
      .agg(count(lit(1)).as("cnt"))
    e.join(wedgeCnt, Seq("pa", "pb"), "left")
      .select($"pa", $"pb", coalesce($"cnt", lit(0L)).as("cnt"))
  }

  /** Per-edge triangle support over an oriented (pa < pb) edge list:
    * q54's oriented enumeration, each triangle credited to its three
    * edges. */
  private[graft] def edgeSupport(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val t = e.as("e1").join(e.as("e2"),
        $"e1.pa" === $"e2.pa" && $"e1.pb" < $"e2.pb")
      .select($"e1.pa".as("x"), $"e1.pb".as("y"), $"e2.pb".as("z"))
      .join(e.select($"pa".as("y"), $"pb".as("z")), Seq("y", "z"),
        "left_semi")
    t.select($"x".as("pa"), $"y".as("pb"))
      .unionAll(t.select($"x".as("pa"), $"z".as("pb")))
      .unionAll(t.select($"y".as("pa"), $"z".as("pb")))
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("support"))
  }

  private[graft] def ktrussOracleSql(k: Int = TrussK,
      rounds: Int = TrussRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS MATERIALIZED (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)"""
    def supportOver(i: Int, src: String) = s"""
         t$i AS MATERIALIZED (
           SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
           FROM $src e1 JOIN $src e2
             ON e1.pa = e2.pa AND e1.pb < e2.pb
           WHERE EXISTS (SELECT 1 FROM $src e3
             WHERE e3.pa = e1.pb AND e3.pb = e2.pb)),
         s$i AS MATERIALIZED (
           SELECT pa, pb, count(*) AS sup FROM (
             SELECT x AS pa, y AS pb FROM t$i
             UNION ALL SELECT x AS pa, z AS pb FROM t$i
             UNION ALL SELECT y AS pa, z AS pb FROM t$i)
           GROUP BY 1, 2)"""
    val steps = (1 to rounds).map { i =>
      supportOver(i, s"e${i - 1}") + s""",
         e$i AS MATERIALIZED (
           SELECT e.pa, e.pb FROM e${i - 1} e
           JOIN s$i s ON s.pa = e.pa AND s.pb = e.pb
           WHERE s.sup >= ${k - 2})"""
    }.map("," + _.drop(1)).mkString
    base + steps + "," + supportOver(rounds + 1, s"e$rounds").drop(1) + s"""
         SELECT e.pa, e.pb, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
         FROM e$rounds e LEFT JOIN s${rounds + 1} s
           ON s.pa = e.pa AND s.pb = e.pb
         ORDER BY e.pa, e.pb"""
  }

  // ----------------------------------------------------------------
  // Q97: HyperANF neighborhood function / effective diameter
  // ----------------------------------------------------------------

  /** Round budget for q97 — past every observed eccentricity (q88's
    * convention); the loop additionally early-exits the round after
    * the estimated totals stop growing. */
  val AnfRounds = 12

  /** lgConfigK for q97's per-node HLL sketches: 2^10 = 1024 registers
    * → ~3.25% relative standard error, 1 KB/node of loop state. */
  val AnfLgK = 10

  /** Q97: the NEIGHBORHOOD FUNCTION N(t) = #(u,v) pairs within t hops
    * and the EFFECTIVE DIAMETER (min t with N(t) ≥ 90% of N(∞)) by
    * HyperANF (Boldi, Rosa & Vigna WWW'11) — THE big-graph distance
    * tool: exact N(t) needs all-pairs BFS (quadratic), HyperANF keeps
    * one HLL counter per node and folds each round's neighbor union
    * as a register-wise max, so a 12-round run costs 12 edge-keyed
    * joins. q88's double sweep bounds the LONGEST distance; this
    * estimates the whole distance DISTRIBUTION (median/90th-pct
    * reach, the "six degrees" curve).
    *
    * Mechanics: state(v) = HLL sketch of the ball around v —
    * initialized to {v} (`hll_sketch_agg` over the 1-row group), one
    * round = edge join pushing sketches to neighbors + `hll_union_agg`
    * with the node's own sketch (register-max is commutative/
    * idempotent — union order cannot change a register, which is why
    * the datasketches binary is a safe shuffle payload). N(t) reads
    * as one sum of `hll_sketch_estimate` per round on the
    * just-checkpointed state (cached reduce, the q86 guard pattern).
    *
    * Estimates are DataSketches-internal (not SQL-replicable) →
    * rows-only; the spec pins the estimator against the EXACT local
    * neighborhood function at sf0.001 (±3σ-class tolerance), plus
    * analytic path-graph N(t), monotonicity, and the eff-diam rule.
    *
    * Shape at scale: loop state is nodes × 1 KB; each round is ONE
    * shuffle keyed on dst (edge-sized wire carrying fixed-width
    * sketches — the t15/q72 fixed-buffer discipline applied to a
    * graph loop); no driver-bound path (the per-round totals are 12
    * scalars). */
  def q97Anf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q97_anf", dir) { _ =>
      // NOT locally gated (round 15, recorded negative result): a
      // DataSketches HLL union's estimate is FOLD-STRUCTURE- and
      // ORDER-sensitive (GraphLocalSpec: flat=592, two-level=585,
      // reversed=586 for the same 600 singletons), so no driver replay
      // can be bit-identical to the distributed partial-agg tree —
      // the q86/q88/q94 local-endgame bar is unattainable here. The
      // loop instead sheds one job per round (the observe-metric
      // total, see anfLoop).
      graft.Caches.scoped { sc =>
        anfFrom(sc.keep(copurchaseEdges(s, dir)), AnfRounds, AnfLgK)
      }
    }.orderBy($"hop")
  }

  /** q97's engine over a symmetric edge list: per-hop estimated
    * reachable-pair totals + the effective-diameter column. Separated
    * so specs can drive constructed graphs (path, clique) and the
    * exact-BFS comparison. */
  private[graft] def anfFrom(edges: DataFrame, rounds: Int,
      lgK: Int): DataFrame = {
    val s = edges.sparkSession
    val (_, totals) = anfLoop(edges, rounds, lgK)
    anfFinish(s, totals)
  }

  /** The driver-side tail shared by the distributed loop and the
    * round-15 local replay: per-hop percentages in BigInt (pair counts
    * at web scale outgrow Long×1e6 products) + the effective-diameter
    * rule. */
  private[graft] def anfFinish(s: SparkSession, totals: Seq[Long]): DataFrame = {
    import s.implicits._
    val fin = totals.last
    val effDiam = totals.indexWhere(n => BigInt(n) * 10 >= BigInt(fin) * 9)
    totals.zipWithIndex.map { case (n, hop) =>
      (hop, n,
        if (fin == 0) 0L else (BigInt(n) * 1000000 / BigInt(fin)).toLong,
        effDiam)
    }.toDF("hop", "est_pairs", "pct_1e6", "eff_diam_90")
  }

  /** The ANF sketch loop itself, returning the FINAL per-node state
    * alongside the per-hop totals — separated so the lgK wire/error
    * accounting (Round10Spec) can measure the serialized
    * sketch sizes the per-round shuffle actually carries. */
  private[graft] def anfLoop(edges: DataFrame, rounds: Int,
      lgK: Int): (DataFrame, Seq[Long]) = {
    val s = edges.sparkSession
    import s.implicits._
    // round 15: each round's estimated total rides the checkpoint
    // materialization as an OBSERVED metric (the connectedComponents
    // one-job-per-round discipline) instead of a separate agg job on
    // the just-checkpointed state — same bytes estimated, same totals,
    // one driver barrier per round instead of two (OptR15Spec pins the
    // observed total == the post-hoc aggregate).
    var obsN = 0
    def ckTotal(df: DataFrame): (DataFrame, Long) = {
      obsN += 1
      val obs = org.apache.spark.sql.Observation(s"q97_total_$obsN")
      val ck = df
        .observe(obs, sum(expr("hll_sketch_estimate(sk)")).as("total"))
        .checkpointFresh
      (ck, Option(obs.get("total")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    var (state, t0) = ckTotal(edges.select($"src".as("node")).distinct()
      .groupBy($"node").agg(expr(s"hll_sketch_agg(node, $lgK)").as("sk")))
    val totals = scala.collection.mutable.ArrayBuffer(t0) // N(0)
    var t = 1
    var grew = true
    withLoopWidth(s, edges.count()) {
    while (t <= rounds && grew) {
      val nbr = edges.join(state, $"src" === $"node")
        .select($"dst".as("node"), $"sk")
      val (st2, nt) = ckTotal(state.unionAll(nbr)
        .groupBy($"node").agg(expr("hll_union_agg(sk, true)").as("sk")))
      state = st2
      grew = nt > totals.last
      totals += nt
      t += 1
    }
    }
    (state, totals.toSeq)
  }

  private[graft] def diameterOracleSql(rounds: Int = DiameterRounds): String = {
    val base = """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         f0 AS (SELECT src AS node, 0 AS hops FROM dg
                ORDER BY deg DESC, src LIMIT 1),
         d0 AS (SELECT node, hops FROM f0)"""
    val sweep1 = (1 to rounds).map { h =>
      s""",
         f$h AS MATERIALIZED (SELECT DISTINCT e.dst AS node, $h AS hops
                FROM e JOIN f${h - 1} f ON e.src = f.node
                WHERE NOT EXISTS (SELECT 1 FROM d${h - 1} d
                  WHERE d.node = e.dst)),
         d$h AS MATERIALIZED (SELECT node, hops FROM d${h - 1}
                 UNION ALL SELECT node, hops FROM f$h)"""
    }.mkString
    val mid = s""",
         far AS (SELECT node FROM d$rounds ORDER BY hops DESC, node LIMIT 1),
         g0 AS (SELECT node, 0 AS hops FROM far),
         x0 AS (SELECT node, hops FROM g0)"""
    val sweep2 = (1 to rounds).map { h =>
      s""",
         g$h AS MATERIALIZED (SELECT DISTINCT e.dst AS node, $h AS hops
                FROM e JOIN g${h - 1} g ON e.src = g.node
                WHERE NOT EXISTS (SELECT 1 FROM x${h - 1} x
                  WHERE x.node = e.dst)),
         x$h AS MATERIALIZED (SELECT node, hops FROM x${h - 1}
                 UNION ALL SELECT node, hops FROM g$h)"""
    }.mkString
    base + sweep1 + mid + sweep2 + s"""
         SELECT (SELECT node FROM f0) AS seed,
                (SELECT max(hops) FROM d$rounds) AS ecc_seed,
                (SELECT node FROM far) AS far_node,
                (SELECT max(hops) FROM x$rounds) AS diameter_lb"""
  }

  private[graft] def betweennessOracleSql(nSeeds: Int = BetweennessSeeds,
      radius: Int = ReachRadius): String = {
    val base = s"""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         f0 AS (SELECT src AS seed, src AS node, 0 AS lvl,
                       CAST(1 AS BIGINT) AS sigma FROM dg
                ORDER BY deg DESC, src LIMIT $nSeeds),
         d0 AS (SELECT seed, node FROM f0)"""
    val fwd = (1 to radius).map { h =>
      s""",
         f$h AS MATERIALIZED (
           SELECT f.seed, e.dst AS node, $h AS lvl,
                  CAST(sum(f.sigma) AS BIGINT) AS sigma
           FROM e JOIN f${h - 1} f ON e.src = f.node
           WHERE NOT EXISTS (SELECT 1 FROM d${h - 1} d
             WHERE d.seed = f.seed AND d.node = e.dst)
           GROUP BY 1, 2),
         d$h AS MATERIALIZED (SELECT seed, node FROM d${h - 1}
                 UNION ALL SELECT seed, node FROM f$h)"""
    }.mkString
    val bInit = s""",
         b$radius AS (SELECT seed, node, sigma,
                      CAST(0 AS BIGINT) AS delta FROM f$radius)"""
    val bwd = ((radius - 1) to 1 by -1).map { h =>
      s""",
         b$h AS MATERIALIZED (
           SELECT f.seed, f.node, f.sigma,
             CAST(coalesce(sum((f.sigma * ($Scale + b.delta)) // b.sigma), 0)
                  AS BIGINT) AS delta
           FROM f$h f
           LEFT JOIN e ON e.src = f.node
           LEFT JOIN b${h + 1} b ON b.seed = f.seed AND b.node = e.dst
           GROUP BY f.seed, f.node, f.sigma)"""
    }.mkString
    val allb = (1 to radius)
      .map(h => s"SELECT seed, node, delta FROM b$h").mkString("\n           UNION ALL ")
    base + fwd + bInit + bwd + s""",
         allb AS ($allb)
         SELECT dg.src AS l_partkey,
           CAST(coalesce(c.bet, 0) AS BIGINT) AS bet_1e6
         FROM dg LEFT JOIN (
           SELECT node, sum(delta) AS bet FROM allb GROUP BY 1) c
           ON c.node = dg.src
         ORDER BY l_partkey"""
  }

  // ----------------------------------------------------------------
  // Q94: attack robustness
  // ----------------------------------------------------------------

  /** Hubs removed by q94 — top-degree, min-key ties. */
  val RobustnessHubs = 10

  /** Q94: attack ROBUSTNESS of the co-purchase graph (Albert, Jeong &
    * Barabási 2000's "error and attack tolerance"): remove the top-10
    * degree hubs and measure how much of the largest connected
    * component survives — the one-number answer to "does this
    * catalog's connectivity hang off a few anchor products?". Output
    * one row: nodes/edges/LCC before, nodes/LCC after, and the
    * retained share (exact integer ratio, floor-quantized).
    *
    * Shape at scale: degrees are one aggregate; the hub set is a
    * K-bounded driver artifact (like pivots); both component passes
    * are the q73/d6 pointer-jumping loop (one shuffle per round,
    * state through localCheckpoint inside `connectedComponents`);
    * the removal filter is a broadcast NOT-IN over 10 keys pushed to
    * the edge scan. */
  def q94Robustness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def compute = {
      // LOCAL ENDGAME (round 15, VERDICT item 2): below the shared 2²²
      // gate both pointer-jumping component passes — and the degree/
      // hub/size bookkeeping around them — replay driver-side over the
      // collected pair list (116 driver-synchronized jobs → 2 at
      // sf0.1). The pair BUILD stays distributed at every SF; beyond
      // the gate the distributed passes below run unchanged
      // (OptR15Spec pins local == forced-distributed).
      val halfOpt = GraphLocal.halfPairsUnderGate(s, dir)
      if (halfOpt.isDefined)
        GraphLocal.robustnessTable(s, halfOpt.get, RobustnessHubs)
      else graft.Caches.scoped { sc =>
      val edges = sc.keep(copurchaseEdges(s, dir))
      val nEdges = edges.count() / 2
      val hubs = topByDegree(edges, RobustnessHubs).as[Long].collect()
      val lab1 = Dedup.connectedComponents(s, edges)
      val (n1, lcc1) = sizesOf(lab1)
      val edges2 = sc.keep(edges
        .filter(!$"src".isInCollection(hubs) && !$"dst".isInCollection(hubs)))
      val (n2, lcc2) =
        if (edges2.isEmpty) (0L, 0L) else sizesOf(Dedup.connectedComponents(s, edges2))
      Seq((n1, nEdges, lcc1, n2, lcc2, lcc2 * 10000 / lcc1))
        .toDF("n_nodes", "n_edges", "lcc_before", "n_nodes_after",
          "lcc_after", "retained_1e4")
      }
    }
    graft.Caches.memo("q94_robustness", dir)(_ => compute)
  }

  private def sizesOf(labels: DataFrame): (Long, Long) = {
    val s = labels.sparkSession
    import s.implicits._
    labels.groupBy($"group_id").agg(count(lit(1)).as("c"))
      .agg(sum($"c"), max($"c")).as[(Long, Long)].head()
  }

  private[graft] def robustnessOracleSql(hubs: Int = RobustnessHubs): String =
    s"""WITH RECURSIVE pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         hub AS (SELECT src FROM dg ORDER BY deg DESC, src LIMIT $hubs),
         e2 AS (SELECT src, dst FROM e
                WHERE src NOT IN (SELECT src FROM hub)
                  AND dst NOT IN (SELECT src FROM hub)),
         reach1(n, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT x.src, reach1.r FROM e x JOIN reach1 ON x.dst = reach1.n),
         lab1 AS (SELECT n, min(r) AS gid FROM reach1 GROUP BY 1),
         sz1 AS (SELECT count(*) AS n_nodes FROM lab1),
         l1 AS (SELECT max(c) AS lcc FROM
                 (SELECT count(*) AS c FROM lab1 GROUP BY gid)),
         reach2(n, r) AS (
           SELECT src, src FROM e2
           UNION
           SELECT x.src, reach2.r FROM e2 x JOIN reach2 ON x.dst = reach2.n),
         lab2 AS (SELECT n, min(r) AS gid FROM reach2 GROUP BY 1),
         sz2 AS (SELECT count(*) AS n_nodes FROM lab2),
         l2 AS (SELECT coalesce(max(c), 0) AS lcc FROM
                 (SELECT count(*) AS c FROM lab2 GROUP BY gid))
         SELECT sz1.n_nodes AS n_nodes,
           (SELECT count(*) FROM prs) AS n_edges,
           l1.lcc AS lcc_before,
           sz2.n_nodes AS n_nodes_after,
           l2.lcc AS lcc_after,
           (l2.lcc * 10000) // l1.lcc AS retained_1e4
         FROM sz1 CROSS JOIN l1 CROSS JOIN sz2 CROSS JOIN l2"""

  // ----------------------------------------------------------------
  // Q95: degree distribution
  // ----------------------------------------------------------------

  /** Q95: DEGREE DISTRIBUTION of the co-purchase graph — the
    * histogram + complementary CDF (share of nodes with degree ≥ d,
    * exact integer micro-units) that every "is this graph power-law"
    * conversation starts from, and the direct evidence behind q94's
    * robustness number (a heavy CCDF tail = hub-dependent). Exact
    * integers end-to-end.
    *
    * Shape at scale: one degree aggregate (map-side partial), one
    * degree-histogram aggregate — the CCDF window runs over the
    * HISTOGRAM (degree-cardinality rows, ≤ d_max — bounded artifact
    * scale), never over nodes. */
  def q95DegreeDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = copurchaseEdges(s, dir).groupBy($"src").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
    val total = hist.agg(sum($"n_nodes").as("n_total"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"deg".desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hist.crossJoin(broadcast(total))
      .withColumn("n_ge", sum($"n_nodes").over(w))
      .select($"deg", $"n_nodes",
        expr("n_ge * 1000000 div n_total").as("ccdf_1e6"))
      .orderBy($"deg")
  }

  private[graft] def degreeDistOracleSql: String =
    """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         h AS (SELECT deg, count(*) AS n_nodes FROM dg GROUP BY 1),
         t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_total FROM h)
         SELECT deg, n_nodes,
           (CAST(sum(n_nodes) OVER (ORDER BY deg DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            * 1000000) // t.n_total AS ccdf_1e6
         FROM h CROSS JOIN t ORDER BY deg"""

  // ----------------------------------------------------------------
  // Q89: degree assortativity
  // ----------------------------------------------------------------

  /** Q89: degree ASSORTATIVITY of the co-purchase graph (Newman 2002,
    * "Assortative mixing in networks") — the Pearson correlation of
    * endpoint degrees over all (symmetric) edges: do popular parts
    * co-sell with other popular parts (r > 0, assortative hubs) or
    * with the long tail (r < 0, hub-and-spoke)? The one-number
    * structural summary next to q88's width and q73's components.
    *
    * Cross-engine exactness: over SYMMETRIC edges Σx = Σy and
    * Σx² = Σy², so Pearson's denominator collapses to M·Σx² − (Σx)²
    * — NO sqrt — and r is a ratio of two exact BIGINT sufficient
    * statistics. The output carries the exact integers plus ONE
    * shared IEEE expression (floor(num/den·1e6)/1e6 — the q52-class
    * discipline: identical cast/divide/floor sequence both engines).
    * Integer headroom: M·Σxy ≤ M²·d_max² ~ 1e16 at sf0.1's graph;
    * beyond that the stats aggregate in DECIMAL(38) unchanged.
    *
    * Shape at scale: degrees are one map-side-partial aggregate over
    * the edge list; attaching deg(src)/deg(dst) is two shuffle joins
    * keyed on node (the key the degree frame is already hashed by);
    * the sufficient statistics reduce in ONE two-phase global
    * aggregate — no window, no collect, wire is O(edges) then O(1). */
  def q89Assortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assortativityStats(copurchaseEdges(s, dir))
  }

  /** The q89 kernel over an arbitrary symmetric edge list (src, dst). */
  private[graft] def assortativityStats(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    val xy = edges
      .join(deg.select($"node".as("src"), $"deg".as("x")), "src")
      .join(deg.select($"node".as("dst"), $"deg".as("y")), "dst")
    val stats = xy.agg(
      count(lit(1)).as("m_edges"),
      sum($"x").as("sum_x"),
      sum($"x" * $"y").as("sum_xy"),
      sum($"x" * $"x").as("sum_x2"))
    stats.select($"m_edges", $"sum_x", $"sum_xy", $"sum_x2",
      (floor(($"m_edges" * $"sum_xy" - $"sum_x" * $"sum_x").cast("double") /
             ($"m_edges" * $"sum_x2" - $"sum_x" * $"sum_x").cast("double")
        * 1000000) / 1000000.0).as("assortativity"))
  }

  private[graft] def assortativityOracleSql(): String =
    """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         prs AS (
           SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM pp a JOIN pp b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM prs
               UNION ALL SELECT pb, pa FROM prs),
         dg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         xy AS (SELECT dx.deg AS x, dy.deg AS y
                FROM e JOIN dg dx ON e.src = dx.node
                       JOIN dg dy ON e.dst = dy.node),
         st AS (SELECT count(*) AS m_edges, CAST(sum(x) AS BIGINT) AS sum_x,
                  CAST(sum(x * y) AS BIGINT) AS sum_xy,
                  CAST(sum(x * x) AS BIGINT) AS sum_x2 FROM xy)
         SELECT m_edges, sum_x, sum_xy, sum_x2,
           floor(CAST(m_edges * sum_xy - sum_x * sum_x AS DOUBLE) /
                 CAST(m_edges * sum_x2 - sum_x * sum_x AS DOUBLE)
             * 1000000) / 1000000.0 AS assortativity
         FROM st"""

  /** HITS iteration count — 5 mutual-reinforcement rounds, the q53
    * budget (scores are rank-stable well before; rounds+1 spec'd on
    * the TOP slate, the consumer surface). */
  val HitsIters = 5

  /** Q99: HITS hubs & authorities (Kleinberg, JACM 1999) over the
    * BIPARTITE purchase graph — customers are hubs ("whose baskets
    * point at the good stuff"), parts are authorities ("what the good
    * baskets point at"). The mutual-reinforcement pair the centrality
    * family still lacked: q53/q80 rank within ONE node population;
    * HITS ranks two populations against each other, and on a
    * customer×part graph it is the classic two-sided catalog view
    * (reference: recommender co-ranking surveys trace to this paper).
    *
    * Exactness: textbook HITS is float power iteration with L2
    * normalization — a sqrt of a SUM, addition-order-dependent and
    * cross-engine unverifiable. This entry uses MAX-normalization
    * (x' = x·Scale div max x), a known-equivalent convergence scheme
    * for HITS's ranking fixed point: sums are exact BIGINTs (Spark 4
    * ANSI throws on wrap — loud, never silent), the max is one scalar,
    * and the one product that can outgrow Long (x·Scale before the
    * div) routes through DECIMAL(38,0) in the projection only — the
    * q86 discipline. Every round is a pure function of the last, so
    * the oracle unrolls all 5 rounds and the hash gates the whole
    * trajectory.
    *
    * Shape at scale: the edge list is one distinct (cust, part)
    * projection of the order join — at 100 TB this is the already-
    * bucketed purchase fact, no self-join, no wedge fan-out (HITS is
    * LINEAR in edges where the co-purchase family pays Σ C(deg,2)).
    * Each round = two edge-keyed shuffles (auth sum on part, hub sum
    * on cust, both map-side partial) + two one-row maxes broadcast
    * back; state through `checkpointFresh` (§6.14). Output is the
    * top-20 slate per side — TakeOrdered, never a global sort. */
  def q99Hits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("part"))
      .distinct()
    hitsTop(e, HitsIters)
  }

  /** Driver-side replay of `hitsTop`'s rounds over a collected edge
    * list — EXACTLY the distributed algebra: per-side BIGINT sums,
    * one scalar max, x·Scale div max normalization (all values
    * positive, so Long `/` ≡ the decimal `div`). Overflow headroom is
    * proved by the gate: a ≤ edges·Scale ≤ 2²²·10⁶ ≈ 4.2e12 and
    * a·Scale ≈ 4.2e18 < 2⁶³ (the require below keeps a raised gate
    * honest). Top-20 slates replay the (score desc, key asc) order. */
  private def hitsLocalTop(e: DataFrame, iters: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val rows = e.select($"cust", $"part").as[(Long, Long)].collect()
    require(rows.length.toLong <= Long.MaxValue / Scale / Scale,
      s"hits local endgame: ${rows.length} edges would overflow the " +
        "Long fixed-point headroom - lower the hitsLocal gate")
    val custs = rows.map(_._1).distinct
    val parts = rows.map(_._2).distinct
    val cIdx = custs.zipWithIndex.toMap
    val pIdx = parts.zipWithIndex.toMap
    val ec = rows.map(r => cIdx(r._1))
    val ep = rows.map(r => pIdx(r._2))
    var hub = Array.fill(custs.length)(Scale)
    var auth = new Array[Long](parts.length)
    for (_ <- 1 to iters) {
      val a = new Array[Long](parts.length)
      var i = 0
      while (i < ec.length) { a(ep(i)) += hub(ec(i)); i += 1 }
      val amax = a.max
      auth = a.map(x => x * Scale / amax)
      val h = new Array[Long](custs.length)
      i = 0
      while (i < ec.length) { h(ec(i)) += auth(ep(i)); i += 1 }
      val hmax = h.max
      hub = h.map(x => x * Scale / hmax)
    }
    def top20(keys: Array[Long], scores: Array[Long]): Seq[(Long, Long)] =
      keys.indices.map(i => (keys(i), scores(i)))
        .sortBy { case (k, sc) => (-sc, k) }.take(20)
    val out = top20(parts, auth).map { case (n, sc) => ("auth", n, sc) } ++
      top20(custs, hub).map { case (n, sc) => ("hub", n, sc) }
    out.toDF("role", "node", "score")
      .orderBy($"role", $"score".desc, $"node")
  }

  /** The q99 kernel over an arbitrary bipartite (cust, part) edge
    * list — iters exposed for the rounds+1 spec, edges for the
    * constructed-graph replay spec. */
  private[graft] def hitsTop(edges: DataFrame, iters: Int): DataFrame =
    graft.Caches.scoped { sc =>
    val s = edges.sparkSession
    import s.implicits._
    val e = sc.keep(edges)
    // LOCAL endgame (round 14, the q102/Louvain fits-on-one-node
    // discipline): a graph under `gates.hitsLocal` is a ≤64 MB pair
    // collect at the default, and the max-normalized rounds over it
    // are millisecond work next to the ~12 driver-synchronized actions
    // they replace — bit-identical integer algebra (OptR14Spec pins
    // local == forced-distributed); larger graphs keep the broadcast
    // or shuffle regime below.
    val g = GraphLocal.gates
    val nEdges = e.count()
    if (nEdges > 0 && nEdges <= g.hitsLocal) hitsLocalTop(e, iters)
    else {
    val normA = "cast((cast(a as decimal(38,0)) * 1000000) div amax as bigint)"
    val normH = "cast((cast(h as decimal(38,0)) * 1000000) div hmax as bigint)"
    var hub = e.select($"cust").distinct()
      .select($"cust", lit(Scale).as("hub")).checkpointFresh
    var auth: DataFrame = null
    // NO loop-width narrowing here (round-13 bench A/B): unlike the
    // thresholded co-purchase loops, HITS iterates over the DATA-scale
    // bipartite purchase fact (~0.5M distinct (cust,part) rows at
    // sf0.1) — each iteration is genuinely parallel compute, and
    // narrowing to rows/100k partitions serialized it (median
    // 8.3 → 10.5 s measured). Width-by-edge-count models scheduling-
    // bound loops, not compute-bound ones.
    //
    // JOIN SHAPE (round-14, guide §2.4/§3.1): the per-round joins pair
    // the edge fact with a NODE-sized score frame, so shuffling the
    // fact by the join key every round is the avoidable cost — 4
    // exchanges + sorts of ~0.5M rows per round at sf0.1 (the r14
    // before-plan). Under the node gate the fact is hash-partitioned
    // ONCE per key side and cached; each round is then a broadcast
    // hash join (score frames are node-sized) whose output keeps the
    // cache's partitioning, so the per-side aggregation needs NO
    // exchange at all — a round is two scan+agg jobs over cached
    // partitioned data, zero data-scale exchanges. The algebra is
    // bit-identical (same integer sums over the same groups, any
    // partitioning), so the oracle hash is unchanged. Beyond the gate
    // the original shuffle loop runs as before. The node gate
    // (`gates.hitsBroadcast` nodes PER SIDE, ≈ 100 MB of two-long score
    // rows at the default) keeps a billion-customer graph from ever
    // collecting its rank vector.
    val nCust = hub.count()
    val nPart =
      if (nCust <= g.hitsBroadcast)
        e.select($"part").distinct().count()
      else Long.MaxValue
    val bcast = nCust <= g.hitsBroadcast && nPart <= g.hitsBroadcast
    val (eByCust, eByPart) =
      if (bcast) (sc.keep(e.repartition($"cust")), sc.keep(e.repartition($"part")))
      else (e, e)
    for (_ <- 1 to iters) {
      if (bcast) {
        val asum = (eByPart.join(broadcast(hub), "cust")
          .groupBy($"part").agg(sum($"hub").as("a"))).checkpointFresh
        auth = asum.crossJoin(broadcast(asum.agg(max($"a").as("amax"))))
          .select($"part", expr(normA).as("auth"))
        val hsum = (eByCust.join(broadcast(auth), "part")
          .groupBy($"cust").agg(sum($"auth").as("h"))).checkpointFresh
        hub = hsum.crossJoin(broadcast(hsum.agg(max($"h").as("hmax"))))
          .select($"cust", expr(normH).as("hub"))
      } else {
        val asum = e.join(hub, "cust").groupBy($"part").agg(sum($"hub").as("a"))
        auth = asum.crossJoin(broadcast(asum.agg(max($"a").as("amax"))))
          .select($"part", expr(normA).as("auth")).checkpointFresh
        val hsum = e.join(auth, "part").groupBy($"cust").agg(sum($"auth").as("h"))
        hub = hsum.crossJoin(broadcast(hsum.agg(max($"h").as("hmax"))))
          .select($"cust", expr(normH).as("hub")).checkpointFresh
      }
    }
    auth.orderBy($"auth".desc, $"part").limit(20)
      .select(lit("auth").as("role"), $"part".cast("long").as("node"),
        $"auth".as("score"))
      .unionAll(hub.orderBy($"hub".desc, $"cust").limit(20)
        .select(lit("hub").as("role"), $"cust".cast("long").as("node"),
          $"hub".as("score")))
      .orderBy($"role", $"score".desc, $"node")
    }
    }

  /** q99's oracle: the 5 max-normalized rounds unrolled (generated —
    * the q76 discipline for iteration-family oracles), every round
    * CTE MATERIALIZED — each is referenced twice (the sum feeds both
    * its normalization and its scalar max), so DuckDB's default
    * inlining expands the chain ~2^rounds and spins (the q66/s10
    * lesson, re-hit live on this oracle). DuckDB sums BIGINT into
    * HUGEINT, so the ·1e6 normalization product is wide by
    * construction there; the CAST back to BIGINT mirrors Spark's
    * decimal-projection cast. */
  private[graft] def hitsOracleSql(): String = {
    val rounds = (1 to HitsIters).map { i =>
      val (ph, pa) = (if (i == 1) "h0" else s"h${i - 1}", s"a$i")
      s"""a${i}s AS MATERIALIZED (SELECT part, sum(hub) AS a
             FROM e JOIN $ph USING (cust) GROUP BY 1),
         a$i AS MATERIALIZED (SELECT part, CAST(a * 1000000 //
                   (SELECT max(a) FROM a${i}s) AS BIGINT) AS auth FROM a${i}s),
         h${i}s AS MATERIALIZED (SELECT cust, sum(auth) AS h
             FROM e JOIN $pa USING (part) GROUP BY 1),
         h$i AS MATERIALIZED (SELECT cust, CAST(h * 1000000 //
                   (SELECT max(h) FROM h${i}s) AS BIGINT) AS hub FROM h${i}s)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         h0 AS (SELECT DISTINCT cust, CAST(1000000 AS BIGINT) AS hub FROM e),
         $rounds,
         ta AS (SELECT 'auth' AS role, part AS node, auth AS score
                FROM a$HitsIters ORDER BY auth DESC, part LIMIT 20),
         th AS (SELECT 'hub' AS role, cust AS node, hub AS score
                FROM h$HitsIters ORDER BY hub DESC, cust LIMIT 20)
         SELECT role, node, score
         FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
         ORDER BY role, score DESC, node"""
  }
}
