package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.DynamicVariable

/** LOCAL ENDGAME for the co-purchase fixed-point family (round 14) —
  * the q102/Louvain fits-on-one-node discipline generalized: the
  * THRESHOLDED co-purchase pair list is metadata-scale by construction
  * (bounded by co-purchase breadth, not corpus size — 3.5k pairs at
  * sf0.1, 2.39M at 20× sf0.1), while the loops over it were paying
  * 40–56 driver-synchronized jobs each for 5–6 rounds of integer
  * algebra. Below `MaxEdges` (2²² directed pairs ≈ 100 MB collected,
  * the Louvain bar) each loop replays driver-side with BIT-IDENTICAL
  * integer arithmetic — same sums, same truncating `div` on
  * non-negative operands, same tie-breaks — and `Math.*Exact` mirrors
  * Spark 4's loud ANSI overflow behavior. The DATA-scale operator (the
  * lineitem self-join building the pairs) stays distributed at every
  * SF; beyond the gate the distributed loops run unchanged (OptR14Spec
  * pins local == forced-distributed per entry; the sf0.01 oracle hash
  * gates the local path directly).
  */
object GraphLocal {

  /** The one driver-local endgame bar: 2²² edges ≈ 100 MB collected.
    * Every size gate (co-purchase family, Louvain phase 2, HITS local
    * and broadcast, the spectral solve) defaults to it, and nothing
    * outside the program can change it. */
  val MaxEdges: Long = 1L << 22

  /** The size gates the graph operators consult on every call. A gate
    * of 0 forces that family's distributed path; only `withGates`
    * installs anything but the defaults. */
  final case class Gates(
      graph: Long = MaxEdges,
      louvain: Long = MaxEdges,
      hitsLocal: Long = MaxEdges,
      hitsBroadcast: Long = MaxEdges)

  /** Gates forcing every gated family onto its distributed path. */
  val Distributed: Gates = Gates(0L, 0L, 0L, 0L)

  private val scoped = new DynamicVariable(Gates())

  /** The gates in force on the calling thread. */
  def gates: Gates = scoped.value

  /** Runs `body` with `g` in force on the calling thread (and threads
    * it starts); the previous gates are back when `body` returns or
    * throws. Other threads keep seeing their own gates. */
  def withGates[T](g: Gates)(body: => T): T = scoped.withValue(g)(body)

  /** Round 15: the ONE gate probe the whole local-endgame family
    * shares — a single bounded `limit(maxPairs+1).collect()` of the
    * thresholded pair list, memoized per dataset (Caches.memoObj,
    * cleared per bench sweep). Replaces the count-job + collect-job
    * pair EVERY gated entry used to pay: ~15 gated entries × 2
    * driver-synchronized jobs → 1 job per sweep. Returns None (and the
    * distributed path runs) when the graph exceeds the gate — the
    * probe then collected only the bounded prefix, never the graph —
    * or when it is empty (empty-graph behavior stays on the
    * distributed path, as before). The gate re-checks against the
    * CURRENT `gates.graph` on every call, so a `withGates` block
    * entered after a collect still routes distributed. */
  private[graft] def halfPairsUnderGate(s: SparkSession,
      dir: String): Option[Array[(Long, Long, Long)]] = {
    val gate = gates.graph
    if (gate <= 0) return None
    val (half, truncated) = graft.Caches.memoObj[(Array[(Long, Long, Long)], Boolean)](
        "graph_half_pairs", dir) {
      import s.implicits._
      val maxPairs = gate / 2
      val lim = math.min(maxPairs + 1, Int.MaxValue.toLong - 1).toInt
      val arr = Graph.copurchaseHalf(s, dir)
        .select($"pa", $"pb", $"n_orders".cast("long"))
        .limit(lim).as[(Long, Long, Long)].collect()
      (arr, arr.length >= lim)
    }
    if (!truncated && half.nonEmpty && 2L * half.length <= gate) Some(half)
    else None
  }

  /** Symmetric weighted adjacency of the collected half-pair list:
    * (src, dst, w) both directions — exactly the distributed
    * unionAll(pa→pb, pb→pa). */
  private[graft] def symmetrize(
      half: Array[(Long, Long, Long)]): Array[(Long, Long, Long)] =
    half.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }

  /** Degree map over symmetric edges (count of out-rows per src —
    * exactly the distributed groupBy(src).count()). */
  private def degrees(es: Array[(Long, Long, Long)]): Map[Long, Long] =
    es.groupBy(_._1).map { case (n, xs) => n -> xs.length.toLong }

  /** Neighbor lists of symmetric edges: src → its dsts. */
  private def adjacency(es: Array[(Long, Long, Long)]): Map[Long, Array[Long]] =
    es.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }

  /** The top-`k` nodes by degree (deg desc, key asc) — exactly
    * `Graph.topByDegree`'s orderBy(deg desc, src).limit(k). */
  private def topByDegree(deg: Map[Long, Long], k: Int): Seq[Long] =
    deg.toSeq.sortBy { case (n, d) => (-d, n) }.take(k).map(_._1)

  /** The ego seed: `Graph.egoSeed`'s top-1 by degree. */
  private def seedOf(deg: Map[Long, Long]): Long = topByDegree(deg, 1).head

  /** `Graph.pagerank` replayed: damped integer PageRank rounds over
    * symmetric weighted edges (src, dst, w), contrib = (rank·w) div
    * Σw(src). `seed` = None is the uniform restart, Some(s) pins the
    * restart mass; w = 1 is the unweighted walk (Σw = degree). */
  private def rankRounds(es: Array[(Long, Long, Long)], iters: Int,
      seed: Option[Long]): Map[Long, Long] = {
    val wdeg = es.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._3).sum }
    val scale = Graph.Scale
    def pinned(n: Long, mass: Long): Long =
      if (seed.forall(_ == n)) mass else 0L
    var ranks: Map[Long, Long] = wdeg.map { case (n, _) => n -> pinned(n, scale) }
    for (_ <- 1 to iters) {
      val c = collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (src, dst, w) =>
        val add = Math.multiplyExact(ranks(src), w) / wdeg(src)
        c.update(dst, Math.addExact(c.getOrElse(dst, 0L), add))
      }
      ranks = ranks.map { case (n, _) =>
        n -> Math.addExact(pinned(n, scale * 15 / 100),
          Math.multiplyExact(85L, c.getOrElse(n, 0L)) / 100)
      }
    }
    ranks
  }

  /** Top-50 of `ranks` (rank desc, node asc) as (l_partkey, `outCol`). */
  private def top50(s: SparkSession, ranks: Map[Long, Long],
      outCol: String): DataFrame = {
    import s.implicits._
    ranks.toSeq.sortBy { case (n, r) => (-r, n) }.take(50)
      .toDF("l_partkey", outCol)
      .orderBy(col(outCol).desc, $"l_partkey")
  }

  /** Symmetric edges with w = 1: q53/q77's unweighted walk. */
  private def unweighted(half: Array[(Long, Long, Long)]): Array[(Long, Long, Long)] =
    symmetrize(half).map { case (a, b, _) => (a, b, 1L) }

  /** q53: uniform ranks, top-50 as (l_partkey, pr_rank). */
  def pagerankTop(s: SparkSession, half: Array[(Long, Long, Long)],
      iters: Int): DataFrame =
    top50(s, rankRounds(unweighted(half), iters, None), "pr_rank")

  /** q77: personalized from the ego seed — rank > 0 filter, top-50. */
  def pprTop(s: SparkSession, half: Array[(Long, Long, Long)], iters: Int): DataFrame = {
    val es = unweighted(half)
    val ranks = rankRounds(es, iters, Some(seedOf(degrees(es))))
    top50(s, ranks.filter(_._2 > 0L), "ppr_rank")
  }

  /** q80: weighted by n_orders, top-50 as (l_partkey, wpr_rank). */
  def weightedPagerankTop(s: SparkSession, half: Array[(Long, Long, Long)],
      iters: Int): DataFrame =
    top50(s, rankRounds(symmetrize(half), iters, None), "wpr_rank")

  /** q81: synchronous LPA — per round each node adopts its neighbors'
    * most frequent label, ties to the MIN label (the distributed
    * max(struct(cnt, −lbl)) argmax). */
  def labelPropTable(s: SparkSession, half: Array[(Long, Long, Long)],
      rounds: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    var lbls: Map[Long, Long] = es.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      // votes: (node, neighborLabel) counts; edges (src, dst) vote
      // dst's label onto src — exactly the distributed join on dst
      val votes = collection.mutable.HashMap.empty[(Long, Long), Long]
      es.foreach { case (src, dst, _) =>
        val k = (src, lbls(dst))
        votes.update(k, votes.getOrElse(k, 0L) + 1L)
      }
      lbls = votes.toSeq.groupBy(_._1._1).map { case (n, vs) =>
        n -> vs.map { case ((_, l), cnt) => (cnt, -l) }.max._2 * -1L
      }
    }
    val sizes = lbls.values.groupBy(identity).map { case (l, xs) =>
      l -> xs.size.toLong }
    val out = lbls.toSeq.map { case (n, l) => (n, l, sizes(l)) }
      .sortBy(_._1)
    out.toDF("l_partkey", "community", "community_size")
      .orderBy($"l_partkey")
  }

  /** q79: h-index core-number fixed point, same early exit (Σc
    * unchanged ⇒ converged). H({c(u)}) = max k with |{u: c(u) ≥ k}| ≥ k
    * — computed from the desc-sorted neighbor estimates. */
  def coreHindexTable(s: SparkSession, half: Array[(Long, Long, Long)],
      rounds: Int): DataFrame = {
    import s.implicits._
    val nbrs = adjacency(symmetrize(half))
    var c: Map[Long, Long] = nbrs.map { case (n, xs) => n -> xs.length.toLong }
    var tot = c.values.sum
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      c = nbrs.map { case (n, xs) =>
        val est = xs.map(c).sortBy(-_)
        var h = 0L
        var i = 0
        while (i < est.length && est(i) >= i + 1) { h = i + 1; i += 1 }
        n -> math.min(c(n), h)
      }
      val t2 = c.values.sum
      converged = t2 == tot
      tot = t2; r += 1
    }
    c.toSeq.sortBy(_._1).map { case (n, v) => (n, v.toInt) }
      .toDF("l_partkey", "core_number").orderBy($"l_partkey")
  }

  /** BFS layers to `radius` from one seed: node → hops (min). */
  private def bfs(adj: Map[Long, Array[Long]], seed: Long,
      radius: Int): Map[Long, Int] = {
    val dist = collection.mutable.HashMap(seed -> 0)
    var frontier = Set(seed)
    for (h <- 1 to radius if frontier.nonEmpty) {
      val nxt = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
        .filterNot(dist.contains)
      nxt.foreach(n => dist.update(n, h))
      frontier = nxt
    }
    dist.toMap
  }

  /** q78: hop table within `radius` of the ego seed. */
  def seedReachTable(s: SparkSession, half: Array[(Long, Long, Long)],
      radius: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    bfs(adjacency(es), seedOf(degrees(es)), radius).toSeq.sortBy(_._1)
      .toDF("l_partkey", "hops").orderBy($"l_partkey")
  }

  /** q100: the exact modularity score table over the symmetric
    * threshold-2 edge list and a (node → community) labeling —
    * per community: size, Σ member degrees, intra-community directed
    * edge count, 2m, and the exact integer numerator
    * q_num = intra·2m − total_deg², with the distributed operator's
    * loud int64 overflow failure. */
  def modularityTable(s: SparkSession, half: Array[(Long, Long, Long)],
      labels: Map[Long, Long]): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    val m2 = es.length.toLong
    val deg = degrees(es)
    val bySize = labels.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val byDeg = labels.toSeq.groupBy(_._2).map { case (l, xs) =>
      l -> xs.iterator.map { case (n, _) => deg(n) }.sum }
    val intra = es.iterator
      .filter { case (a, b, _) => labels(a) == labels(b) }
      .toSeq.groupBy { case (a, _, _) => labels(a) }
      .map { case (l, xs) => l -> xs.size.toLong }
    val out = bySize.keys.toSeq.sorted.map { c =>
      val qn = BigInt(intra.getOrElse(c, 0L)) * m2 -
        BigInt(byDeg(c)) * BigInt(byDeg(c))
      require(qn.isValidLong, "q100_modularity: exact-integer overflow " +
        "in q_num (int64 range)")
      (c, bySize(c), intra.getOrElse(c, 0L), byDeg(c), m2, qn.toLong)
    }
    out.toDF("community", "community_size", "intra_deg", "total_deg",
      "m2", "q_num").orderBy($"community")
  }

  /** q82: harmonic centrality from the top-`nSeeds`-degree pivots
    * (deg desc, key asc), radius-truncated: per node, count of pivots
    * reaching it and Σ Scale div hops over hops > 0. Every node of the
    * symmetric graph appears (zero-filled). */
  def harmonicTable(s: SparkSession, half: Array[(Long, Long, Long)], nSeeds: Int,
      radius: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    val deg = degrees(es)
    val adj = adjacency(es)
    val seeds = topByDegree(deg, nSeeds)
    val contrib = collection.mutable.HashMap.empty[Long, (Long, Long)]
    seeds.foreach { sd =>
      bfs(adj, sd, radius).foreach { case (n, h) =>
        if (h > 0) {
          val (cnt, sum) = contrib.getOrElse(n, (0L, 0L))
          contrib.update(n, (cnt + 1L, Math.addExact(sum, Graph.Scale / h)))
        }
      }
    }
    val out = deg.keys.toSeq.sorted.map { n =>
      val (cnt, sum) = contrib.getOrElse(n, (0L, 0L))
      (n, cnt, sum)
    }
    out.toDF("l_partkey", "n_seeds", "harmonic_1e6").orderBy($"l_partkey")
  }

  // ---------------------------------------------------------------
  // round 15: the remaining iterative stragglers (VERDICT r14 items
  // 2-3, 5) — connected components (q94/d6/p10/q73), double-sweep
  // diameter (q88), pivot Brandes (q86), HyperANF (q97), under the
  // same 2²² gate and the same bit-identical replay discipline.
  // ---------------------------------------------------------------

  /** Union-find with min-id component labels over a collected
    * BIDIRECTIONAL edge array: node → component-minimum id — exactly
    * the fixed point of the distributed min-label propagation
    * (Dedup.connectedComponents). */
  private def ccLabels(es: Array[(Long, Long)]): collection.Map[Long, Long] = {
    val parent = collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    es.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // with the union-by-min rule above each root IS its component min
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** The shared components gate (d6/p10/q73 via
    * Dedup.connectedComponents): (doc_id, group_id = min reachable
    * id) over a collected bidirectional edge list — the distributed
    * loop's exact fixed point (min-label propagation converges to the
    * component minimum; the union-find computes it directly, and the
    * ≤ 50-round convergence bound is vacuous below the gate). */
  def componentsTable(s: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    ccLabels(es).toSeq.sortBy(_._1).toDF("doc_id", "group_id")
  }

  /** q94: hub-removal robustness — degrees, top-K hubs (deg desc, key
    * asc), component sizes before/after, exact integer retained share
    * (truncating div on non-negative operands, same as Spark's). */
  def robustnessTable(s: SparkSession, half: Array[(Long, Long, Long)], hubK: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    val nEdges = es.length.toLong / 2
    val hubs = topByDegree(degrees(es), hubK).toSet
    def ccSizes(pairs: Array[(Long, Long)]): (Long, Long) = {
      val sizes = ccLabels(pairs).groupBy(_._2).map(_._2.size.toLong)
      (sizes.sum, sizes.max)
    }
    val all = es.map { case (a, b, _) => (a, b) }
    val (n1, lcc1) = ccSizes(all)
    val kept = all.filter { case (a, b) => !hubs(a) && !hubs(b) }
    val (n2, lcc2) = if (kept.isEmpty) (0L, 0L) else ccSizes(kept)
    Seq((n1, nEdges, lcc1, n2, lcc2, lcc2 * 10000 / lcc1))
      .toDF("n_nodes", "n_edges", "lcc_before", "n_nodes_after",
        "lcc_after", "retained_1e4")
  }

  /** q88: double-sweep diameter lower bound — BFS from the ego seed
    * (max degree, min key), farthest node (max hops, MIN key — the
    * distributed max(struct(hops, −node)) argmax), BFS again. The
    * `rounds` budget truncates exactly like bfsHops (the local bfs
    * stops early on an empty frontier, result-identically). */
  def diameterTable(s: SparkSession, half: Array[(Long, Long, Long)], rounds: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    val adj = adjacency(es)
    val seed = seedOf(degrees(es))
    val d1 = bfs(adj, seed, rounds)
    val eccSeed = d1.values.max
    val far = d1.collect { case (n, h) if h == eccSeed => n }.min
    val eccFar = bfs(adj, far, rounds).values.max
    Seq((seed, eccSeed, far, eccFar))
      .toDF("seed", "ecc_seed", "far_node", "diameter_lb")
  }

  /** q86: radius-truncated pivot-sampled Brandes with the SAME
    * integer algebra and the SAME overflow guards as the distributed
    * kernel (Graph.betweennessFrom): exact Long σ sums
    * (Math.addExact mirrors ANSI), per-term
    * floor(σu·(Scale+δv) div σv) with the product through BigInt
    * (mirroring the DECIMAL(38,0) projection and its BIGINT cast),
    * and the per-level no-wrap proofs RAISING identically. */
  def betweennessTable(s: SparkSession, half: Array[(Long, Long, Long)], nSeeds: Int,
      radius: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    val deg = degrees(es)
    val adj = adjacency(es)
    val seeds = topByDegree(deg, nSeeds)
    // forward: perLevel(h) = (seed, node) -> σ
    val settled = collection.mutable.HashSet.empty[(Long, Long)]
    seeds.foreach(sd => settled += ((sd, sd)))
    var frontier: Map[(Long, Long), Long] = seeds.map(sd => (sd, sd) -> 1L).toMap
    val perLevel = collection.mutable.ArrayBuffer(frontier)
    var sigmaMaxPrev = 1L
    for (h <- 1 to radius) {
      val sums = collection.mutable.HashMap.empty[(Long, Long), Long]
      val npred = collection.mutable.HashMap.empty[(Long, Long), Long]
      frontier.foreach { case ((sd, u), sig) =>
        adj.getOrElse(u, Array.empty[Long]).foreach { v =>
          if (!settled.contains((sd, v))) {
            val k = (sd, v)
            sums.update(k, Math.addExact(sums.getOrElse(k, 0L), sig))
            npred.update(k, npred.getOrElse(k, 0L) + 1L)
          }
        }
      }
      val mxH = if (sums.isEmpty) 0L else sums.values.max
      val cntH = if (npred.isEmpty) 0L else npred.values.max
      require(BigInt(sigmaMaxPrev) * BigInt(cntH) <= BigInt(Long.MaxValue),
        s"q86: level-$h σ sums (≤ $cntH terms × ≤ $sigmaMaxPrev) " +
          "could exceed Long — per-level σ renormalization required (SigmaGuard regime)")
      require(mxH <= Graph.SigmaGuard,
        s"q86: max shortest-path count $mxH exceeds " +
          s"SigmaGuard=${Graph.SigmaGuard} — per-level σ renormalization required; " +
          "refusing to report precision-compromised centralities")
      sigmaMaxPrev = math.max(mxH, 1L)
      sums.keys.foreach(settled += _)
      frontier = sums.toMap
      perLevel += frontier
    }
    // backward: δ level-by-level; deltaNext = (seed, node) -> (σ, δ)
    var deltaNext: Map[(Long, Long), (Long, Long)] =
      perLevel(radius).map { case (k, sig) => k -> (sig, 0L) }
    val bet = collection.mutable.HashMap.empty[Long, Long]
    var deltaMaxPrev = 0L
    var deltaMaxAll = 0L
    val scale = Graph.Scale
    for (h <- (radius - 1) to 1 by -1) {
      val dh = collection.mutable.HashMap.empty[(Long, Long), (Long, Long, Long)]
      perLevel(h).foreach { case ((sd, u), sigU) =>
        var dsum = 0L
        var nterm = 0L
        adj.getOrElse(u, Array.empty[Long]).foreach { v =>
          deltaNext.get((sd, v)) match {
            case Some((sigV, delV)) =>
              val term = BigInt(sigU) * BigInt(Math.addExact(scale, delV)) / BigInt(sigV)
              require(term.isValidLong,
                s"q86: level-$h backward term exceeds BIGINT (σ·(Scale+δ) div σ)")
              dsum = Math.addExact(dsum, term.toLong)
              nterm += 1L
            case None =>
          }
        }
        dh.update((sd, u), (sigU, dsum, nterm))
      }
      val dMax = if (dh.isEmpty) 0L else dh.values.map(_._2).max
      val tMax = if (dh.isEmpty) 0L else dh.values.map(_._3).max
      require(BigInt(scale + deltaMaxPrev) * BigInt(tMax) <= BigInt(Long.MaxValue),
        s"q86: level-$h δ sums (≤ $tMax terms × ≤ ${scale + deltaMaxPrev}) " +
          "could exceed Long — δ needs DECIMAL(38) state at this density; " +
          "refusing to report wrapped centralities")
      deltaMaxPrev = math.max(dMax, 0L)
      deltaMaxAll = math.max(deltaMaxAll, deltaMaxPrev)
      dh.foreach { case ((_, u), (_, d, _)) =>
        bet.update(u, Math.addExact(bet.getOrElse(u, 0L), d))
      }
      deltaNext = dh.map { case (k, (sig, d, _)) => k -> (sig, d) }.toMap
    }
    require(BigInt(deltaMaxAll) * BigInt(seeds.length) <= BigInt(Long.MaxValue),
      s"q86: pivot-sum of δ (≤ ${seeds.length} × $deltaMaxAll) could exceed Long")
    deg.keys.toSeq.sorted.map(n => (n, bet.getOrElse(n, 0L)))
      .toDF("l_partkey", "bet_1e6")
  }

  /** Occurrence count of each endpoint over an UNDIRECTED half-pair
    * list — exactly the distributed unionAll(pa, pb).groupBy.count the
    * peel loops ride on. */
  private def endpointCounts(e: Array[(Long, Long)]): collection.mutable.HashMap[Long, Long] = {
    val deg = collection.mutable.HashMap.empty[Long, Long]
    e.foreach { case (a, b) =>
      deg.update(a, deg.getOrElse(a, 0L) + 1L)
      deg.update(b, deg.getOrElse(b, 0L) + 1L)
    }
    deg
  }

  /** q66: the fixed-budget synchronous k-core peel over the HALF pair
    * list (the distributed loop peels undirected pairs, not symmetric
    * edges): per round, keep pairs whose both endpoints carry ≥ k
    * occurrences. Early exit when a round removes nothing is the
    * identity — every later round of the fixed unroll re-derives the
    * same survivor set. Output: survivors with in-core degree. */
  def kcoreTable(s: SparkSession, half: Array[(Long, Long, Long)], k: Int,
      rounds: Int): DataFrame = {
    import s.implicits._
    var e = half.map { case (a, b, _) => (a, b) }
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val deg = endpointCounts(e)
      val e2 = e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = e2.length != e.length
      e = e2; r += 1
    }
    endpointCounts(e).toSeq.sortBy(_._1)
      .toDF("l_partkey", "deg_core").orderBy($"l_partkey")
  }

  /** q76: the budgeted NESTED peel (Graph.peelCoreNumbers) replayed
    * driver-side — level k starts from level k−1's survivors, per-level
    * early exit when a round removes nothing (result-identical, as in
    * the distributed loop). Returns None when the budget clamps (a
    * level left unconverged survivors, or the level-kMax peel did not
    * empty the graph): the caller must then run the distributed
    * escalation path, exactly as the distributed peel escalates to the
    * h-index fixed point. */
  def coreNumbersUnderBudget(s: SparkSession, half: Array[(Long, Long, Long)],
      kMax: Int, rounds: Int): Option[DataFrame] = {
    import s.implicits._
    var e = half.map { case (a, b, _) => (a, b) }
    var clamped = false
    val best = collection.mutable.HashMap.empty[Long, Int]
    for (k <- 1 to kMax) {
      var converged = false
      var r = 0
      while (r < rounds && e.nonEmpty && !converged) {
        val deg = endpointCounts(e)
        val e2 = e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        converged = e2.length == e.length
        e = e2; r += 1
      }
      if (e.nonEmpty && !converged) clamped = true
      // k-cores nest, so "present at level k" overwrites lower levels —
      // the distributed max(k) over the per-level membership union
      e.foreach { case (a, b) => best.update(a, k); best.update(b, k) }
    }
    if (e.nonEmpty) clamped = true
    if (clamped) None
    else Some(best.toSeq.sortBy(_._1)
      .toDF("l_partkey", "core_number").orderBy($"l_partkey"))
  }

  /** q85: frontier Bellman–Ford from the ego seed with exact Long edge
    * costs w = greatest(1, 1000 div n_orders) — truncating div on
    * positive operands, additions through Math.addExact (ANSI-loud),
    * min-merges order-independent, so bit-identical to the distributed
    * relaxation. Early exit when no distance improves (the remaining
    * budgeted rounds are the identity, as in the distributed loop). */
  def ssspTable(s: SparkSession, half: Array[(Long, Long, Long)],
      rounds: Int): DataFrame = {
    import s.implicits._
    val es = symmetrize(half)
    val adj = es.groupBy(_._1).map { case (n, xs) =>
      n -> xs.map { case (_, v, no) => (v, math.max(1L, 1000L / no)) }
    }
    val seed = seedOf(degrees(es))
    val dist = collection.mutable.HashMap(seed -> 0L)
    var frontier: Set[Long] = Set(seed)
    var r = 0
    while (r < rounds && frontier.nonEmpty) {
      val cand = collection.mutable.HashMap.empty[Long, Long]
      frontier.foreach { u =>
        val du = dist(u)
        adj.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (v, w) =>
          val c = Math.addExact(du, w)
          if (cand.get(v).forall(c < _)) cand.update(v, c)
        }
      }
      val improved = cand.filter { case (v, c) => dist.get(v).forall(c < _) }
      improved.foreach { case (v, c) => dist.update(v, c) }
      frontier = improved.keySet.toSet
      r += 1
    }
    dist.toSeq.sortBy(_._1).toDF("node", "dist")
  }

  // q97 is deliberately NOT here (round 15, recorded negative result):
  // a DataSketches HLL union's estimate depends on the fold structure
  // and order of the aggregation tree (GraphLocalSpec pins it: 600
  // singletons fold to 592 flat / 585 two-level / 586 reversed), so
  // no driver-side replay can be bit-identical to the distributed
  // partial-agg tree the entry computes through. The distributed loop
  // keeps its per-round totals as observe metrics instead
  // (Graph.anfLoop).
}
