package graft

import org.apache.spark.sql.functions._

/** Round-8 hardening of the core-number family: the hub-safe
  * histogram h-index (no degree-sized aggregation buffers) and q76's
  * clamp-detection/escalation (never report budget constants as
  * data). */
class Round8Spec extends GraftSpecBase {
  import spark.implicits._

  /** Exact core numbers by sequential min-degree peeling — the
    * in-memory ground truth (same helper as Round7TailSpec's). */
  private def localCoreNumbers(edges: Seq[(Long, Long)]): Map[Long, Int] = {
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    val deg = collection.mutable.Map(adj.toSeq.map { case (v, ns) => v -> ns.size }: _*)
    val core = collection.mutable.Map.empty[Long, Int]
    val alive = collection.mutable.Set(adj.keys.toSeq: _*)
    var level = 0
    while (alive.nonEmpty) {
      val ready = alive.filter(v => deg(v) <= level)
      if (ready.isEmpty) level += 1
      else {
        val stack = collection.mutable.Stack(ready.toSeq: _*)
        while (stack.nonEmpty) {
          val v = stack.pop()
          if (alive.contains(v) && deg(v) <= level) {
            core(v) = level; alive -= v
            adj(v).foreach { u =>
              if (alive.contains(u)) {
                deg(u) -= 1
                if (deg(u) <= level) stack.push(u)
              }
            }
          }
        }
      }
    }
    core.toMap
  }

  private def symmetric(pairs: Seq[(Long, Long)]) = {
    val df = pairs.toDF("pa", "pb")
    df.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(df.select($"pb".as("src"), $"pa".as("dst")))
  }

  // ------------- hub-safe h-index (histogram formulation) -------------

  test("q79 engine: exact on a 100k-degree power-law hub (no degree-sized buffers)") {
    // one hub wired to 100_000 degree-1 leaves AND to a 6-clique: the
    // leaves peel at level 1, leaving hub+clique as a K7 => core 6 for
    // all seven, core 1 for every leaf. The old sorted-list H would
    // materialize a 100k-element array in ONE aggregation buffer here;
    // the histogram path carries only (src, estimate, count) rows.
    val hub = 0L
    val leaves = (1L to 100000L).map(l => (hub, l))
    val clique = (100001L to 100006L)
    val cliqueEdges = for {
      a <- clique; b <- clique if a < b
    } yield (a, b)
    val hubToClique = clique.map(c => (hub, c))
    val pairs = leaves ++ cliqueEdges ++ hubToClique
    val want = localCoreNumbers(pairs)
    val got = operators.Graph.hIndexCoreNumbers(
        symmetric(pairs).repartition(8), operators.Graph.HIndexRounds)
      .as[(Long, Int)].collect().toMap
    assert(got.size == want.size)
    assert(got(hub) == 6 && got(100001L) == 6 && got(1L) == 1)
    assert(got == want,
      s"hub graph diverged: ${(got.toSet diff want.toSet).take(3)}")
  }

  // ------------- q76 clamp detection / escalation -------------

  test("peel reports clamped=false when the budget empties the graph") {
    // K6 alone: every node core 5; the level-6 peel removes everyone
    val clique = (1L to 6L)
    val pairs = (for { a <- clique; b <- clique if a < b } yield (a, b)).toSeq
    val (table, clamped) = operators.Graph.peelCoreNumbers(
      pairs.toDF("pa", "pb"), kMax = 6, rounds = 4)
    assert(!clamped, "budget emptied the graph but flag says clamped")
    assert(table.as[(Long, Int)].collect().toMap == localCoreNumbers(pairs))
  }

  test("peel reports clamped=true when survivors remain at the kMax level") {
    // K6 with kMax=3: the 5-core survives level 3 => the level table
    // would report core 3 for nodes whose true core is 5
    val clique = (1L to 6L)
    val pairs = (for { a <- clique; b <- clique if a < b } yield (a, b)).toSeq
    val (_, clamped) = operators.Graph.peelCoreNumbers(
      pairs.toDF("pa", "pb"), kMax = 3, rounds = 4)
    assert(clamped, "budget left survivors but flag says exact")
  }

  // ------------- q84 semi-synchronous LPA -------------

  test("q84: stable under rounds + 1 at both SFs — the property q81 lacks") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val base = operators.Graph.q84LpaSemisync(spark, dir)
        .as[(Long, Long, Long)].collect().toSet
      val wider = operators.Graph.q84LpaSemisync(spark, dir,
        rounds = operators.Graph.SemiLpaRounds + 1)
        .as[(Long, Long, Long)].collect().toSet
      assert(base == wider, s"$dir: one more round changed the labeling")
    }
  }

  test("q84: converges where synchronous LPA 2-cycles (bipartite star pair)") {
    // K_{2,3}: synchronous min-tie LPA oscillates (each side adopts
    // the other side's min label every round, swapping forever); the
    // per-color schedule must reach a genuinely stable labeling.
    val left = Seq(10L, 20L)
    val right = Seq(3L, 7L, 11L)
    val pairs = for { a <- left; b <- right } yield (a, b)
    val lbl = operators.Graph.semiSyncLabels(symmetric(pairs))
      .as[(Long, Long)].collect().toMap
    // stability: every node's current label is among the argmax of
    // its neighbors' labels (checked locally)
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    adj.foreach { case (v, ns) =>
      val cnt = ns.groupBy(lbl).view.mapValues(_.size).toMap
      val m = cnt.values.max
      assert(cnt.getOrElse(lbl(v), 0) == m,
        s"node $v label ${lbl(v)} not argmax among $cnt — not stable")
    }
  }

  test("q84: coloring invariant under coloring budget + 1") {
    val base = operators.Graph.q84LpaSemisync(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val wider = operators.Graph.q84LpaSemisync(spark, sf,
      coloringRounds = operators.Graph.SemiColoringRounds + 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(base == wider)
  }

  test("q84: actual color count within the oracle's unroll budget at every SF") {
    // the oracle unrolls SemiColors sweeps per round; Spark iterates
    // the ACTUAL count — replay only matches while actual <= budget
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val prs = operators.Analytics.copurchasePairs(spark, dir)
        .filter($"n_orders" >= 2)
      val edges = prs.select($"pa", $"pb").as[(Long, Long)].collect().toSeq
      // local greedy JP replay to count colors
      val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
      edges.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
      }
      import scala.math.Ordering.Implicits._
      val W = operators.Graph.SemiPickWindow
      val color = collection.mutable.Map.empty[Long, Int]
      var trialRounds = 0
      while (color.size < adj.size) {
        // trial schedule: priorities AND windowed picks re-randomize
        // per round (round index 0-based, matching the Spark loop's r)
        val a = operators.Graph.semiPrioA(trialRounds)
        def prio(v: Long) = ((v * a) % operators.Graph.SemiPrioM, v)
        trialRounds += 1
        val picks = adj.keys.filterNot(color.contains).map { v =>
          val used = adj(v).flatMap(color.get)
          val free = (1 to adj(v).size + 1).filterNot(used.contains)
          v -> free((prio(v)._1 % math.min(free.size, W)).toInt)
        }.toMap
        picks.foreach { case (v, p) =>
          if (adj(v).forall(u => picks.get(u).forall(_ != p) ||
              prio(u) < prio(v)))
            color(v) = p
        }
      }
      info(s"$dir: ${color.values.max} colors, $trialRounds trial rounds")
      assert(color.values.max <= operators.Graph.SemiColors,
        s"$dir needs ${color.values.max} colors > budget")
      // oracle parity: the unrolled coloring must COMPLETE at every
      // SF the oracle could run on (identity tails after)
      assert(trialRounds <= operators.Graph.SemiColoringRounds,
        s"$dir coloring completes in $trialRounds rounds > oracle unroll")
    }
  }

  // ------------- exact kNN graph through the s8 bound -------------

  test("s9-via-s8: EXACT corpus kNN graph on a separated corpus, with measured pruning") {
    // corpus-as-queries through the s8 ball-tree bound: on clustered
    // data the triangle inequality yields the EXACT graph while
    // scanning a fraction of the K*n probe grid (SURVEY 8.8c). Same
    // constructed three-cluster corpus as the s8 spec, but EVERY
    // vector is a query.
    val d = 8
    val centers = Array(0, 1, 2).map { c =>
      Array.tabulate(d)(i => if (i == c) 1.0 else 0.0)
    }
    val n = 60
    val vecs = (0L until n.toLong).map { id =>
      val c = (id % 3).toInt
      val v = Array.tabulate(d) { i =>
        val jitter = 0.03 * math.sin(1.0 + id * 7.0 + i * 13.0)
        (if (i == c) 1.0 else 0.0) + jitter
      }
      (id, v, c)
    }
    val assigned = vecs.toDF("vec_id", "v", "cluster")
    val radii = operators.Similarity.clusterRadiiOf(assigned, centers)
    val (resDf, probedDf) = operators.Similarity.s8Search(
      assigned, centers, radii, n)
    val res = resDf.as[(Long, Int, Long, Double)].collect().toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    // local brute-force graph with the operator's quantize + tie-break
    val want = (0L until n.toLong).flatMap { q =>
      val qv = vecs(q.toInt)._2
      vecs.filter(_._1 != q)
        .map { case (id, v, _) => (id, math.floor(cos(qv, v) * 10000) / 10000.0) }
        .sortBy { case (id, c) => (-c, id) }
        .take(3).zipWithIndex
        .map { case ((id, c), i) => (q, i + 1, id, c) }
    }
    assert(res == want, s"graph not exact: ${res.diff(want).take(3)}")
    // pruning measured: the exact graph cost a fraction of the full
    // K*n probe grid (each query resolves inside its own cluster)
    val probed = probedDf.as[(Long, Int)].collect().size
    assert(probed < n * centers.length / 2,
      s"no pruning: $probed probes of ${n * centers.length} possible")
    info(s"s9-via-s8 separated corpus: $probed probes of ${n * centers.length} grid (exact)")
  }

  // ------------- t14 code-detect semantics -------------

  test("t14: constructed code documents score as code, prose as prose") {
    val code1 =
      "def fib(n):\n    if n < 2:\n        return n\n    return fib(n - 1) + fib(n - 2)\n\nclass Memo:\n    def __init__(self):\n        self.cache = {}"
    val code2 =
      "public static int sum(int[] xs) {\n    int acc = 0;\n    for (int i = 0; i < xs.length; i++) {\n        acc += xs[i];\n    }\n    return acc;\n}"
    val prose1 =
      "The merchant considered the offer for a long while. If the terms were " +
        "fair, he thought, the caravan could return before winter. His class " +
        "of goods moved slowly in the cold season, and he would not wait for " +
        "better prices while the passes stayed open."
    val prose2 =
      "Rain fell through the afternoon.\nThe streets emptied and the lamps " +
        "came on early.\nNobody hurried, and nothing else happened for a while."
    val docs = Seq((1L, code1), (2L, code2), (10L, prose1), (11L, prose2))
      .toDF("doc_id", "text")
    val got = operators.TextAnalysis.codeDetectOf(docs)
      .select($"doc_id", $"code_score", $"is_code")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._2 && got(2L)._2,
      s"code docs not detected: ${got(1L)}, ${got(2L)}")
    assert(!got(10L)._2 && !got(11L)._2,
      s"prose docs misdetected: ${got(10L)}, ${got(11L)}")
    // the margin is real, not a threshold graze: code scores at least
    // double the threshold, prose stays under half of it
    assert(got(1L)._1 >= 160 && got(2L)._1 >= 160, s"thin code margin: $got")
    assert(got(10L)._1 <= 40 && got(11L)._1 <= 40, s"thin prose margin: $got")
  }

  test("t14: the real corpus is all-prose (vacuity honestly measured)") {
    // the synthetic documents carry no code symbols at all — the
    // corpus-wide signal is vacuously zero, which is WHY the
    // semantics spec above drives constructed docs
    val n = operators.TextAnalysis.t14CodeDetect(spark, sf)
      .filter($"is_code").count()
    assert(n == 0, s"$n synthetic docs scored as code")
  }

  // ------------- q82 pivot-count error curve -------------

  test("q82: harmonic estimate error shrinks with pivot count (Eppstein-Wang trade, measured)") {
    // Exact (all-sources, radius-truncated) harmonic vs the S-pivot
    // estimate scaled by N/S, at S in {2,4,8,16}. Measured curve at
    // sf0.001 (mean |err| / mean H): 0.232, 0.180, 0.138, 0.108 —
    // monotone, each doubling ~0.78x (ideal 1/sqrt(2) = 0.71; the
    // deterministic top-degree pivots flatten it slightly vs uniform
    // sampling). Pinned: strict monotonicity + err(2)/err(16) >= 1.9.
    val dir = "/root/testdata/sf0.001"
    val nNodes = operators.Analytics.copurchasePairs(spark, dir)
      .filter($"n_orders" >= 2)
      .select(explode(array($"pa", $"pb")).as("n")).distinct().count().toInt
    // "all nodes as pivots" IS the exact radius-truncated table
    val exact = operators.Graph.q82Harmonic(spark, dir, nSeeds = nNodes)
      .select($"l_partkey", $"harmonic_1e6").as[(Long, Long)]
      .collect().toMap
    val meanH = exact.values.sum.toDouble / exact.size
    val errs = Seq(2, 4, 8, 16).map { s =>
      val est = operators.Graph.q82Harmonic(spark, dir, nSeeds = s)
        .select($"l_partkey", $"harmonic_1e6").as[(Long, Long)]
        .collect().toMap
      val mae = exact.map { case (v, h) =>
        math.abs(est(v).toDouble * nNodes / s - h)
      }.sum / exact.size
      s -> mae / meanH
    }
    info(s"q82 error-vs-S curve: ${errs.map { case (s, e) => f"S=$s%d rel=$e%.4f" }.mkString(", ")}")
    errs.sliding(2).foreach { case Seq((s1, e1), (s2, e2)) =>
      assert(e2 < e1, f"error did not shrink from S=$s1 ($e1%.4f) to S=$s2 ($e2%.4f)")
    }
    assert(errs.head._2 / errs.last._2 >= 1.9,
      f"S=2 to S=16 improvement ${errs.head._2 / errs.last._2}%.2f below the 1.9 floor")
  }

  test("q76: an insufficient budget escalates to the h-index fixed point, never clamps") {
    // sf corpus degeneracy is >= 5 (pinned by Round7TailSpec), so a
    // kMax=2 peel cannot empty the graph: q76 must escalate and return
    // the TRUE table (== q79), not a table whose deep nodes all read 2
    val got = operators.Graph.q76CoreNumbers(spark, sf, kMax = 2, rounds = 3)
      .as[(Long, Int)].collect().toSet
    val truth = operators.Graph.q79CoreHindex(spark, sf)
      .as[(Long, Int)].collect().toSet
    assert(got == truth,
      s"escalation did not reach the fixed point: ${(got diff truth).take(3)}")
    assert(got.exists(_._2 > 2), "escaped table still clamped at kMax")
  }

  // ------------- q85 weighted single-source shortest paths -------------

  test("q85 engine: weighted distances match local Dijkstra; cheap detours beat direct edges") {
    // seed 0: direct edge to 3 costs 100, but the 0->1->2->3 detour
    // costs 3 — weighted order must differ from hop order. Node 5
    // hangs off the expensive edge; 6 is isolated from the seed side.
    val weighted = Seq(
      (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L),
      (0L, 3L, 100L), (3L, 4L, 1L), (0L, 5L, 7L), (5L, 2L, 1L))
    val edges = weighted.toDF("pa", "pb", "w")
    val sym = edges.select($"pa".as("src"), $"pb".as("dst"), $"w")
      .unionAll(edges.select($"pb".as("src"), $"pa".as("dst"), $"w"))
    val got = operators.Graph.ssspFrom(sym, 0L, rounds = 8)
      .as[(Long, Long)].collect().toMap
    // local Dijkstra
    val adj = collection.mutable.Map.empty[Long, List[(Long, Long)]]
      .withDefaultValue(Nil)
    weighted.foreach { case (a, b, w) =>
      adj(a) = (b, w) :: adj(a); adj(b) = (a, w) :: adj(b)
    }
    val dist = collection.mutable.Map(0L -> 0L)
    val pq = collection.mutable.PriorityQueue((0L, 0L))(
      Ordering.by { case (d, _) => -d })
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (d == dist(v)) adj(v).foreach { case (u, w) =>
        if (!dist.contains(u) || d + w < dist(u)) {
          dist(u) = d + w; pq.enqueue((d + w, u))
        }
      }
    }
    assert(got == dist.toMap, s"sssp != Dijkstra: got $got want $dist")
    assert(got(3L) == 3L, "detour 0->1->2->3 (cost 3) must beat direct edge (100)")
    assert(!got.contains(6L), "unreached nodes must be absent, not infinite")
  }

  test("q85: converges within the fixed budget at the oracle SF (rounds == rounds+1)") {
    val a = operators.Graph.q85Sssp(spark, sf, rounds = operators.Graph.SsspRounds)
      .as[(Long, Long)].collect().toSeq
    val b = operators.Graph.q85Sssp(spark, sf, rounds = operators.Graph.SsspRounds + 1)
      .as[(Long, Long)].collect().toSeq
    assert(a == b, "distances still improving past the oracle's unrolled budget")
    assert(a.nonEmpty && a.exists(_._2 > 0))
  }

  // ------------- q86 pivot-sampled betweenness -------------

  /** Local replay of the radius-truncated integer Brandes the operator
    * defines: BFS levels + σ, then δ(u) = Σ_v floor(σu·(1e6+δv)/σv)
    * over successors, summed per node over pivots, level 0 excluded. */
  private def localBetweenness(edges: Seq[(Long, Long)], seeds: Seq[Long],
      radius: Int): Map[Long, Long] = {
    val adj = collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val bet = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    seeds.foreach { s0 =>
      val lvl = collection.mutable.Map(s0 -> 0)
      val sigma = collection.mutable.Map(s0 -> 1L)
      var front = Set(s0)
      for (h <- 1 to radius) {
        val nxt = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        front.foreach(u => adj(u).foreach { v =>
          if (!lvl.contains(v)) nxt(v) += sigma(u)
        })
        nxt.keys.foreach { v => lvl(v) = h; sigma(v) = nxt(v) }
        front = nxt.keys.toSet
      }
      val delta = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (h <- (radius - 1) to 1 by -1) {
        lvl.filter(_._2 == h).keys.foreach { u =>
          delta(u) = adj(u).filter(v => lvl.get(v).contains(h + 1))
            .map(v => sigma(u) * (1000000L + delta(v)) / sigma(v)).sum
        }
      }
      lvl.filter(_._2 >= 1).keys.foreach(v => bet(v) += delta(v))
    }
    bet.toMap.filter(_._2 != 0L)
  }

  test("q86 engine: integer Brandes matches the local replay; bridge dominates a barbell") {
    // barbell: triangle {0,1,2} - bridge 2-3-4 - triangle {4,5,6}.
    // Node 3 carries every cross-side shortest path.
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val sym = symmetric(pairs)
    val seeds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L).toDF("seed")
    val got = operators.Graph.betweennessFrom(sym, seeds, radius = 4)
      .as[(Long, Long)].collect().toMap.filter(_._2 != 0L)
    val want = localBetweenness(pairs, 0L to 6L, radius = 4)
    assert(got == want, s"got $got want $want")
    val top = got.maxBy(_._2)._1
    assert(top == 3L, s"bridge node 3 must dominate, got top $top")
  }

  test("q86 engine: radius truncation is part of the estimator (path graph)") {
    // path 0-1-2-3-4-5 with radius 2: from pivot 0, only nodes up to
    // distance 2 contribute — the local replay uses the same cut
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val sym = symmetric(pairs)
    val seeds = Seq(0L, 5L).toDF("seed")
    val got = operators.Graph.betweennessFrom(sym, seeds, radius = 2)
      .as[(Long, Long)].collect().toMap.filter(_._2 != 0L)
    val want = localBetweenness(pairs, Seq(0L, 5L), radius = 2)
    assert(got == want, s"got $got want $want")
  }

  test("q86 engine: path-count blowup raises the sigma guard instead of wrapping (layered graph)") {
    // one pivot feeding 10 complete-bipartite layers of width 64:
    // σ = 64^(h-1) at layer h → 64^9 ≈ 1.8e16 at layer 10, past the
    // 1e15 SigmaGuard. Before the decimal rebuild a denser graph
    // would wrap σ silently past Long; now it must refuse loudly.
    val width = 64L
    val layers = 11
    val pairs = for {
      l <- 0L until (layers - 1)
      a <- 0L until width; b <- 0L until width
      // node id = layer * 1000 + index; layer 0 collapsed to node 0
      // so a single pivot fans out with multiplicity 1 per layer-1 node
    } yield (if (l == 0) 0L else l * 1000 + a, (l + 1) * 1000 + b)
    val sym = symmetric(pairs.distinct)
    val seeds = Seq(0L).toDF("seed")
    val e = intercept[IllegalArgumentException] {
      operators.Graph.betweennessFrom(sym, seeds, radius = layers - 1)
        .collect()
    }
    assert(e.getMessage.contains("SigmaGuard"), e.getMessage)
  }

  // ------------- p18 end-to-end curation pipeline -------------

  test("p18: every kept doc survives every stage, the cap binds per source, and no benchmark doc leaks") {
    import org.apache.spark.sql.functions._
    val kept = operators.Sampling.p18Curate(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    assert(kept.nonEmpty)
    // stage invariants on the output set
    val clean = operators.Dedup.p1CleanCorpus(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val contaminated = operators.Dedup.p3Decontaminate(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    kept.foreach { case (id, _, _) =>
      assert(clean(id), s"doc $id not a p1 survivor")
      assert(id % operators.Dedup.DecontamMod != 0, s"benchmark doc $id leaked")
      assert(!contaminated(id), s"contaminated doc $id leaked")
    }
    // cap arithmetic: per-source kept counts never exceed the
    // survivor-set cap, and the cap BINDS on this corpus (the entry
    // would be a no-op mix guard otherwise)
    val survivors = clean.count(id =>
      id % operators.Dedup.DecontamMod != 0 && !contaminated(id))
    val cap = survivors.toLong * operators.Sampling.SourceCapPct / 100
    val bySource = kept.groupBy(_._3).view.mapValues(_.size).toMap
    assert(bySource.values.forall(_ <= cap), s"cap $cap exceeded: $bySource")
    assert(bySource.values.exists(_ == cap.toInt), s"cap $cap never binds: $bySource")
    // keep-first within source: kept ids per source are the LOWEST
    // surviving ids of that source
    val keptSet = kept.map(_._1).toSet
    val srcOf = Tables.documents(spark, sf).select($"doc_id", $"source")
      .as[(Long, String)].collect().toMap
    val survBypSource = clean.filter(id =>
        id % operators.Dedup.DecontamMod != 0 && !contaminated(id))
      .groupBy(srcOf)
    survBypSource.foreach { case (src, ids) =>
      val want = ids.toSeq.sorted.take(cap.toInt).toSet
      val got = kept.filter(_._3 == src).map(_._1).toSet
      assert(got == want, s"source $src keep-first violated")
    }
    assert(keptSet.size == kept.size, "duplicate doc_ids in output")
  }

  // ------------- s14 JL projection -------------

  test("s14: projection == exact local replay; JL distortion in band; map-only plan") {
    val got = operators.Similarity.s14JlProjection(spark, sf)
      .as[(Long, Int, Long)].collect().toSeq
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val signs = operators.Similarity.jlSigns
    val proj: Map[Long, Array[Long]] = emb.map { case (id, v) =>
      val q = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      id -> signs.map(row =>
        row.zip(q).map { case (s, qi) => s * qi }.sum).toArray
    }.toMap
    val want = emb.flatMap { case (id, _) =>
      proj(id).zipWithIndex.map { case (v, j) => (id, j, v) } }.toSeq
    assert(got == want, "projection differs from local replay")
    // JL: E||Pz||^2 = K ||z||^2 — pairwise ratio band over all pairs
    // of the first 60 vectors (measured at sf0.001: median 1.00,
    // mean 1.01 — pinned with slack for other corpora)
    val qv: Map[Long, Array[Long]] = emb.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6).toLong) }.toMap
    val ids = emb.map(_._1).take(60)
    val ratios = for {
      a <- ids; b <- ids if a < b
      dProj = proj(a).zip(proj(b)).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum
      dIn = qv(a).zip(qv(b)).map { case (x, y) =>
        val d = (x - y).toDouble; d * d }.sum
    } yield dProj / (operators.Similarity.JlOutDim * dIn)
    val sorted = ratios.sorted
    val median = sorted(sorted.size / 2)
    val mean = ratios.sum / ratios.size
    assert(median > 0.7 && median < 1.4, s"median distortion $median")
    assert(mean > 0.75 && mean < 1.35, s"mean distortion $mean")
    // the projection is map-only: no join, no aggregate in the plan
    val plan = operators.Similarity.s14JlProjection(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"projection plan grew a join/aggregate:\n$plan")
  }

  // ------------- q99 HITS -------------

  /** Exact local HITS replay: BigInt sums, max-normalization with
    * floor division (positive BigInt / == floor). */
  private def localHits(edges: Seq[(Long, Long)], iters: Int)
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    var hub = edges.map(_._1).distinct.map(_ -> BigInt(1000000)).toMap
    var auth = Map.empty[Long, BigInt]
    for (_ <- 1 to iters) {
      val as = edges.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => hub(e._1)).sum }
      val amax = as.values.max
      auth = as.map { case (p, a) => p -> (a * 1000000 / amax) }
      val hs = edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum }
      val hmax = hs.values.max
      hub = hs.map { case (c, h) => c -> (h * 1000000 / hmax) }
    }
    def top(m: Map[Long, BigInt]) = m.toSeq
      .map { case (n, v) => (n, v.toLong) }
      .sortBy { case (n, v) => (-v, n) }.take(20)
    (top(auth), top(hub))
  }

  test("q99: HITS == local BigInt max-norm replay; anchors at Scale; slate stable under rounds+1") {
    val got = operators.Graph.q99Hits(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    val edges = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey", $"l_partkey")
      .distinct().as[(Long, Long)].collect().toSeq
    val (ta, th) = localHits(edges, operators.Graph.HitsIters)
    val want = ta.map { case (n, v) => ("auth", n, v) } ++
      th.map { case (n, v) => ("hub", n, v) }
    assert(got == want, s"replay mismatch:\n got=$got\nwant=$want")
    // max-normalization anchors each side's top score at exactly Scale
    assert(got.filter(_._1 == "auth").map(_._3).max == 1000000L)
    assert(got.filter(_._1 == "hub").map(_._3).max == 1000000L)
    // the slate RANKING (the consumer surface) is stable one round on
    val plus = operators.Graph.hitsTop(
      edges.toDF("cust", "part"), operators.Graph.HitsIters + 1)
      .as[(String, Long, Long)].collect().toSeq
    assert(plus.map(r => (r._1, r._2)) == got.map(r => (r._1, r._2)),
      "slate ranking changed at rounds+1")
  }

  test("q99: constructed graph — diverse basket tops hubs, popular part tops authorities") {
    val edges = Seq(
      (1L, 101L), (1L, 102L), (1L, 103L), // c1: diverse basket incl p101
      (2L, 101L),                         // c2, c3: single popular part
      (3L, 101L)).toDF("cust", "part")
    val got = operators.Graph.hitsTop(edges, operators.Graph.HitsIters)
      .as[(String, Long, Long)].collect().toSeq
    val auths = got.filter(_._1 == "auth")
    val hubs = got.filter(_._1 == "hub")
    assert(auths.head._2 == 101L && auths.head._3 == 1000000L)
    assert(hubs.head._2 == 1L && hubs.head._3 == 1000000L)
    // the two spoke customers tie below the diverse basket
    assert(hubs.tail.map(_._3).distinct.size == 1 && hubs.tail.head._3 < 1000000L)
  }

  // ------------- q98 k-truss -------------

  test("q98: K4 survives the 4-truss, a pendant triangle peels, and the budget is rounds-invariant") {
    // K4 on {0..3} (every edge in 2 triangles of the clique) + a
    // pendant triangle {3,4,5} (each of its edges in 1 triangle only
    // → peeled at k=4, leaving K4's supports untouched)
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val pend = Seq((3L, 4L), (3L, 5L), (4L, 5L))
    val e = (k4 ++ pend).toDF("pa", "pb")
    // drive the kernel: peel twice (fixed point after round 1 here)
    var cur = e
    (1 to 2).foreach { _ =>
      val keep = operators.Graph.edgeSupport(cur)
        .filter($"support" >= 2).select($"pa", $"pb")
      cur = cur.join(keep, Seq("pa", "pb"), "left_semi")
    }
    val surv = cur.join(operators.Graph.edgeSupport(cur), Seq("pa", "pb"), "left")
      .select($"pa", $"pb", coalesce($"support", lit(0L)).as("support"))
      .as[(Long, Long, Long)].collect().toSet
    assert(surv == k4.map { case (a, b) => (a, b, 2L) }.toSet, surv)
    // real graph: budget invariance (fixed point inside TrussRounds)
    val got = operators.Graph.q98Ktruss(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val more = operators.Graph
      .q98Ktruss(spark, sf, rounds = operators.Graph.TrussRounds + 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == more, "k-truss not settled inside the round budget")
    // truss property: every surviving edge has support >= k-2 in the
    // surviving subgraph, and the gate level is non-vacuous here
    assert(got.nonEmpty, "k=3 truss empty — gate would be vacuous")
    assert(got.forall(_._3 >= operators.Graph.TrussK - 2), got.take(5))
  }

  // ------------- q97 HyperANF -------------

  test("q97: path-graph neighborhood function is exact at this size; totals monotone; eff-diam rule holds") {
    // path 0-1-2-...-9: N(t) = 10 + 2*sum_{i=1..t}(10-i) pairs
    // (ordered pairs incl. self) — tiny balls, far below HLL error
    val pairs = (0L until 9L).map(i => (i, i + 1))
    val sym = symmetric(pairs)
    val got = operators.Graph.anfFrom(sym, rounds = 12, lgK = 12)
      .as[(Int, Long, Long, Int)].collect().toSeq.sortBy(_._1)
    def exactN(t: Int): Long =
      10L + 2L * (1 to t).map(i => math.max(10 - i, 0)).sum
    got.foreach { case (hop, est, _, _) =>
      assert(est == exactN(hop), s"hop $hop: est $est vs exact ${exactN(hop)}") }
    // monotone, final pct = 1e6, effective diameter consistent
    got.zip(got.tail).foreach { case (a, b) => assert(a._2 <= b._2) }
    assert(got.last._3 == 1000000L)
    val eff = got.head._4
    assert(got.forall(_._4 == eff))
    val firstOver = got.find(_._3 >= 900000L).get._1
    assert(eff == firstOver, s"eff_diam $eff vs first-≥90% hop $firstOver")
  }

  test("q97: sketch totals track the exact neighborhood function on the real graph (HLL tolerance)") {
    val prs = operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2)
      .select($"pa", $"pb").as[(Long, Long)].collect()
    // exact N(t) by local BFS from every node
    val adj = collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    prs.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val nodes = adj.keys.toSeq
    val exact = collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    nodes.foreach { s0 =>
      val dist = collection.mutable.Map(s0 -> 0)
      var front = Set(s0); var h = 0
      while (front.nonEmpty) {
        h += 1
        front = front.flatMap(adj(_)).filterNot(dist.contains)
        front.foreach(dist(_) = h)
      }
      dist.values.foreach { d => (d to 24).foreach(t => exact(t) += 1L) }
    }
    val got = operators.Graph.q97Anf(spark, sf)
      .as[(Int, Long, Long, Int)].collect().toSeq.sortBy(_._1)
    got.foreach { case (hop, est, _, _) =>
      val ex = exact(hop)
      val rel = math.abs(est - ex).toDouble / ex
      info(f"q97 hop $hop: est $est exact $ex (rel $rel%.4f)")
      // lgK=10 → ~3.25% RSE; totals average over per-node sketches,
      // but registers are shared across balls — allow a 3σ-class band
      assert(rel <= 0.10, s"hop $hop: est $est vs exact $ex (rel $rel)")
    }
    assert(got.last._3 == 1000000L && got.map(_._2).sliding(2).forall(w =>
      w.size < 2 || w(0) <= w(1)))
  }

  // ------------- p13 weight-proportional systematic sample -------------

  private def localP13(weights: Seq[Long], stride: Long): Seq[(Long, Long)] = {
    // grid {j*stride + 1 : j >= 0} over intervals [cum-w, cum)
    val cums = weights.scanLeft(0L)(_ + _).tail
    weights.indices.flatMap { i =>
      val (a, b) = (cums(i) - weights(i), cums(i))
      val copies = (0L to b / stride)
        .count(j => j * stride + 1 >= a && j * stride + 1 < b)
      if (copies >= 1) Some((i.toLong, copies.toLong)) else None
    }
  }

  test("p13 kernel: copies match the local grid replay on constructed weight patterns") {
    val cases = Seq(
      (Seq(3L, 1L, 4L, 1L, 5L), 5L),   // single-copy scatter
      (Seq(12L, 1L, 1L), 5L),           // heavy doc takes multiple copies
      (Seq(1L, 1L, 1L, 1L), 2L),        // uniform weights = p12-like stride
      (Seq(7L), 3L))                    // single doc
    cases.foreach { case (ws, stride) =>
      val docs = ws.zipWithIndex
        .map { case (w, i) => (i.toLong, "en", w) }
        .toDF("doc_id", "lang", "w")
      val got = Caches.scoped(operators.Sampling.p13Kernel(docs, stride, _)
        .select($"doc_id", $"copies").as[(Long, Long)]
        .collect().toSeq.sorted)
      assert(got == localP13(ws, stride),
        s"weights $ws stride $stride: got $got want ${localP13(ws, stride)}")
    }
  }

  test("p13: exact token budget and heavy-doc guarantees at the corpus SF") {
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", greatest(lit(1L), $"n_chars").as("w"))
    val totalW = docs.agg(sum($"w")).as[Long].head()
    val stride = operators.Sampling.P13Stride
    val out = operators.Sampling.p13WeightedSample(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    // budget exactness: total copies == number of grid points in [0, W)
    val wantTotal = (totalW + stride - 2) / stride
    assert(out.map(_._4).sum == wantTotal,
      s"total copies ${out.map(_._4).sum} != grid count $wantTotal")
    // no document heavier than the stride can be missed
    val heavy = docs.filter($"w" >= stride).as[(Long, Long)].collect().map(_._1).toSet
    val sampled = out.map(_._1).toSet
    assert(heavy.subsetOf(sampled), s"heavy docs missed: ${heavy diff sampled}")
    assert(out.nonEmpty)
  }

  // ------------- q88 diameter double-sweep -------------

  test("q88 kernel: double sweep is exact on a tree and finds the true far pair") {
    // caterpillar tree: path 0-1-2-3-4 with leaves 5,6 on node 1 and
    // 7 on node 3; true diameter = 4 (5..4 or 6..4). bfsHops from any
    // seed, argmax, sweep again — exact on trees (Magnien et al.).
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (1L, 5L), (1L, 6L), (3L, 7L))
    val sym = symmetric(pairs)
    val d1 = operators.Graph.bfsHops(sym, Seq(2L).toDF("seed"), rounds = 12)
      .select($"node", $"hops").as[(Long, Int)].collect().toMap
    assert(d1.size == 8 && d1(5L) == 2 && d1(4L) == 2)
    val far = d1.toSeq.maxBy { case (n, h) => (h, -n) }._1
    val d2 = operators.Graph.bfsHops(sym, Seq(far).toDF("seed"), rounds = 12)
      .select($"node", $"hops").as[(Long, Int)].collect().toMap
    assert(d2.values.max == 4, s"tree diameter must be exact: got ${d2.values.max}")
  }

  test("q88: budget-invariant at the oracle SF (rounds == rounds+1)") {
    val a = operators.Graph.q88Diameter(spark, sf, rounds = operators.Graph.DiameterRounds)
      .as[(Long, Int, Long, Int)].head()
    val b = operators.Graph.q88Diameter(spark, sf, rounds = operators.Graph.DiameterRounds + 1)
      .as[(Long, Int, Long, Int)].head()
    assert(a == b, s"BFS still expanding past the oracle's unrolled budget: $a vs $b")
    // far is at distance ecc_seed from the seed, so ecc(far) ≥ ecc(seed)
    assert(a._4 >= a._2, s"double-sweep bound below seed eccentricity: $a")
    assert(a._4 >= 1)
  }

  // ------------- q89 degree assortativity -------------

  test("q89 kernel: star graph is exactly -1; local Pearson recount matches") {
    // star K_{1,5}: every edge pairs deg-5 hub with deg-1 leaf — the
    // closed form r = -k²(k-1)²/(k²(k-1)²) = -1 exactly, no float slack
    val star = symmetric((1L to 5L).map(l => (0L, l)))
    val r = operators.Graph.assortativityStats(star)
      .select($"assortativity").as[Double].head()
    assert(r == -1.0, s"star must be exactly -1: $r")

    // caterpillar from the q88 spec: recount Pearson locally from the
    // edge list and compare to the engine's quantized value
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (1L, 5L), (1L, 6L), (3L, 7L))
    val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val xs = sym.map { case (a, _) => deg(a) }
    val ys = sym.map { case (_, b) => deg(b) }
    val m = sym.size.toLong
    val (sx, sxy, sx2) = (xs.sum, xs.zip(ys).map { case (x, y) => x * y }.sum,
      xs.map(x => x * x).sum)
    val expected = math.floor(
      (m * sxy - sx * sx).toDouble / (m * sx2 - sx * sx).toDouble * 1e6) / 1e6
    val got = operators.Graph.assortativityStats(symmetric(pairs))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((m, sx, sxy, sx2, expected)), s"got $got")
  }

  // ------------- q90 Markov removal-effect attribution -------------

  test("q90 solve: analytic removal effects on constructed chains") {
    // START→a→{CONV,NULL} 50/50: base absorption 0.5; removing the
    // only channel kills all conversion → effect 0.5, share 100%
    val one = operators.Analytics.markovRemovalEffects(spark,
      Array(("START", "a", 1L), ("a", "CONV", 1L), ("a", "NULL", 1L)),
      rounds = 40).as[(String, Long, Long, Long, Long)].collect()
    assert(one.toSeq == Seq(("a", 500000L, 0L, 500000L, 1000000L)))

    // two parallel paths: a always converts, b never does — removal
    // separates them (a carries ALL the effect) even though both are
    // "first touch" for half the journeys
    val two = operators.Analytics.markovRemovalEffects(spark,
      Array(("START", "a", 1L), ("START", "b", 1L),
        ("a", "CONV", 1L), ("b", "NULL", 1L)),
      rounds = 40).as[(String, Long, Long, Long, Long)].collect()
      .map { case (c, b, r, e, sh) => c -> ((b, r, e, sh)) }.toMap
    // (conv_base, conv_removed, effect, share)
    assert(two("a") == ((500000L, 0L, 500000L, 1000000L)), two)
    assert(two("b") == ((500000L, 500000L, 0L, 0L)), two)
  }

  test("q90: fixed point within budget (rounds == rounds+1) and removal is monotone") {
    val T = operators.Analytics.AttributionRounds
    val x = operators.Analytics.q90MarkovAttribution(spark, sf, rounds = T)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val y = operators.Analytics.q90MarkovAttribution(spark, sf, rounds = T + 1)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(x == y, s"value iteration still moving past the unrolled budget:\n$x\n$y")
    assert(x.nonEmpty && x.head._2 > 0, "no conversion mass on the real stream")
    // removing a channel can only lose conversion mass (monotone map,
    // pin-to-zero is a lower bound of the base run)
    x.foreach { case (c, base, removed, eff, _) =>
      assert(removed <= base && eff == base - removed, s"$c: $base → $removed")
    }
  }

  // ------------- q95 degree distribution -------------

  test("q95: histogram conserves nodes and the CCDF is a proper tail function") {
    val rows = operators.Graph.q95DegreeDist(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.nonEmpty)
    // at the minimum degree every node qualifies: CCDF = 1e6 exactly
    assert(rows.head._3 == 1000000L, rows.head)
    // monotone nonincreasing tail, positive bins
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a._3 >= b._3, s"$a vs $b"); assert(b._2 > 0) }
    // conservation: histogram mass equals q94's independent node count
    val nNodes = operators.Graph.q94Robustness(spark, sf)
      .select($"n_nodes").as[Long].head()
    assert(rows.map(_._2).sum == nNodes, s"${rows.map(_._2).sum} vs $nNodes")
  }

  // ------------- t18 cross-corpus surprisal -------------

  test("t18: scores exactly the B half; OOV-heavy docs score above in-reference docs") {
    import org.apache.spark.sql.functions._
    val out = operators.TextAnalysis.t18CrossSurprisal(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val mid = Tables.documents(spark, sf)
      .agg(expr("(max(doc_id) + 1) div 2")).as[Long].head()
    assert(out.nonEmpty && out.forall(_._1 >= mid))
    assert(out.forall(_._3 > 0))
    // a doc whose tokens all appear in the reference scores strictly
    // below the OOV ceiling -log2(1/(N+V))
    val (nTotal, v) = {
      val tok = Tables.documents(spark, sf)
        .select($"doc_id", explode(graft.functions.TextFunctions.tokens($"text"))
          .as("t")).filter($"t" =!= "" && $"doc_id" < mid)
      val c = tok.groupBy($"t").count()
      (c.agg(sum($"count")).as[Long].head(), c.count())
    }
    val ceiling = -math.log((1.0) / (nTotal + v)) / math.log(2.0)
    out.foreach { case (id, _, sp) =>
      assert(sp <= ceiling + 1e-6, s"doc $id surprisal $sp above OOV ceiling $ceiling") }
  }

  // ------------- q94 attack robustness -------------

  test("q94: hub removal shrinks the graph consistently") {
    val (n, m, lcc1, n2, lcc2, ret) = operators.Graph.q94Robustness(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(n > 0 && m > 0 && lcc1 <= n)
    // removing 10 hubs drops at least those nodes (plus any isolated)
    assert(n2 <= n - operators.Graph.RobustnessHubs, s"$n2 vs $n")
    assert(lcc2 <= lcc1 && lcc2 <= n2)
    assert(ret == lcc2 * 10000 / lcc1)
    // the removal must actually cost connectivity on this graph
    assert(ret < 10000, "hub removal left the LCC untouched")
  }

  // ------------- q93 trend slope -------------

  test("q93: per-nation slope matches a local OLS replay") {
    import org.apache.spark.sql.functions._
    val rows = Tables.orders(spark, sf)
      .select($"o_custkey", expr("cast(round(o_totalprice * 100) as bigint)"),
        expr("datediff(o_orderdate, date'1970-01-01') div 7"))
      .as[(Long, Long, Long)].collect()
    val nation = Tables.customer(spark, sf)
      .select($"c_custkey", $"c_nationkey").as[(Long, Int)].collect().toMap
    val names = Tables.nation(spark, sf)
      .select($"n_nationkey", $"n_name").as[(Int, String)].collect().toMap
    val minWk = rows.map(_._3).min
    val weekly = rows.groupBy { case (ck, _, wk) =>
        (names(nation(ck)), wk - minWk) }
      .map { case ((nm, x), rs) => (nm, x, rs.map(_._2).sum) }.toSeq
    val want = weekly.groupBy(_._1).map { case (nm, pts) =>
      val n = pts.size.toLong
      val sx = pts.map(_._2).sum; val sy = pts.map(_._3).sum
      val sxy = pts.map(p => p._2 * p._3).sum
      val sx2 = pts.map(p => p._2 * p._2).sum
      (nm, n, sx, sy, sxy, sx2,
        math.floor((n * sxy - sx * sy).toDouble /
          (n * sx2 - sx * sx).toDouble * 100) / 100.0)
    }.toSeq.sortBy(_._1)
    val got = operators.Analytics.q93TrendSlope(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == want, s"got ${got.take(2)}\nwant ${want.take(2)}")
  }

  // ------------- p16 source cap -------------

  test("p16: cap binds per source, keep-first policy, audit conserved") {
    import org.apache.spark.sql.functions._
    val out = operators.Sampling.p16SourceCap(spark, sf)
      .as[(String, Long, Long, Boolean, Long, Long)].collect().toSeq
    val total = Tables.documents(spark, sf).count()
    val cap = total * operators.Sampling.SourceCapPct / 100
    out.foreach { case (src, n, kept, capped, fp1, fp2) =>
      assert(kept == math.min(n, cap), s"$src: kept $kept of $n, cap $cap")
      assert(capped == (n > cap), s"$src: capped flag wrong")
      assert(fp1 > 0L && fp2 > 0L)
    }
    // keep-first: the kept set of one source is exactly its lowest
    // ids — replay the order-insensitive power-sum fingerprints
    val P = operators.Sampling.FpPrime
    def h(id: Long) = ((id % P) * operators.Sampling.FpMulA +
      operators.Sampling.FpAddB) % P
    val src = out.head._1
    val ids = Tables.documents(spark, sf).filter($"source" === src)
      .select($"doc_id").as[Long].collect().sorted.take(cap.toInt)
    assert(out.head._5 == ids.map(h).sum, s"kept_fp1 mismatch for $src")
    assert(out.head._6 == ids.map(id => h(id) * h(id) % P).sum,
      s"kept_fp2 mismatch for $src")
    // order-insensitivity is structural (sums commute); distinctness
    // across sources is the audit signal
    assert(out.map(_._5).distinct.size == out.size)
  }

  // ------------- q92 Wilson reliability ranking -------------

  test("q92: top-25 matches a local Wilson replay; bound demotes small-n rates") {
    import org.apache.spark.sql.functions._
    val pairs = Tables.orders(spark, sf).select($"o_orderkey", $"o_orderdate")
      .join(Tables.lineitem(spark, sf)
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey")
      .select($"l_suppkey", datediff($"l_shipdate", $"o_orderdate").as("lag"))
      .as[(Long, Int)].collect()
    def wilson(n: Long, k: Long): Long = {
      val nd = n.toDouble; val p = k.toDouble / nd
      math.floor((p + 2.0 / nd - 2.0 * math.sqrt(p * (1.0 - p) / nd +
        1.0 / (nd * nd))) / (1.0 + 4.0 / nd) * 1000000).toLong
    }
    val agg = pairs.groupBy(_._1).map { case (sk, rows) =>
      (sk, rows.size.toLong, rows.count(_._2 <= 60).toLong) }.toSeq
    val want = agg.map { case (sk, n, k) =>
      (sk, n, k, k * 10000 / n, wilson(n, k)) }
      .sortBy { case (sk, _, _, _, w) => (-w, sk) }.take(25)
    val got = operators.Analytics.q92Reliability(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got ${got.take(3)}\nwant ${want.take(3)}")
    // the point of the estimator: the bound is always below the raw
    // rate, and more data tightens it (same rate, larger n → higher lb)
    got.foreach { case (sk, n, k, r, w) =>
      assert(w <= r * 100, s"$sk: bound $w above rate ${r * 100}") }
    assert(wilson(1000, 950) > wilson(3, 3),
      "a 3-for-3 newcomer must rank below a 950-for-1000 veteran")
  }

  // ------------- s12 reciprocal-rank fusion -------------

  test("s12: fused top-5 matches an exact local two-ranker replay") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def q4(x: Double) = math.floor(x * 10000) / 10000.0
    val want = (0L until 5L).flatMap { q =>
      val qv = emb(q); val qn = math.sqrt(dot(qv, qv))
      val cands = emb.keys.filter(_ != q).toSeq
      def top(score: Long => Double) = cands
        .map(c => (c, score(c))).sortBy { case (c, sc) => (-sc, c) }
        .take(operators.Similarity.RrfDepth).zipWithIndex
        .map { case ((c, _), i) =>
          c -> 1000000L / (operators.Similarity.RrfK + i + 1) }
      val contribs = top(c => q4(dot(qv, emb(c)) / (qn * math.sqrt(dot(emb(c), emb(c)))))) ++
        top(c => q4(dot(qv, emb(c))))
      contribs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        .sortBy { case (c, sc) => (-sc, c) }.take(5).zipWithIndex
        .map { case ((c, sc), i) => (q, i + 1, c, sc) }
    }
    val got = operators.Similarity.s12Rrf(spark, sf)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got == want, s"got ${got.take(5)}\nwant ${want.take(5)}")
  }

  // ------------- s11 filtered ANN -------------

  test("s11: slates are full, label-pure, and pre-filtering beats post-filtering") {
    import org.apache.spark.sql.functions._
    val got = operators.Similarity.s11FilteredAnn(spark, sf)
      .as[(Long, Int, Int, Long, Double)].collect().toSeq
    // pre-filter keeps every slate full (3 per query)
    assert(got.groupBy(_._1).forall(_._2.size == 3), got)
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach { case (q, lbl, _, n, _) =>
      assert(labels(q) == lbl && labels(n) == lbl,
        s"query $q (label ${labels(q)}) got neighbor $n (label ${labels(n)})")
    }
    // post-filtering the UNFILTERED global top-3 by label must lose
    // rows somewhere (or the filter would be a no-op on this corpus)
    val postFiltered = operators.Similarity.s1KnnBrute(spark, sf)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
      .count { case (q, n) => labels(q) == labels(n) }
    assert(postFiltered < got.size,
      s"post-filter kept $postFiltered of ${got.size} — filter vacuous here")
  }

  // ------------- q91 streaming twin -------------

  test("lag stream: per-conversion emissions equal q91's batch lag table across batches") {
    import graft.streaming.EventStreams.Event
    import graft.streaming.LagStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.eventsWithMs(spark, sf)
      .select($"user_id", $"event_id", $"ms", $"event_type", $"value")
      .as[Event].collect().toSeq.sortBy(e => (e.ms, e.event_id))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Event]
    val q = LagStream.conversionLags(stream.toDS())
      .writeStream.format("memory").queryName("lag_stream_eq")
      .outputMode("append").start()
    try {
      // batch-monotone arrival in 4 slices — views and their purchases
      // routinely land in different micro-batches, driving the state
      events.grouped(events.size / 4 + 1).foreach { chunk =>
        stream.addData(chunk); q.processAllAvailable()
      }
      val got = spark.table("lag_stream_eq")
        .as[LagStream.ConversionLag].collect()
        .map(l => (l.user_id, l.ms, l.wk, l.lag_ms)).sorted.toSeq
      val want = operators.Analytics.q91Lags(spark, sf)
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(got.nonEmpty, "stream emitted nothing")
      assert(got == want,
        s"stream/batch diverged: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // ------------- q96 Shapley attribution -------------

  test("q96: dummy channel gets zero credit, symmetric channels equal credit, shares floor-sum to 1e6") {
    import org.apache.spark.sql.functions._
    // constructed game, K=3: a and b symmetric (identical marginal
    // contributions), d a dummy (adds nothing to any coalition)
    val co: Array[(Seq[String], Long, Long)] = Array(
      (Seq("a"), 100L, 40L), (Seq("b"), 100L, 40L),
      (Seq("a", "b"), 100L, 80L),
      (Seq("a", "d"), 100L, 40L), (Seq("b", "d"), 100L, 40L),
      (Seq("a", "b", "d"), 100L, 80L), (Seq("d"), 100L, 0L))
    val got = operators.Analytics
      .shapleyExact(spark, co, Seq("a", "b", "d"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(got("d")._1 == 0L, s"dummy credited: $got")
    assert(got("a")._1 == got("b")._1, s"symmetry broken: $got")
    assert(got("a")._2 == got("b")._2 && got("d")._2 == 0L)
    // real corpus: shares floor-sum to 1e6 within K floor slack
    val real = operators.Analytics.q96Shapley(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    val shareSum = real.map(_._4).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - real.length,
      s"share sum $shareSum")
    assert(real.forall(_._2 > 0), "journey counts must be positive")
  }

  test("q96 sampled: seed-deterministic and unbiased (mean over seeds converges to exact)") {
    val co: Array[(Seq[String], Long, Long)] = Array(
      (Seq("a"), 50L, 10L), (Seq("b"), 60L, 30L), (Seq("c"), 40L, 8L),
      (Seq("a", "b"), 80L, 56L), (Seq("a", "c"), 30L, 12L),
      (Seq("b", "c"), 20L, 11L), (Seq("a", "b", "c"), 90L, 72L))
    val chans = Seq("a", "b", "c")
    val exact = operators.Analytics.shapleyExact(spark, co, chans)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    val s1 = operators.Analytics
      .shapleySampled(spark, co, chans, 16, 7L)
      .as[(String, Long, Long, Long)].collect().toSeq
    val s2 = operators.Analytics
      .shapleySampled(spark, co, chans, 16, 7L)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(s1 == s2, "same seed must replay identically")
    // unbiasedness: mean phi over 40 seeds within 3% of each exact phi
    val means = (0 until 40).map { sd =>
      operators.Analytics.shapleySampled(spark, co, chans, 16, sd.toLong)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
    }
    chans.foreach { ch =>
      val mean = means.map(_(ch)).sum.toDouble / means.size
      val rel = math.abs(mean - exact(ch)) / math.abs(exact(ch)).toDouble
      info(f"q96 sampled $ch: mean $mean%.0f vs exact ${exact(ch)} (rel $rel%.3f)")
      assert(rel < 0.03, s"$ch mean $mean vs exact ${exact(ch)}")
    }
  }

  // ------------- s13 hybrid filtered ANN -------------

  test("s13: full probes reproduce s11 exactly; default probes are label-pure, full, and keyed on (label, cluster)") {
    import org.apache.spark.sql.functions._
    val exact = operators.Similarity.s11FilteredAnn(spark, sf).collect().toSeq
    val full = operators.Similarity
      .s13HybridAnn(spark, sf, operators.Similarity.IvfClusters).collect().toSeq
    assert(full == exact, "hybrid index path with full probes must equal s11")
    val approx = operators.Similarity.s13HybridAnn(spark, sf)
    val got = approx.as[(Long, Int, Int, Long, Double)].collect().toSeq
    // probed lists still fill every slate on this corpus, and stay label-pure
    assert(got.groupBy(_._1).forall(_._2.size == 3), got)
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach { case (q, lbl, _, n, _) =>
      assert(labels(q) == lbl && labels(n) == lbl, s"$q/$n label impurity") }
    // the candidate join must carry BOTH inverted-list keys — label AND
    // cluster — as broadcast-hash equi-keys (the scan-pruning shape)
    val p = approx.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val joinLines = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(joinLines.exists(l => l.contains("label") && l.contains("cluster")),
      s"hybrid join not keyed on (label, cluster): ${joinLines.mkString("\n")}")
    // recall floor vs the exact filtered slates (2/16 probes on
    // isotropic noise — the honest measured trade, s2's discipline)
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(3))).toSet
    val recall = got.count { case (q, _, _, n, _) => exactSet((q, n)) }
      .toDouble / exactSet.size
    info(f"s13 recall@3 vs s11 exact: $recall%.2f")
    assert(recall >= 0.2, s"recall $recall collapsed below the measured floor")
  }

  // ------------- t17 heavy-change drift -------------

  test("t17: top-20 drift matches a local integer replay") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val mid = (docs.map(_._1).max + 1) / 2
    val cnt = scala.collection.mutable.Map.empty[String, (Long, Long)]
    docs.foreach { case (id, text) =>
      text.split(" ", -1).filter(_.nonEmpty).foreach { t =>
        val (a, b) = cnt.getOrElse(t, (0L, 0L))
        cnt(t) = if (id < mid) (a + 1, b) else (a, b + 1)
      }
    }
    val ta = cnt.values.map(_._1).sum; val tb = cnt.values.map(_._2).sum
    val want = cnt.toSeq.collect { case (t, (a, b)) if a + b >= 5 =>
      val (sa, sb) = (a * 1000000L / ta, b * 1000000L / tb)
      (t, a, b, sa, sb, math.abs(sa - sb))
    }.sortBy { case (t, _, _, _, _, d) => (-d, t) }.take(20)
    val got = operators.TextAnalysis.t17HeavyChange(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == want, s"got ${got.take(3)}...\nwant ${want.take(3)}...")
  }

  // ------------- i7 schema-evolution read -------------

  test("i7: merged read widens v1 rows with nulls and loses no data") {
    import org.apache.spark.sql.functions._
    val out = operators.Ingest.i7SchemaEvolution(spark, sf).cache()
    try {
      assert(out.columns.toSet == Set("s_suppkey", "s_name", "s_acctbal"))
      val nSup = Tables.supplier(spark, sf).count()
      assert(out.count() == nSup)
      // exactly the v1 (odd-key) rows carry the null backfill
      assert(out.filter($"s_acctbal".isNull).select($"s_suppkey")
        .as[Long].collect().forall(_ % 2 == 1))
      assert(out.filter($"s_suppkey" % 2 === 0 && $"s_acctbal".isNull).count() == 0)
    } finally out.unpersist()
  }

  // ------------- p15 temperature mix -------------

  test("p15: budget conserved and τ=2 flattens the mix toward low-resource langs") {
    import org.apache.spark.sql.functions._
    val tau = operators.Sampling.p15TemperatureMix(spark, sf)
      .select($"lang", $"n_tok", $"alloc_tokens")
      .as[(String, Long, Long)].collect().toSeq
    val prop = operators.Sampling.p6MixAllocate(spark, sf)
      .select($"lang", $"alloc_tokens").as[(String, Long)].collect().toMap
    val budget = operators.Sampling.MixBudget
    assert(tau.map(_._3).sum == budget, tau)
    assert(prop.values.sum == budget)
    // temperature flattening: the token-richest language gives up share,
    // the token-poorest language gains it (strictly, on this corpus)
    val rich = tau.maxBy(_._2); val poor = tau.minBy(_._2)
    assert(rich._3 < prop(rich._1),
      s"rich ${rich._1}: τ=2 ${rich._3} not below proportional ${prop(rich._1)}")
    assert(poor._3 > prop(poor._1),
      s"poor ${poor._1}: τ=2 ${poor._3} not above proportional ${prop(poor._1)}")
    // still monotone: more tokens never allocates fewer
    val sorted = tau.sortBy(_._2)
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a._3 <= b._3, s"$a vs $b") }
  }

  // ------------- p17 general-τ temperature -------------

  test("p17: τ=1 equals p6 exactly, flattening is monotone in τ, and pow weights sit in a 1-unit band of a local reference") {
    import org.apache.spark.sql.functions._
    // τ=1 degenerates to p6's proportional allocation (micro-unit
    // weights are a constant multiple — Hamilton is scale-invariant)
    val tau1 = operators.Sampling.p17Kernel(spark, sf, 1.0)
      .select($"lang", $"alloc_tokens").as[(String, Long)].collect().toMap
    val prop = operators.Sampling.p6MixAllocate(spark, sf)
      .select($"lang", $"alloc_tokens").as[(String, Long)].collect().toMap
    assert(tau1 == prop, s"τ=1 diverged from proportional: $tau1 vs $prop")
    // flattening monotone in τ: the richest lang's share nonincreasing,
    // the poorest's nondecreasing, budget conserved at every τ
    val byTau = Seq(1.0, 2.0, 3.0, 4.0).map { t =>
      val rows = operators.Sampling.p17Kernel(spark, sf, t)
        .select($"lang", $"n_tok", $"alloc_tokens")
        .as[(String, Long, Long)].collect().toSeq
      assert(rows.map(_._3).sum == operators.Sampling.MixBudget, s"τ=$t")
      t -> rows
    }
    val seq = byTau.map { case (_, rows) =>
      (rows.maxBy(_._2)._3, rows.minBy(_._2)._3) }
    seq.zip(seq.tail).foreach { case ((rMax, rMin), (nMax, nMin)) =>
      assert(nMax <= rMax && nMin >= rMin, s"flattening not monotone: $seq") }
    // pow path (τ=3): micro-weights within 1 unit of StrictMath.pow —
    // floors may differ only at a quantization boundary (the honest
    // cross-engine promise for a non-correctly-rounded pow)
    val got = operators.Sampling.p17TemperaturePow(spark, sf)
      .select($"lang", $"n_tok", $"wq").as[(String, Long, Long)].collect()
    got.foreach { case (lang, n, wq) =>
      val ref = math.floor(StrictMath.pow(n.toDouble, 1.0 / 3.0) * 1000000).toLong
      assert(math.abs(wq - ref) <= 1L, s"$lang: wq $wq vs local ref $ref")
    }
  }

  // ------------- z3 bloom skip accounting -------------

  test("z3: bloom has no false negatives, prunes for real, and beats zone maps on point lookups") {
    val rows = operators.Layout.z3BloomSkip(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.size == operators.Layout.Z3Probes)
    rows.foreach { case (k, nb, zmB, _, blB, blR, exB, exR) =>
      // probes are real keys: ground truth nonempty
      assert(exB >= 1 && exR >= exB, s"key $k: $exB/$exR")
      // no false negatives: every true bucket (and its rows) admitted
      assert(blB >= exB && blR >= exR, s"key $k: bloom $blB/$blR vs exact $exB/$exR")
      assert(zmB <= nb && blB <= nb)
    }
    // the headline: on a column the layout doesn't cluster by, the
    // bloom admits fewer buckets than the min-max test in aggregate...
    val (zmTot, blTot, exTot) =
      (rows.map(_._3).sum, rows.map(_._5).sum, rows.map(_._7).sum)
    assert(blTot <= zmTot, s"bloom $blTot not under zone-map $zmTot")
    // ...and stays within a small false-positive margin of ground
    // truth (measured: +0 of 24 at sf0.001, +1 of 37 at sf0.01)
    assert(blTot <= exTot + 2 * rows.size,
      s"bloom fp margin blew up: $blTot vs exact $exTot")
  }

  // ------------- m13 beyond-accuracy slate metrics -------------

  test("m13: ILD and self-info novelty replay locally from slates, factors, popularity") {
    import org.apache.spark.sql.functions._
    val (nUsers, meanIld, meanSi) = ml.Recommender.m13SlateDiversity(spark, sf)
      .as[(Long, Double, Double)].head()
    assert(meanIld >= 0.0 && meanIld <= 2.0, meanIld) // 1 − cos ∈ [0, 2]
    assert(meanSi > 0.0, meanSi)

    val recs = ml.Recommender.m1AlsRecommend(spark, sf)
      .select($"c_custkey".cast("long"), $"p_partkey".cast("long"))
      .as[(Long, Long)].collect()
    val f = ml.Recommender.itemIvf(spark, sf)._1
      .select($"id".cast("long"), $"v").as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      a.zip(b).map { case (x, y) => x * y }.sum /
        (if (na == 0) 1.0 else na) / (if (nb == 0) 1.0 else nb)
    }
    val slates = recs.groupBy(_._1).values.map(_.map(_._2))
    assert(slates.size == nUsers)
    val ilds = slates.map { items =>
      val ds = for { i <- items.indices; j <- (i + 1) until items.length }
        yield 1.0 - cos(f(items(i)), f(items(j)))
      ds.sum / ds.size
    }
    // float-sum order differs distributed vs local: one quantum slack
    assert(math.abs(ilds.sum / ilds.size - meanIld) <= 2e-4,
      s"ILD replay ${ilds.sum / ilds.size} vs $meanIld")

    val ratings = ml.Recommender.ratings(spark, sf)
      .select($"user".cast("long"), $"item".cast("long")).as[(Long, Long)].collect()
    val nU = ratings.map(_._1).distinct.length.toDouble
    val popCount = ratings.groupBy(_._2).map { case (i, rs) => i -> rs.length }
    val sis = recs.map { case (_, i) =>
      -math.log(popCount(i) / nU) / math.log(2.0) }
    assert(math.abs(sis.sum / sis.length - meanSi) <= 2e-4,
      s"self-info replay ${sis.sum / sis.length} vs $meanSi")
  }

  // ------------- q91 conversion-lag distribution -------------

  test("q91: weekly lag rollup matches a local latest-prior-view replay") {
    import org.apache.spark.sql.functions._
    val events = Tables.eventsWithMs(spark, sf)
      .select($"user_id", $"ms", $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
      .sortBy { case (u, ms, id, _) => (u, ms, id) }
    val lags = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var lastUser = -1L
    var lastView = Option.empty[Long]
    events.foreach { case (u, ms, _, tpe) =>
      if (u != lastUser) { lastUser = u; lastView = None }
      if (tpe == "purchase") lastView.foreach(v => lags += ((ms / 604800000L, ms - v)))
      if (tpe == "view") lastView = Some(ms)
    }
    val want = lags.groupBy(_._1).map { case (wk, ls) =>
      (wk, ls.size.toLong, ls.map(_._2).sum / ls.size) }.toSet
    val got = operators.Analytics.q91ConversionLag(spark, sf)
      .select($"wk", $"n_conv", $"avg_lag_ms")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"got $got\nwant $want")
  }

  // ------------- t16 marginal n-gram novelty -------------

  test("t16: novelty credit is conserved and the earliest doc is fully novel") {
    import org.apache.spark.sql.functions._
    val out = operators.TextAnalysis.t16Novelty(spark, sf).cache()
    try {
      // every distinct corpus shingle is credited to exactly one doc
      val creditSum = out.agg(sum($"n_novel")).as[Long].head()
      val distinctShingles = Tables.documents(spark, sf)
        .select(explode(graft.functions.TextFunctions.shingles($"text", 3))
          .as("sh")).select($"sh").distinct().count()
      assert(creditSum == distinctShingles, s"$creditSum vs $distinctShingles")
      // the earliest doc with any shingles can only see first-time content
      val firstRow = out.orderBy($"doc_id").select($"novelty").as[Double].head()
      assert(firstRow == 1.0)
      val bounds = out.agg(min($"novelty"), max($"novelty")).as[(Double, Double)].head()
      assert(bounds._1 >= 0.0 && bounds._2 <= 1.0, bounds)
    } finally out.unpersist()
  }

  // ------------- s10 MMR diversified top-k -------------

  test("s10 kernel: MMR defers a redundant near-duplicate that pure relevance keeps") {
    // 1 and 2 near-identical (sim .99) and most relevant; 3 slightly
    // less relevant but dissimilar. Pure top-2 = {1,2}; MMR(λ=.7)
    // picks 1 then 3: score(2) = 7·9000−3·9900 = 33300 <
    // score(3) = 7·8000−3·1000 = 53000.
    val rel = Map(1L -> 9001L, 2L -> 9000L, 3L -> 8000L)
    val sims = Map[(Long, Long), Long](
      (1L, 2L) -> 9900L, (2L, 1L) -> 9900L,
      (1L, 3L) -> 1000L, (3L, 1L) -> 1000L,
      (2L, 3L) -> 1000L, (3L, 2L) -> 1000L)
    val slate = operators.Similarity.mmrGreedy(rel, sims, k = 2, lam = 7L)
    assert(slate.map(_._2) == Seq(1L, 3L), slate)
    assert(slate == Seq((1, 1L, 9001L, 63007L), (2, 3L, 8000L, 53000L)), slate)
  }

  test("s10: slate reorders pure relevance and greedy scores are monotone") {
    val got = operators.Similarity.s10Mmr(spark, sf)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got.size == operators.Similarity.MmrK)
    // rank 1 is the pure-relevance argmax...
    assert(got.head._3 == got.map(_._3).max)
    // ...but the rest of the slate is NOT the pure top-k prefix —
    // diversity actually displaced something on this corpus
    val byRel = got.map(_._3)
    assert(byRel != byRel.sortBy(-_), s"MMR degenerated to pure relevance: $got")
    // each step's winning score can only shrink (max-sim penalty grows)
    val scores = got.map(_._4)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, scores)
  }

  // ------------- q87 sequential association rules -------------

  test("q87: top-25 sequential rules match a local first-purchase replay") {
    val cp = graft.Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey")
      .join(graft.Tables.orders(spark, sf)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey", $"l_partkey")
      .agg(datediff(min($"o_orderdate"), to_date(lit("1990-01-01")))
        .cast("long").as("d"))
      .as[(Long, Long, Long)].collect()
    val byCust = cp.groupBy(_._1)
    val nCust = cp.groupBy(_._2).map { case (p, rs) => p -> rs.size.toLong }
    val nAll = byCust.size.toLong
    val seqCount = collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    byCust.values.foreach { rows =>
      for ((_, pa, da) <- rows; (_, pb, db) <- rows if da < db)
        seqCount((pa, pb)) += 1L
    }
    def q4d(x: Double) = math.floor(x * 10000) / 10000.0
    val want = seqCount.filter(_._2 >= 3L).toSeq.map { case ((a, b), n) =>
      (a, b, n, q4d(n.toDouble / nCust(a)),
        q4d(nAll.toDouble * n / (nCust(a) * nCust(b))))
    }.sortBy { case (a, b, n, conf, _) => (-n, -conf, a, b) }.take(25)
    val got = operators.Analytics.q87SeqRules(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == want, s"got ${got.take(3)} want ${want.take(3)}")
    assert(got.size == 25)
  }

  // ------------- p14 keep-best dedup transversal -------------

  test("p14: keeps exactly the max-quality doc per dup group, min-id on ties; singletons survive") {
    val labels = operators.Dedup.d6DupGroups(spark, sf)
      .as[(Long, Long)].collect().toMap
    val quality = operators.TextAnalysis.t2QualityScore(spark, sf)
      .select($"doc_id", (floor($"quality" * 10000 + 0.5)).cast("long"))
      .as[(Long, Long)].collect().toMap
    val allDocs = graft.Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val want = allDocs.groupBy(d => labels.getOrElse(d, d)).map {
      case (grp, members) =>
        val keep = members.maxBy(d => (quality(d), -d))
        (keep, grp)
    }
    val got = operators.Dedup.p14KeepBest(spark, sf)
      .select($"doc_id", $"group_id").as[(Long, Long)].collect().toMap
    assert(got == want, s"diff: ${(got.toSet diff want.toSet).take(3)} / ${(want.toSet diff got.toSet).take(3)}")
    // one keeper per group, singletons all present
    assert(got.values.toSeq.distinct.size == got.size)
    val singletons = allDocs.filterNot(labels.contains)
    assert(singletons.subsetOf(got.keySet))
  }
}
