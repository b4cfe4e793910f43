package graft

import org.apache.spark.sql.functions._

/** Round-13 hardening: the Louvain zero-move-round early exit (must be
  * BIT-IDENTICAL to the full budget the DuckDB oracle unrolls), the
  * loud color-budget guards, and the q103 cache-hygiene fix. */
class Round13Spec extends GraftSpecBase {
  import spark.implicits._

  private def symmetric(pairs: Seq[(Long, Long)]) = {
    val df = pairs.toDF("pa", "pb")
    df.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(df.select($"pb".as("src"), $"pa".as("dst")))
  }

  // ------------- q101/q102: zero-move round early exit -------------

  private val bridgedTriangles = Seq((1L, 2L), (2L, 3L), (1L, 3L),
    (11L, 12L), (12L, 13L), (11L, 13L), (3L, 11L))

  private def graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(31)
    val random = (for (_ <- 1 to 150) yield {
      val a = rnd.nextInt(50).toLong; val b = rnd.nextInt(50).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val prs = operators.Graph.copurchaseHalf(spark, sf)
      .select($"pa", $"pb").as[(Long, Long)].collect().toSeq
    Seq("bridged triangles" -> bridgedTriangles,
      "seeded random" -> random,
      "sf0.001 co-purchase" -> prs)
  }

  test("louvainMoves: early exit == full budget, with strictly fewer class steps, on constructed + real graphs") {
    // the absorbing-fixed-point claim: a round that applies no move
    // freezes the labeling, volumes are a pure function of the
    // labeling, so every later budgeted round replays as the
    // identity. The exiting engine must be BIT-identical to the
    // full-budget reference (what the oracle unrolls), at a budget
    // well past convergence.
    val budget = operators.Graph.LouvainRounds + 3
    for ((name, pairs) <- graphs) {
      val edges = symmetric(pairs).cache()
      val colored = operators.Graph.trialColoring(
          edges, operators.Graph.SemiColoringRounds)._1.cache()
      val color = colored.as[(Long, Int)].collect().toMap
      val s0 = operators.Graph.louvainMoveSteps.get
      val exited = operators.Graph.louvainMoves(edges,
          colored.select($"node", $"color", $"node".as("lbl")),
          operators.Graph.SemiColors, budget)
        .as[(Long, Long)].collect().toMap
      val exitSteps = operators.Graph.louvainMoveSteps.get - s0
      assert(exited == LouvainReference.moves(pairs, color, budget),
        s"$name: early exit diverged from the full-budget reference")
      // a full-budget run takes exactly budget × nColors class steps.
      // The exit is an optimization; equality above is the contract.
      // A graph that still moves in every budgeted round runs them all
      // (measured at sf0.001: 169/62/30/20/17/13 moves); the bridged
      // triangles reach a fixed point inside the budget and must
      // actually fire the exit.
      val fullSteps = budget * color.values.max
      assert(exitSteps <= fullSteps,
        s"$name: exit ran MORE steps ($exitSteps vs $fullSteps)")
      if (name == "bridged triangles")
        assert(exitSteps < fullSteps,
          s"$name: exit never fired ($exitSteps vs $fullSteps steps)")
      edges.unpersist(); colored.unpersist()
    }
  }

  test("louvainMovesW: early exit == full budget under the q102 freshTot policy") {
    // phase 2's weighted moves on the q102 construction: the exiting
    // engine against the full-budget weighted reference (per-step
    // volumes are a pure function of the labeling, so the absorbing
    // argument holds for phase 2 too)
    val edges = symmetric(bridgedTriangles).cache()
    val l1 = operators.Graph.louvainMoves(edges,
      operators.Graph.trialColoring(edges, operators.Graph.SemiColoringRounds)
        ._1.select($"node", $"color", $"node".as("lbl")),
      operators.Graph.SemiColors)
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
      .cache()
    val budget = operators.Graph.LouvainP2Rounds + 3
    val exited = operators.Graph.louvainMovesW(cross, strength, m2w,
        col2.select($"node", $"color", $"node".as("lbl")), budget,
        operators.Graph.LouvainP2Colors)
      .as[(Long, Long)].collect().toMap
    val color2 = col2.as[(Long, Int)].collect().toMap
    val full = LouvainReference.movesW(
      cross.as[(Long, Long, Long)].collect().toSeq,
      strength.as[(Long, Long)].collect().toMap, BigInt(m2w), color2,
      color2.keys.map(v => v -> v).toMap, budget)
    assert(exited == full, "weighted early exit diverged from full budget")
    le.unpersist(); edges.unpersist(); col2.unpersist()
  }

  test("q101/q103 registry results are unchanged by the early exit (vs forced full budget) at sf0.001") {
    // the registry surface itself: the memoized q101 labeling (the
    // input of q102 and q103) must equal the full-budget reference
    // over the memoized coloring, label-for-label (the sf0.01 oracle
    // hash gates this too; this pins it at the spec SF)
    val pairs = operators.Graph.copurchaseHalf(spark, sf)
      .select($"pa", $"pb").as[(Long, Long)].collect().toSeq
    val color = operators.Graph.semiColoredMemo(spark, sf)
      .as[(Long, Int)].collect().toMap
    val got = operators.Graph.louvainLabels(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got == LouvainReference.moves(pairs, color,
        operators.Graph.LouvainRounds),
      "default-budget labeling diverged from the full-budget reference")
  }

  // ------------- loud color-budget guards -------------

  test("louvainMovesW raises loudly when the coloring exceeds the oracle's class budget") {
    // a path P4 colored 1-2-3-4 (an improper budget-buster stand-in:
    // any valid coloring works — the guard reads only max(color));
    // the oracle would unroll 2 classes, the engine would sweep 4 —
    // the guard must refuse rather than diverge silently
    val edges = symmetric(Seq((1L, 2L), (2L, 3L), (3L, 4L))).cache()
    val init = Seq((1L, 1, 1L), (2L, 2, 2L), (3L, 3, 3L), (4L, 4, 4L))
      .toDF("node", "color", "lbl")
    val e = intercept[IllegalArgumentException] {
      operators.Graph.louvainMoves(edges, init, colorBudget = 2)
    }
    assert(e.getMessage.contains("budget"), e.getMessage)
    // same coloring inside the budget: runs fine
    val ok = operators.Graph.louvainMoves(edges, init, colorBudget = 4)
    assert(ok.count() == 4)
    edges.unpersist()
  }

  test("semiSweeps raises loudly when the coloring exceeds the oracle's class budget") {
    val edges = symmetric(Seq((1L, 2L), (2L, 3L), (3L, 4L))).cache()
    val col = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4)).toDF("node", "color")
    val e = intercept[IllegalArgumentException] {
      operators.Graph.semiSweeps(edges, col, colorBudget = 2)
    }
    assert(e.getMessage.contains("budget"), e.getMessage)
    val ok = operators.Graph.semiSweeps(edges, col, colorBudget = 4)
    assert(ok.count() == 4)
    edges.unpersist()
  }

  // ------------- q101 phase-1 per-step volumes (round 13) -------------

  test("q101 shipped policy: distributed moves == per-step local reference on constructed + real graphs") {
    val k23 = Seq((10L, 3L), (10L, 7L), (10L, 11L),
      (20L, 3L), (20L, 7L), (20L, 11L))
    for ((name, pairs) <- graphs :+ ("K23" -> k23)) {
      val edges = symmetric(pairs).cache()
      val colored = operators.Graph.trialColoring(
        edges, operators.Graph.SemiColoringRounds)._1
      val init = colored.select($"node", $"color", $"node".as("lbl"))
      val got = operators.Graph.louvainMoves(edges, init,
          operators.Graph.SemiColors)
        .as[(Long, Long)].collect().toMap
      val color = colored.as[(Long, Int)].collect().toMap
      val want = LouvainReference.moves(pairs, color,
        operators.Graph.LouvainRounds)
      assert(got == want, s"$name: per-step moves diverged from reference")
      edges.unpersist()
    }
  }

  // ------------- s15: persisted serving-graph layout -------------

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  test("s15 graph: a restart serves from the persisted layout with zero rebuilds") {
    import operators.Similarity
    val dir = sf
    // cold start: no layout on disk, no in-session memo
    deleteRec(Similarity.s15LayoutDir(spark, dir))
    Caches.evict("knn_graph", dir)
    val b0 = Similarity.knnGraphBuilds.get()
    val rows1 = Similarity.s15GraphAnn(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(Similarity.knnGraphBuilds.get() == b0 + 1,
      "cold start must build once")
    assert(new java.io.File(Similarity.s15LayoutDir(spark, dir), "_COMPLETE").exists(),
      "layout marker missing after build")
    // restart shape: the session memo is gone, the layout survives —
    // serving must RELOAD the adjacency, not re-run the kNN build
    Caches.evict("knn_graph", dir)
    val g = Similarity.knnGraphIndex(spark, dir)
    val rows2 = Similarity.s15GraphAnn(spark, dir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(Similarity.knnGraphBuilds.get() == b0 + 1,
      "restart re-ran the kNN build instead of reloading the layout")
    assert(rows1 == rows2, "reloaded graph served different neighbors")
    assert(rows1.nonEmpty, "vacuous restart check — no results at all")
    // the reloaded layout still carries the NSW symmetry invariant
    val asym = g.select($"src", $"dst")
      .exceptAll(g.select($"dst".as("src"), $"src".as("dst")))
    assert(asym.isEmpty, "persisted graph lost one-way-link symmetry")
  }

  // ------------- m14/m15: Gram + PCA -------------

  test("m14: gram matrix == local BigInt replay of the quantization + triangle") {
    import graft.ml.Pca
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    assert(emb.nonEmpty)
    val q = emb.map { case (_, e) =>
      e.map(x => math.floor(x.toDouble * Pca.QScale).toLong).toArray }
    val d = Pca.Dim
    val want = (for { i <- 0 until d; j <- i until d }
      yield (i, j, q.map(v => BigInt(v(i)) * BigInt(v(j))).sum.toLong)).toSeq
    val got = Pca.m14Gram(spark, sf).as[(Int, Int, Long)].collect().toSeq
    assert(got == want, "distributed gram diverged from local replay")
  }

  test("m14: the gram pass is ONE two-phase aggregate — no Expand/Generate row blow-up") {
    import graft.ml.Pca
    // the scale claim gram_agg exists for: the naive SQL formulation
    // posexplodes d(d+1)/2 rows per input row; the custom aggregate
    // must plan as a partial-then-merge aggregation over the bare
    // scan, with no Generate (explode) or Expand anywhere
    val q = Tables.embeddings(spark, sf)
      .select(transform($"embedding",
        x => floor(x.cast("double") * Pca.QScale).cast("long")).as("qv"))
    val df = q.agg(call_function("gram_agg", $"qv", lit(Pca.Dim)).as("g"))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("partial_gram_agg"), p)
    assert(!p.contains("Expand"), p)
    assert(!p.contains("Generate"), p)
  }

  test("m15: spectrum descending + orthonormal; projection variance ≈ eigenvalue; rerun identical") {
    import graft.ml.Pca
    val (evals, w, _) = Pca.principalComponents(spark, sf)
    assert(evals.toSeq.sliding(2).forall(p => p(0) >= p(1) - 1e-9),
      "eigenvalues not descending")
    // the Jacobi rotations are orthogonal by construction; this pins
    // the implementation didn't lose it (and the sign canonicalization
    // kept unit norms)
    for (a <- 0 until Pca.TopK; b <- a until Pca.TopK) {
      val dotab = (0 until Pca.Dim).map(i => w(a)(i) * w(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dotab - expect) < 1e-9, s"w($a).w($b) = $dotab")
    }
    // the chain tie: the population variance of each projected
    // component must equal its eigenvalue (PCA's defining property),
    // up to the 2^-20 input quantization and the q4 output floors
    val pc = Pca.m15Pca(spark, sf).as[(Long, Seq[Double])].collect()
    for (k <- 0 until Pca.TopK) {
      val xs = pc.map(_._2(k))
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      assert(math.abs(v - evals(k)) <= 1e-3 + 0.01 * math.abs(evals(k)),
        s"component $k: projected variance $v vs eigenvalue ${evals(k)}")
    }
    // eigen-spectrum mass: Σ all eigenvalues == trace(C) (rotation
    // invariant), and the kept head carries real variance
    val again = Pca.m15Pca(spark, sf).as[(Long, Seq[Double])].collect()
    assert(again.toSeq == pc.toSeq, "m15 not rerun-identical")
    assert(evals.take(Pca.TopK).sum > 0.0, "degenerate spectrum")
  }

  // ------------- q103 cache hygiene -------------

  test("q103: result is materialized before the edge cache drops (reuse-safe), values unchanged") {
    val df = operators.Graph.q103Conductance(spark, sf)
    // two actions on the returned frame: both must see the same rows
    // without recomputing the co-purchase join uncached (the r12
    // ADVICE leak — correctness face: repeated actions stay identical)
    val a = df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    val b = df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(a == b && a.nonEmpty)
    val (volSum, cutSum) = df.agg(sum($"volume"), sum($"cut_edges"))
      .as[(Long, Long)].head()
    val edges = operators.Graph.copurchaseEdges(spark, sf).cache()
    assert(volSum == edges.count(), "volumes must sum to |e|")
    assert(cutSum >= 0)
    edges.unpersist()
  }
}
