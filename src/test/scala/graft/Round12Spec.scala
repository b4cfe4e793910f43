package graft

import org.apache.spark.sql.functions._

/** Round-12 hardening: the hub-safe trial-coloring palette and the
  * pending-class sweep skip — both must be BIT-IDENTICAL to the full
  * forms the DuckDB oracle replays. */
class Round12Spec extends GraftSpecBase {
  import spark.implicits._

  private def symmetric(pairs: Seq[(Long, Long)]) = {
    val df = pairs.toDF("pa", "pb")
    df.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(df.select($"pb".as("src"), $"pa".as("dst")))
  }

  // ------------- hub-safe free palette -------------

  test("freePalette: a 1M-degree hub's palette row stays O(|used| + W), not O(deg)") {
    // the scale guard itself: with deg = 1e6 the OLD sequence(1, deg+1)
    // materialized a million-element array per round; the bounded form
    // must stay |used| + W elements and still start at the same colors
    val w = operators.Graph.SemiPickWindow
    val row = Seq((1000000L, Seq(1L, 2L, 3L))).toDF("deg", "used")
      .select(operators.Graph.freePalette($"deg", $"used").as("free"))
      .select(size($"free").as("n"), $"free")
      .as[(Int, Seq[Long])].head()
    assert(row._1 <= 3 + w, s"palette row has ${row._1} elements")
    assert(row._2 == (4L to (3 + w).toLong), s"unexpected palette ${row._2}")
  }

  test("freePalette: windowed pick identical to the full [1..deg+1] palette (sweep)") {
    // exhaustive over small degrees x used-subsets x all prios mod W:
    // the truncation must never change min(|free|, W) or the indexed
    // element — this is the bit-identity the oracle replay rests on
    val w = operators.Graph.SemiPickWindow
    val cases = for {
      deg <- 1 to 9
      usedBits <- 0 until (1 << deg) // any subset of [1..deg] used
    } yield (deg.toLong, (1 to deg).filter(i => (usedBits & (1 << (i - 1))) != 0).map(_.toLong))
    val df = cases.toDF("deg", "used")
      .select($"deg", $"used",
        operators.Graph.freePalette($"deg", $"used").as("trunc"),
        array_except(sequence(lit(1L), $"deg" + 1L), $"used").as("full"))
    val bad = df.filter(
      // picks diverge iff the modulus differs or any of the first
      // min(|full|, W) elements differ
      least(size($"trunc"), lit(w)) =!= least(size($"full"), lit(w)) ||
      slice($"trunc", 1, w) =!= slice($"full", 1, w))
    assert(bad.isEmpty, s"pick-divergent cases: ${bad.take(3).mkString(", ")}")
  }

  // ------------- pending-class sweep skip -------------

  /** Full-schedule reference: every class swept every round (what the
    * DuckDB oracle unrolls), replayed locally from Spark's own
    * coloring. Keep-current-if-argmax, min-label ties, classes in
    * ascending color order, simultaneous within a class (classes are
    * independent sets, so simultaneous == sequential). */
  private def fullScheduleLpa(edges: Seq[(Long, Long)],
      color: Map[Long, Int], rounds: Int): Map[Long, Long] = {
    val adj = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nColors = color.values.max
    val lbl = collection.mutable.Map(adj.keys.toSeq.map(v => v -> v): _*)
    var round = 0
    var stable = false
    while (round < rounds && !stable) {
      val before = lbl.toMap
      for (c <- 1 to nColors) {
        val upd = adj.keys.filter(color(_) == c).flatMap { v =>
          val cnt = adj(v).groupBy(lbl).view.mapValues(_.size).toMap
          val best = cnt.keys.maxBy(l =>
            (cnt(l), if (l == lbl(v)) 1 else 0, -l))
          Some(v -> best)
        }
        upd.foreach { case (v, l) => lbl(v) = l }
      }
      stable = lbl.toMap == before
      round += 1
    }
    lbl.toMap
  }

  test("q84 engine: skip schedule == full schedule on constructed graphs") {
    // graphs chosen to exercise the skip paths: K_{2,3} (the 2-cycle
    // graph), two cliques joined by a bridge (classes stabilize at
    // different rounds), and a seeded 40-node random graph (mixed
    // degrees, multiple components)
    val rnd = new scala.util.Random(42)
    val random = (for (_ <- 1 to 120) yield {
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val graphs = Seq(
      "K23" -> Seq((10L, 3L), (10L, 7L), (10L, 11L), (20L, 3L), (20L, 7L), (20L, 11L)),
      "bridged cliques" -> (
        (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
        (for { a <- 11L to 14L; b <- 11L to 14L if a < b } yield (a, b)) ++
        Seq((4L, 11L))),
      "seeded random" -> random)
    for ((name, pairs) <- graphs) {
      val edges = symmetric(pairs).cache()
      val got = operators.Graph.semiSyncLabels(edges)
        .as[(Long, Long)].collect().toMap
      val (colDf, _) = operators.Graph.trialColoring(
        edges, operators.Graph.SemiColoringRounds)
      val color = colDf.as[(Long, Int)].collect().toMap
      val want = fullScheduleLpa(pairs, color, operators.Graph.SemiLpaRounds)
      assert(got == want, s"$name: skip schedule diverged from full schedule")
      edges.unpersist()
    }
  }

  test("q84 engine: classes are actually skipped after stabilization") {
    // two disjoint triangles: every node labels to its triangle min in
    // round 1; every later sweep is identity, so the pending skip must
    // execute strictly fewer steps than rounds x colors
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (11L, 12L), (12L, 13L), (11L, 13L))
    val edges = symmetric(pairs).cache()
    val (colDf, _) = operators.Graph.trialColoring(
      edges, operators.Graph.SemiColoringRounds)
    val nColors = colDf.agg(max($"color")).as[Int].head()
    val before = operators.Graph.lpaSweepSteps.get()
    val lbl = operators.Graph.semiSyncLabels(edges)
      .as[(Long, Long)].collect().toMap
    val steps = operators.Graph.lpaSweepSteps.get() - before
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L))
    // full schedule would run >= 2 full rounds (one to change, one to
    // observe stability) = 2 * nColors steps minimum; the skip form
    // pays the full first round plus only the touched tail
    assert(steps < 2 * nColors,
      s"$steps sweep steps with $nColors colors — nothing was skipped")
    edges.unpersist()
  }

  // ------------- persisted d11 index layout -------------

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  test("d11 index: a restart serves from the persisted layout with zero rebuilds") {
    import operators.Dedup
    val dir = sf
    // cold start: no layout on disk, no in-session memo
    deleteRec(Dedup.d11LayoutDir(spark, dir))
    Caches.evict("d11_index", dir)
    val newIdx = Dedup.incSigFrame(
      Tables.documents(spark, dir).filter($"doc_id" % 2 === 1)).cache()
    val b0 = Dedup.incIndexBuilds.get()
    val (docIdx1, bandIdx1) = Dedup.d11Index(spark, dir)
    val rows1 = Dedup.d11Match(newIdx, docIdx1, bandIdx1)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(Dedup.incIndexBuilds.get() == b0 + 1, "cold start must build once")
    assert(new java.io.File(Dedup.d11LayoutDir(spark, dir), "_COMPLETE").exists(),
      "layout marker missing after build")
    // restart shape: the session memo is gone, the layout survives —
    // serving must RELOAD, not rebuild (incIndexBuilds unchanged)
    Caches.evict("d11_index", dir)
    val (docIdx2, bandIdx2) = Dedup.d11Index(spark, dir)
    val rows2 = Dedup.d11Match(newIdx, docIdx2, bandIdx2)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(Dedup.incIndexBuilds.get() == b0 + 1,
      "restart re-scanned the old corpus instead of reloading the layout")
    assert(rows1 == rows2, "reloaded index served different pairs")
    assert(rows1.nonEmpty, "vacuous restart check — no pairs at all")
    newIdx.unpersist()
  }

  // ------------- d10 mega-cluster guards -------------

  /** The UNCOMPRESSED SemDeDup semantics, replayed locally: order by
    * (floor(cos-to-centroid * 1e6), id); drop iff some earlier
    * cluster-mate is τ-close (cos(0, ·) = 0, the cosine() contract). */
  private def localSemDedup(rows: Seq[(Long, Array[Double], Int)],
      centers: Array[Array[Double]], tau: Double): Map[Long, Boolean] = {
    def dotp(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Double], b: Array[Double]) = {
      val nn = math.sqrt(dotp(a, a)) * math.sqrt(dotp(b, b))
      if (nn == 0.0) 0.0 else dotp(a, b) / nn
    }
    val withS = rows.map { case (id, v, c) =>
      (id, v, c, math.floor(cos(v, centers(c)) * 1e6).toLong) }
    withS.map { case (a, va, ca, sa) =>
      a -> withS.exists { case (b, vb, cb, sb) =>
        cb == ca && (sb < sa || (sb == sa && b < a)) && cos(va, vb) >= tau }
    }.toMap
  }

  test("d10 core: duplicate compression bit-identical to the uncompressed rule") {
    // a collapsed corpus: 300 bit-identical copies (the mass-duplication
    // mega-cluster), 4 zero vectors (must ALL survive — cos(0,·)=0),
    // and a seeded scatter of distinct vectors across 2 clusters
    val rnd = new scala.util.Random(7)
    val dup = Array(1.0, 0.5, 0.25)
    val rows: Seq[(Long, Array[Double], Int)] =
      (1L to 300L).map(i => (i, dup.clone(), 0)) ++
      (301L to 304L).map(i => (i, Array(0.0, 0.0, 0.0), 0)) ++
      (305L to 340L).map { i =>
        (i, Array.fill(3)(rnd.nextDouble() * 2 - 1), rnd.nextInt(2)) }
    val centers = Array(Array(1.0, 0.4, 0.2), Array(-1.0, 0.3, 0.1))
    val assigned = rows.map { case (id, v, c) => (id, v.toSeq, c) }
      .toDF("vec_id", "v", "cluster")
    val got = Caches.scoped(operators.Similarity
      .semDedupCore(assigned, centers, operators.Similarity.SemDedupTau, _)
      .select($"vec_id", $"dropped").as[(Long, Boolean)].collect().toMap)
    val want = localSemDedup(rows, centers, operators.Similarity.SemDedupTau)
    assert(got == want,
      s"diverged at ${got.keys.filter(k => got(k) != want(k)).toSeq.sorted.take(5)}")
    // the collapse really is handled: every non-representative twin
    // drops (the representative's own fate rides on the earlier
    // distinct vectors — covered by the parity assert above), and all
    // four zero vectors survive
    assert((2L to 300L).forall(got(_)), "twin group mishandled")
    assert((301L to 304L).forall(id => !got(id)), "zero vectors must survive")
  }

  test("d10 core: a cluster of too many DISTINCT vectors raises loudly") {
    // 20 distinct vectors in one cluster with cap 10: the semantic
    // collapse duplicate compression can NOT absorb — must raise, not
    // run a quadratic partition
    val rows = (1L to 20L).map(i => (i, Seq(i.toDouble, 1.0), 0))
    val assigned = rows.toDF("vec_id", "v", "cluster")
    val e = intercept[IllegalStateException] {
      Caches.scoped(operators.Similarity.semDedupCore(assigned,
        Array(Array(1.0, 0.0)), operators.Similarity.SemDedupTau, _, cap = 10)
        .collect())
    }
    assert(e.getMessage.contains("re-cluster"), s"unhelpful message: ${e.getMessage}")
  }

  // ------------- p20: curation with the semantic stage -------------

  test("p20: semantic stage composes p18 exactly — subset, soundness, completeness, determinism") {
    import operators.{Dedup, Sampling, Similarity}
    val dir = "/root/testdata/sf0.01"
    val p18 = Sampling.p18Curate(spark, dir)
      .as[(Long, String, String)].collect().map(_._1).toSet
    val p20rows = Sampling.p20CurateSemantic(spark, dir)
      .as[(Long, String, String)].collect()
    val p20 = p20rows.map(_._1).toSet
    // stage survival: the semantic stage only ever REMOVES documents
    assert(p20.subsetOf(p18), s"p20 grew docs: ${(p20 -- p18).take(5)}")
    // replay the verdicts locally over the surviving embeddings using
    // the dataset's own quantizer (same assignment, same centers)
    val (assigned, centers) = Similarity.ivfIndex(spark, dir)
    val rows = assigned.filter($"vec_id".isin(p18.toSeq: _*))
      .select($"vec_id", $"v", $"cluster")
      .as[(Long, Seq[Double], Int)].collect()
      .map { case (id, v, c) => (id, v.toArray, c) }.toSeq
    val want = localSemDedup(rows, centers, Similarity.SemDedupTau)
    val wantKept = p18.filter(id => !want(id))
    assert(p20 == wantKept,
      s"semantic verdicts diverge: extra=${(p20 -- wantKept).take(5)} missing=${(wantKept -- p20).take(5)}")
    // determinism: the memoized entry must replay identically
    val again = Sampling.p20CurateSemantic(spark, dir)
      .as[(Long, String, String)].collect()
    assert(p20rows.toSeq == again.toSeq, "p20 not rerun-identical")
    assert(p20.nonEmpty && p20.size < p18.size || p20 == p18,
      "vacuous composition")
  }

  test("p21: incremental arrival — batch-only ids, stage-survival set algebra, determinism") {
    import operators.{Dedup, Sampling, TextAnalysis}
    val dir = "/root/testdata/sf0.01"
    val rows = Sampling.p21CurateIncremental(spark, dir)
      .as[(Long, String, String)].collect()
    val kept = rows.map(_._1).toSet
    assert(kept.nonEmpty)
    assert(kept.forall(_ % 2 == 1),
      "a curated-corpus (even) doc leaked into the arrival batch")
    // replay the chain as set algebra over the stage primitives (each
    // primitive is verified on its own: t2/p3 oracle-checked, d11
    // precision-exact — this spec checks the CHAINING, p18-style)
    val q = TextAnalysis.t2QualityScore(spark, dir)
      .filter($"doc_id" % 2 === 1 && $"quality" >= 0.5)
      .select($"doc_id").as[Long].collect().toSet
    val fpKeep = q.toSeq.toDF("doc_id")
      .join(graft.Tables.documents(spark, dir), "doc_id")
      .select($"doc_id", functions.TextFunctions.fingerprint($"text").as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").as[Long].collect().toSet
    val d11Hit = Dedup.d11IncrementalDedup(spark, dir)
      .select($"new_id").as[Long].collect().toSet
    val contam = Dedup.p3Decontaminate(spark, dir)
      .filter($"doc_id" % 2 === 1)
      .select($"doc_id").as[Long].collect().toSet
    val expected = fpKeep -- d11Hit -- contam
    assert(kept == expected,
      s"chain diverges: extra=${(kept -- expected).take(5)} missing=${(expected -- kept).take(5)}")
    // stage binding, honestly measured: sf0.01's documents carry no
    // exact duplicates AT ALL (checked vs the raw parquet), so the
    // within-batch stage is the identity here (fpKeep == q) — its
    // keep-first rule is d1's oracle-checked semantics; the stages
    // that CAN bind at this SF must
    assert(fpKeep == q, "unexpected within-batch exact duplicates")
    assert((fpKeep & d11Hit).nonEmpty, "near-dup stage vacuous")
    assert((fpKeep & contam).nonEmpty, "decontamination stage vacuous")
    // determinism: the memoized entry replays identically
    val again = Sampling.p21CurateIncremental(spark, dir)
      .as[(Long, String, String)].collect()
    assert(rows.toSeq == again.toSeq, "p21 not rerun-identical")
  }

  test("p21: cross-parity exact twins are caught by the d11 join with certainty (J=1)") {
    import operators.Dedup
    // exact duplicates exist only at sf0.1 in this testdata (8 groups,
    // 4 spanning parities — checked vs the raw parquet); the p21
    // docstring's claim is that an arrival doc exactly duplicating a
    // CURATED doc needs no exact stage because J=1 matches all 16
    // bands, so the d11 posting join reports it with certainty
    val dir = "/root/testdata/sf0.1"
    val fps = graft.Tables.documents(spark, dir)
      .select($"doc_id", functions.TextFunctions.fingerprint($"text").as("fp"))
    val crossTwins = fps.filter($"doc_id" % 2 === 1)
      .join(fps.filter($"doc_id" % 2 === 0).select($"fp"), "fp")
      .select($"doc_id").as[Long].collect().toSet
    assert(crossTwins.nonEmpty, "no cross-parity exact twins to test")
    val d11Hit = Dedup.d11IncrementalDedup(spark, dir)
      .select($"new_id").as[Long].collect().toSet
    assert(crossTwins.subsetOf(d11Hit),
      s"J=1 certainty violated: ${(crossTwins -- d11Hit).take(5)}")
  }

  // ------------- q100: Newman modularity -------------

  test("q100: two disjoint triangles with component labels score Q = 1/2 exactly") {
    // the textbook handcheck: each triangle has intra_deg = 6 directed
    // edges and total_deg = 6 over m2 = 12, so q_num = 6·12 − 36 = 36
    // per community and Q = (36 + 36) / 12² = 1/2
    val edges = symmetric(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)))
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("node", "lbl")
    val rows = operators.Graph.modularityOf(edges, labels)
      .orderBy($"community")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq((10L, 3L, 6L, 6L, 12L, 36L),
      (20L, 3L, 6L, 6L, 12L, 36L)), s"got $rows")
  }

  test("q100: the kernel's materialized edges are freed once its result is dropped") {
    val sc = spark.sparkContext
    // clear the sweep memos, collect garbage and read the persisted
    // RDDs until two reads agree (other specs' checkpoints may still be
    // waiting for a GC)
    def settled(): Int = {
      var last = -1
      var now = sc.getPersistentRDDs.size
      var tries = 0
      while (now != last && tries < 20) {
        Caches.clear(); System.gc(); Thread.sleep(200)
        last = now; now = sc.getPersistentRDDs.size; tries += 1
      }
      now
    }
    val base = settled()
    // the two-triangle handcheck above (Q = 1/2) on other node ids, so
    // no plan an earlier case cached can serve it, built in a method so
    // no frame of the kernel outlives it
    def run(): Seq[(Long, Long, Long, Long, Long, Long)] = {
      val edges = symmetric(Seq((101L, 102L), (102L, 103L), (101L, 103L),
        (104L, 105L), (105L, 106L), (104L, 106L)))
      val labels = Seq((101L, 10L), (102L, 10L), (103L, 10L),
        (104L, 20L), (105L, 20L), (106L, 20L)).toDF("node", "lbl")
      val q = operators.Graph.modularityOf(edges, labels).orderBy($"community")
      assert(sc.getPersistentRDDs.size > base, "the kernel materialized nothing")
      q.as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    }
    assert(run() == Seq((10L, 3L, 6L, 6L, 12L, 36L), (20L, 3L, 6L, 6L, 12L, 36L)))
    val after = settled()
    assert(after <= base, s"$after persisted RDDs after the kernel, $base before")
  }

  test("q100: a community with zero internal edges keeps a row (negative q_num)") {
    // 4-cycle with ANTI-communities (each label holds the two opposite,
    // non-adjacent nodes): intra_deg = 0 for both, q_num = −16 each —
    // the left-join + coalesce path, and Q = −32/64 = −1/2, the lower
    // bound, exactly
    val edges = symmetric(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    val labels = Seq((1L, 1L), (3L, 1L), (2L, 2L), (4L, 2L))
      .toDF("node", "lbl")
    val rows = operators.Graph.modularityOf(edges, labels)
      .orderBy($"community")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 2L, 0L, 4L, 8L, -16L),
      (2L, 2L, 0L, 4L, 8L, -16L)), s"got $rows")
  }

  test("q100: sf0.001 invariants — masses conserve, q_num is its own algebra, q84 beats arbitrary labels") {
    val q = operators.Graph.q100Modularity(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(q.nonEmpty)
    val m2 = q.head._5
    assert(q.forall(_._5 == m2), "m2 differs across rows")
    // Σ total_deg = |e| = 2m and Σ intra_deg ≤ 2m (cut edges excluded)
    assert(q.map(_._4).sum == m2, "degree mass not conserved")
    assert(q.map(_._3).sum <= m2, "intra mass exceeds edge mass")
    // every row's q_num re-derives from its own columns
    assert(q.forall(r => r._6 == r._3 * m2 - r._4 * r._4),
      "q_num diverges from intra·2m − deg²")
    // node mass = q84's own community sizes
    val nNodes = operators.Graph.q84LpaSemisync(spark, sf).count()
    assert(q.map(_._2).sum == nNodes, "node mass not conserved")
    // Q ∈ [−1/2, 1] and the LPA labeling beats an arbitrary node%5
    // bucketing (LPA monotonically grows monochromatic edges from the
    // identity labeling; node%5 is label noise) — both exact integers
    // compared on the common (2m)² denominator
    val qSum = q.map(_._6).sum
    assert(qSum >= -m2 * m2 / 2 && qSum <= m2 * m2, s"Q out of range: $qSum")
    val prs = operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2)
    val edges = prs.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(prs.select($"pb".as("src"), $"pa".as("dst")))
    val noise = edges.select($"src".as("node")).distinct()
      .select($"node", pmod($"node", lit(5L)).as("lbl"))
    val qNoise = operators.Graph.modularityOf(edges, noise)
      .agg(sum($"q_num")).as[Long].head()
    assert(qSum > qNoise,
      s"q84 labeling ($qSum) does not beat node%%5 noise ($qNoise)")
  }

  // ------------- s15: graph-based ANN -------------

  test("s15: beam search recalls the exact top-3, is hop-converged and rerun-identical") {
    import operators.Similarity
    val exact = Similarity.s1KnnBrute(spark, sf, 5)
      .select($"q_id", $"neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.s15GraphAnn(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val byQ = got.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    assert(byQ.keySet == exact.keySet, "query set diverges from s1")
    val hit = exact.toSeq.map { case (q, want) =>
      (want & byQ(q)).size }.sum
    val recall = hit.toDouble / exact.values.map(_.size).sum
    // measured 1.0 at sf0.001 AND sf0.01 (beam 32 over the symmetrized
    // degree-~20 graph finds all five queries' true slates); pin a
    // floor with slack for future index re-fits, not the point value
    assert(recall >= 0.9, s"recall@3 = $recall")
    // hop budget past beam convergence is the identity (the fixed-
    // budget purity discipline: q66/q78 rounds, q79 hIters)
    val more = Similarity.s15GraphAnn(spark, sf,
      Similarity.GraphAnnBeam, Similarity.GraphAnnHops + 1)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(more == got, "beam not converged within the hop budget")
    // determinism: medoid entries, graph artifact, and beam are all
    // seeded/tie-broken — a rerun must replay bit-identically
    val again = Similarity.s15GraphAnn(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(again == got, "s15 not rerun-identical")
  }

  test("s15: the serving graph is symmetric and an artifact (built once per dataset)") {
    import operators.Similarity
    val g = Similarity.knnGraphIndex(spark, sf)
    val asym = g.select($"src", $"dst")
      .exceptAll(g.select($"dst".as("src"), $"src".as("dst")))
    assert(asym.isEmpty, "graph has one-way links")
    // artifact identity: same DataFrame instance served back
    assert(Similarity.knnGraphIndex(spark, sf) eq g, "index rebuilt")
  }

  // ------------- z4: Hilbert-curve layout -------------

  test("hilbert_xy2d: bijective and Manhattan-continuous on the full 32x32 grid") {
    // THE Hilbert property, exhaustively: d is a bijection onto
    // [0, 4^bits) and consecutive curve positions are adjacent cells
    // (|dx| + |dy| = 1). Any arithmetic slip in the rotate/reflect
    // steps breaks one of the two — this is the spec the oracle's
    // unrolled replay leans on.
    val grid = for { x <- 0 until 32; y <- 0 until 32 } yield (x.toLong, y.toLong)
    val got = grid.toDF("x", "y")
      .select($"x", $"y",
        call_function("hilbert_xy2d", $"x", $"y", lit(5)).as("d"))
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(got.map(_._3).toSeq == (0L until 1024L), "d not a bijection onto [0, 1024)")
    got.sliding(2).foreach { case Array((x0, y0, d0), (x1, y1, _)) =>
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1L,
        s"curve jumps from ($x0,$y0) to ($x1,$y1) after d=$d0")
    }
    // anchor the orientation so both engines' replays can't drift:
    // the canonical curve starts (0,0) -> (0,1) -> (1,1) -> (1,0)
    val first4 = got.take(4).map(t => (t._1, t._2)).toSeq
    assert(first4 == Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)), s"orientation $first4")
  }

  test("hilbert_xy2d: out-of-domain coordinates raise loudly, never fold") {
    val e = intercept[Exception] {
      Seq((1L << 21, 3L)).toDF("x", "y")
        .select(operators.Layout.hilbertKey($"x", $"y")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => c.getMessage != null && c.getMessage.contains("hilbert_xy2d")),
      s"unexpected error: $e")
  }

  // ------------- q101: Louvain local moves -------------

  test("q101: modularity strictly improves on the q84 labeling at sf0.001") {
    // the reason the entry exists: q84's LPA optimizes monochromatic
    // edges with no volume penalty and glues the dense sf0.001 graph
    // into ONE community (Σ q_num = 0 exactly — measured); the
    // Louvain gain is the score itself, so its labeling must buy
    // measurable Q. Σ q_num is Q·(2m)³ up to the constant — exact
    // integers, so "improves" is a bit-exact comparison.
    def qSum(labels: org.apache.spark.sql.DataFrame): BigInt = {
      val edges = operators.Graph.copurchaseEdges(spark, sf)
      BigInt(operators.Graph.modularityOf(edges, labels)
        .agg(sum($"q_num")).as[Long].head())
    }
    val before = qSum(operators.Graph.q84LpaSemisync(spark, sf)
      .select($"l_partkey".as("node"), $"community".as("lbl")))
    val after = qSum(operators.Graph.q101Louvain(spark, sf)
      .select($"l_partkey".as("node"), $"community".as("lbl")))
    assert(after > before, s"q_num sum $before -> $after (no improvement)")
  }

  private def randomPairs(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (for (_ <- 1 to 150) yield {
      val a = rnd.nextInt(50).toLong; val b = rnd.nextInt(50).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
  }

  test("q102 engine: weighted supergraph moves == local reference on constructed + real graphs") {
    // the BigInt schedule reference over the engine's own supergraph
    // coloring; Round14Spec checks the same runs (Q102Construction
    // memoizes them) against the driver-side endgame, LouvainLocal
    val prs = operators.Graph.copurchaseHalf(spark, sf)
      .select($"pa", $"pb").as[(Long, Long)].collect().toSeq
    val graphs = Seq(
      "bridged triangles" -> Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (11L, 12L), (12L, 13L), (11L, 13L), (3L, 11L)),
      "seeded random 29" -> randomPairs(29),
      "seeded random 41" -> randomPairs(41),
      "sf0.001 co-purchase" -> prs)
    for ((name, pairs) <- graphs) {
      val r = Q102Construction.run(spark, pairs)
      val want = LouvainReference.movesW(r.cross, r.strength,
        BigInt(r.m2w), r.color, r.color.keys.map(v => v -> v).toMap,
        operators.Graph.LouvainP2Rounds)
      assert(r.moves == want, s"$name: weighted moves diverged from reference")
    }
  }

  test("q102: coarsened moves do not regress modularity and conserve the mass invariants at sf0.001") {
    def qSum(labels: org.apache.spark.sql.DataFrame): BigInt = {
      val edges = operators.Graph.copurchaseEdges(spark, sf)
      BigInt(operators.Graph.modularityOf(edges, labels)
        .agg(sum($"q_num")).as[Long].head())
    }
    val q101 = operators.Graph.q101Louvain(spark, sf)
    val q102 = operators.Graph.q102LouvainCoarse(spark, sf)
    val before = qSum(q101.select($"l_partkey".as("node"), $"community".as("lbl")))
    val after = qSum(q102.select($"l_partkey".as("node"), $"community".as("lbl")))
    // phase-2 gains are the same global Q algebra (2m is invariant
    // under contraction), and every applied move had strictly
    // positive gain against its step's volumes — measured: a strict
    // improvement on this corpus
    assert(after > before, s"q_num sum $before -> $after")
    // conservation: same node set as q84/q101; sizes consistent
    assert(q102.count() === q101.count(), "node set changed")
    val bad = q102.groupBy($"community", $"community_size")
      .agg(count(lit(1)).as("n")).filter($"n" =!= $"community_size")
    assert(bad.isEmpty, "community_size column inconsistent")
    // the contraction invariant: Σ supernode strength = base |e|
    val edges = operators.Graph.copurchaseEdges(spark, sf).cache()
    val l1 = operators.Graph.louvainLabels(spark, sf)
    val le = edges
      .join(l1.select($"node".as("src"), $"lbl".as("la")), "src")
      .join(l1.select($"node".as("dst"), $"lbl".as("lb")), "dst")
      .groupBy($"la", $"lb").agg(count(lit(1)).as("w")).cache()
    val mass = le.agg(sum($"w")).as[Long].head()
    assert(mass === edges.count(), "contraction lost edge mass")
    // the supergraph's coloring must finish inside the oracle's
    // unroll budgets (rounds past completion are identity CTEs; a
    // completion that OVERRUNS the unroll would diverge from Spark)
    val cross = le.filter($"la" =!= $"lb").select($"la".as("src"), $"lb".as("dst"))
    val (col2, r2) = operators.Graph.trialColoring(
      cross, operators.Graph.SemiColoringRounds)
    assert(r2 <= operators.Graph.SemiColoringRounds,
      s"supergraph coloring took $r2 rounds")
    val c2 = col2.agg(max($"color")).as[Int].head()
    assert(c2 <= operators.Graph.LouvainP2Colors,
      s"supergraph used $c2 colors > budget")
    le.unpersist(); edges.unpersist()
  }

  test("q103: textbook conductance values and sf invariants") {
    // two triangles joined by one bridge, component labels: each side
    // has cut 1 (the bridge), vol 7 (3 degree-2 nodes + one endpoint
    // degree 3), denom min(7, 14-7) = 7 -> phi = 1/7
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (11L, 12L), (12L, 13L), (11L, 13L), (3L, 11L))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (11L, 11L), (12L, 11L), (13L, 11L)).toDF("node", "lbl")
    val got = operators.Graph.conductanceOf(symmetric(pairs), labels)
      .orderBy($"community")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 1L, 7L, 7L), (11L, 3L, 1L, 7L, 7L)), got.toString)
    // perfect communities (no bridge): zero-cut rows are KEPT
    val perfect = operators.Graph.conductanceOf(
      symmetric(pairs.dropRight(1)), labels)
      .orderBy($"community")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(perfect == Seq((1L, 3L, 0L, 6L, 6L), (11L, 3L, 0L, 6L, 6L)), perfect.toString)
    // sf0.001 invariants over the real q101 labeling: volumes sum to
    // |e|, cuts sum to the directed cross-edge count, denom <= volume
    val edges = operators.Graph.copurchaseEdges(spark, sf).cache()
    val lab = operators.Graph.louvainLabels(spark, sf)
    val df = operators.Graph.conductanceOf(edges, lab).cache()
    val (volSum, cutSum) = df.agg(sum($"volume"), sum($"cut_edges"))
      .as[(Long, Long)].head()
    assert(volSum === edges.count(), "volumes must sum to |e|")
    val cross = edges
      .join(lab.select($"node".as("src"), $"lbl".as("la")), "src")
      .join(lab.select($"node".as("dst"), $"lbl".as("lb")), "dst")
      .filter($"la" =!= $"lb").count()
    assert(cutSum === cross, "cuts must sum to the cross-edge count")
    assert(df.filter($"denom" > $"volume").isEmpty, "denom > volume")
    df.unpersist(); edges.unpersist()
  }

  test("optimizeHilbert: exact file count, content identity, non-overlapping curve ranges, pruning") {
    val src = java.nio.file.Files.createTempDirectory("hopt-src").toString
    val dst = java.nio.file.Files.createTempDirectory("hopt-dst").toString
    val base = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey", $"l_orderkey")
    base.repartition(16).write.mode("overwrite").parquet(src)
    val n = base.count()
    val parts = operators.Layout.optimizeHilbert(spark, src, dst,
      (n + 3) / 4, "l_partkey", "l_suppkey")
    assert(parts == 4)
    val out = spark.read.parquet(dst)
    assert(out.count() == n)
    assert(out.exceptAll(base).isEmpty && base.exceptAll(out).isEmpty)
    // contiguous rank cuts of the Hilbert total order -> per-file
    // curve intervals are non-overlapping (boundary equality allowed)
    val hf = out.select(input_file_name().as("f"),
        operators.Layout.hilbertKey($"l_partkey", $"l_suppkey").as("h"))
      .groupBy($"f").agg(min($"h").as("lo"), max($"h").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    hf.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"$a overlaps $b")
      case _ =>
    }
    // footer-stat pruning on the z2-style box: the fragmented source
    // admits every file; the Hilbert rewrite admits strictly fewer
    def candFiles(dir: String): Long =
      spark.read.parquet(dir)
        .select(input_file_name().as("f"), $"l_partkey", $"l_suppkey")
        .groupBy($"f").agg(
          min($"l_partkey").as("p0"), max($"l_partkey").as("p1"),
          min($"l_suppkey").as("s0"), max($"l_suppkey").as("s1"))
        .filter($"p1" >= 10 && $"p0" <= 40 && $"s1" >= 1 && $"s0" <= 6)
        .count()
    assert(candFiles(src) == 16, "fragmented layout should admit every file")
    assert(candFiles(dst) < 4, s"hilbert layout must prune: ${candFiles(dst)}")
  }

  test("q101: refined labeling conserves the node set and community sizes") {
    val got = operators.Graph.q101Louvain(spark, sf)
    val q84 = operators.Graph.q84LpaSemisync(spark, sf)
    assert(got.count() == q84.count(), "node set changed")
    // sizes consistent: per-community size == the count of its rows
    val bad = got.groupBy($"community", $"community_size")
      .agg(count(lit(1)).as("n"))
      .filter($"n" =!= $"community_size")
    assert(bad.isEmpty, "community_size column inconsistent with row counts")
  }

  test("z4: equal-row-count file cuts cover tighter boxes under Hilbert than Morton") {
    // the operational comparison: OPTIMIZE writes fixed-ROW-COUNT
    // files (compactFrame's balanced cuts at arbitrary rank
    // boundaries), NOT bit-aligned tiles. At dyadic granularities the
    // two curves produce the IDENTICAL power-of-4 blocks (measured:
    // mean box area ties exactly at the >>12 bucket cut — a Morton
    // bucket is always a perfect rectangle), so the published Hilbert
    // advantage only shows at arbitrary boundaries, where a Morton
    // interval straddles a Z-jump and its box explodes.
    def meanChunkArea(keyed: org.apache.spark.sql.DataFrame): Double = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"key", $"p", $"s")
      keyed.withColumn("chunk", ntile(64).over(w))
        .groupBy($"chunk")
        .agg((((max($"p") - min($"p") + 1L) *
               (max($"s") - min($"s") + 1L)).cast("double")).as("area"))
        .agg(avg($"area")).as[Double].head()
    }
    val li = Tables.lineitem(spark, sf)
      .select($"l_partkey".as("p"), $"l_suppkey".as("s"))
    val hil = meanChunkArea(
      li.withColumn("key", operators.Layout.hilbertKey($"p", $"s")))
    val mor = meanChunkArea(
      li.withColumn("key", operators.Layout.zorderKey($"p", $"s")))
    assert(hil < mor, s"hilbert mean file box area $hil !< morton $mor")
  }
}
