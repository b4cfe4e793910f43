package graft

import org.apache.spark.sql.functions._

/** Round-14 hardening: the Louvain coarse-level LOCAL ENDGAME must be
  * bit-identical to the distributed schedule it replays, the m15
  * registry surface is the long-form the driver can hash, and the
  * memo ledger survives a throwing build. */
case class VecRow(vec_id: Long, embedding: Seq[Float], label: Int)

class Round14Spec extends GraftSpecBase {
  import spark.implicits._

  private def symmetric(pairs: Seq[(Long, Long)]) = {
    val df = pairs.toDF("pa", "pb")
    df.select($"pa".as("src"), $"pb".as("dst"))
      .unionAll(df.select($"pb".as("src"), $"pa".as("dst")))
  }

  private def graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(41)
    val random = (for (_ <- 1 to 150) yield {
      val a = rnd.nextInt(50).toLong; val b = rnd.nextInt(50).toLong
      if (a < b) Some((a, b)) else if (b < a) Some((b, a)) else None
    }).flatten.distinct
    val prs = operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2).select($"pa", $"pb")
      .as[(Long, Long)].collect().toSeq
    Seq(
      "bridged triangles" -> Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (11L, 12L), (12L, 13L), (11L, 13L), (3L, 11L)),
      "K23" -> Seq((10L, 3L), (10L, 7L), (10L, 11L),
        (20L, 3L), (20L, 7L), (20L, 11L)),
      "bridged cliques" -> (
        (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
        (for { a <- 11L to 14L; b <- 11L to 14L if a < b } yield (a, b)) ++
        Seq((4L, 11L))),
      "seeded random" -> random,
      "sf0.001 co-purchase" -> prs)
  }

  // ------------- Louvain local endgame (round 14) -------------

  test("local coloring replay == distributed trialColoring on constructed + real graphs") {
    // LouvainLocal.coloring recomputes every used-set each round, so
    // this also pins the distributed incremental used-state to the
    // full recomputation the oracle replays
    for ((name, pairs) <- graphs) {
      val edges = symmetric(pairs).cache()
      val want = operators.Graph.trialColoring(
        edges, operators.Graph.SemiColoringRounds)._1
        .as[(Long, Int)].collect().toMap
      val got = operators.LouvainLocal.coloring(
        edges.as[(Long, Long)].collect())
      assert(got == want, s"$name: local coloring diverged")
      edges.unpersist()
    }
  }

  test("local weighted moves == distributed louvainMovesW on the q102 construction") {
    for ((name, pairs) <- graphs) {
      val r = Q102Construction.run(spark, pairs)
      val ce = r.cross.toArray
      val got = operators.LouvainLocal.movesW(ce, r.strength, r.m2w,
        operators.LouvainLocal.coloring(ce.map(t => (t._1, t._2))),
        operators.Graph.LouvainP2Rounds)
      assert(got == r.moves, s"$name: local weighted moves diverged")
    }
  }

  test("q102 registry: local endgame result == forced-distributed result at sf0.001") {
    val local = operators.Graph.q102LouvainCoarse(spark, sf)
      .as[(Long, Long, Long)].collect().sorted
    val dist = operators.GraphLocal.withGates(
        operators.GraphLocal.Gates(louvain = 0L)) {
      operators.Graph.q102LouvainCoarse(spark, sf)
        .as[(Long, Long, Long)].collect().sorted
    }
    assert(local.sameElements(dist),
      "q102 local endgame diverged from the distributed path")
  }

  // ------------- m15 long-form registry surface -------------

  test("m15 registry surface: long-form (vec_id, dim, value) == posexploded wide API") {
    val long = ml.Pca.m15PcaLong(spark, sf)
    assert(long.columns.toSeq == Seq("vec_id", "dim", "value"),
      s"long-form columns: ${long.columns.mkString(",")}")
    // every column scalar — the property the driver's canonicalizer
    // needs (r13's ERR was an array<double> column)
    assert(long.schema.fields.forall(f =>
      !f.dataType.typeName.startsWith("array")))
    val wide = ml.Pca.m15Pca(spark, sf)
      .select($"vec_id", posexplode($"pc"))
      .select($"vec_id", $"pos".cast("int").as("dim"), $"col".as("value"))
      .as[(Long, Int, Double)].collect().sorted
    val got = long.as[(Long, Int, Double)].collect().sorted
    assert(got.sameElements(wide))
    val n = Tables.embeddings(spark, sf).count()
    assert(got.length == n * ml.Pca.TopK)
  }

  // ------------- m16/m17: linear probe head -------------

  test("m16 linear probe: predictions == fully-local replay; accuracy well above chance") {
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
    val n = rows.length
    val d = ml.Pca.Dim
    val q = ml.Pca.QScale.toDouble
    // local sufficient statistics on the same fixed-point grid —
    // EXACT integers, recomputed independently of the gram pass
    val xq = rows.map(_._2.map(x => math.floor(x.toDouble * q) / q).toArray)
    val mu = Array.tabulate(d)(i => xq.map(_(i)).sum / n)
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 until d)
      cov(i)(j) =
        xq.map(v => v(i) * v(j)).sum / n - mu(i) * mu(j)
    val labels = rows.map(_._3).distinct.sorted
    val a = Array.tabulate(d, d)((i, j) =>
      cov(i)(j) + (if (i == j) ml.LinearProbe.Lambda else 0.0))
    val chol = ml.LinearProbe.cholesky(a)
    val ws = labels.map { c =>
      val p = rows.count(_._3 == c).toDouble / n
      val rhs = Array.tabulate(d)(i =>
        xq.zip(rows).filter(_._2._3 == c).map(_._1(i)).sum / n - mu(i) * p)
      val w = ml.LinearProbe.cholSolve(chol, rhs)
      (c, w, p - mu.zip(w).map { case (m, x) => m * x }.sum)
    }
    val want = rows.map { case (id, emb, lbl) =>
      val v = emb.map(_.toDouble)
      val best = ws.map { case (c, w, b) =>
        // dot first, then + b — matches the engine's `dot(v, w) + b`
        // fold order so the float comparison is IEEE-identical
        var s = 0.0; var i = 0
        while (i < d) { s += v(i) * w(i); i += 1 }
        (s + b, -c)
      }.max
      id -> ((lbl, -best._2))
    }.toMap
    val got = ml.LinearProbe.m16LinearProbe(spark, sf)
      .as[(Long, Int, Int)].collect()
      .map { case (id, l, p) => id -> (l, p) }.toMap
    // NOTE: the local covariance above sums doubles in row order while
    // gram_agg sums EXACT integers — the integer path is the truth
    // (m14's oracle pins it); parity here is on PREDICTIONS, where
    // the ±1ulp covariance wiggle must not move any argmax
    assert(got.keySet == want.keySet)
    val diverged = got.count { case (id, lp) => want(id) != lp }
    assert(diverged == 0, s"$diverged predictions diverged from local replay")
    val acc = got.values.count { case (l, p) => l == p }.toDouble / n
    assert(acc >= 0.3, s"probe training accuracy $acc below the 3x-chance floor")
  }

  test("m17 confusion: rows sum to class counts; total == corpus size") {
    val conf = ml.LinearProbe.m17Confusion(spark, sf)
      .as[(Int, Int, Long)].collect()
    val byLabel = conf.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val want = Tables.embeddings(spark, sf)
      .groupBy($"label".cast("int")).count()
      .as[(Int, Long)].collect().toMap
    assert(byLabel == want, "confusion row sums != class counts")
    assert(conf.map(_._3).sum == want.values.sum)
  }

  test("m18 cv probe: per-fold heldout accuracy == direct local replay (no stats subtraction)") {
    // independent replay: train statistics summed DIRECTLY over the
    // training rows (the engine derives them as totals − fold — this
    // pins the subtraction trick's algebra end to end)
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
    val d = ml.Pca.Dim
    val q = ml.Pca.QScale
    val k = ml.LinearProbe.CvFolds
    val labels = rows.map(_._3).distinct.sorted
    // exact integer quantization, like the engine's grid
    val xq = rows.map(_._2.map(x =>
      math.floor(x.toDouble * q).toLong).toArray)
    val fold = rows.map(r => (r._1 % k).toInt)
    val want = (0 until k).map { f =>
      val trIdx = rows.indices.filter(fold(_) != f)
      val nTr = trIdx.length
      val sums = Array.fill(d)(0L)
      val gram = Array.ofDim[Long](d, d)
      for (i <- trIdx; a <- 0 until d) {
        sums(a) += xq(i)(a)
        var b = a
        while (b < d) { gram(a)(b) += xq(i)(a) * xq(i)(b); b += 1 }
      }
      val qs = q.toDouble
      val mu = sums.map(_ / qs / nTr)
      val m = Array.tabulate(d, d) { (a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        gram(lo)(hi) / qs / qs / nTr - mu(a) * mu(b) +
          (if (a == b) ml.LinearProbe.Lambda else 0.0)
      }
      val chol = ml.LinearProbe.cholesky(m)
      val ws = labels.map { c =>
        val cIdx = trIdx.filter(rows(_)._3 == c)
        val p = cIdx.length.toDouble / nTr
        val rhs = Array.tabulate(d)(a =>
          cIdx.map(xq(_)(a)).sum / qs / nTr - mu(a) * p)
        val w = ml.LinearProbe.cholSolve(chol, rhs)
        (c, w, p - mu.zip(w).map { case (mm, x) => mm * x }.sum)
      }
      val test = rows.indices.filter(fold(_) == f)
      val correct = test.count { i =>
        val v = rows(i)._2.map(_.toDouble)
        val best = ws.map { case (c, w, b) =>
          // dot first, then + b — the engine's `dot(v, w) + b` order,
          // so the float comparison is IEEE-identical
          var sAcc = 0.0; var t = 0
          while (t < d) { sAcc += v(t) * w(t); t += 1 }
          (sAcc + b, -c)
        }.max
        -best._2 == rows(i)._3
      }
      (f, test.length.toLong, correct.toLong)
    }
    val got = ml.LinearProbe.m18CvProbe(spark, sf)
      .select($"fold", $"n", $"n_correct")
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == want, s"cv probe diverged:\n got=$got\nwant=$want")
    assert(got.map(_._2).sum == rows.length)
    // the MEASURED property of this corpus (recorded §6.19): the
    // synthetic labels carry no generalizable signal (1-NN
    // leave-one-out reads 0.07), so the heldout read-out must sit at
    // ~chance while the training fit (m16, 0.39) overfits — the CV
    // probe's whole job is exposing exactly that gap
    val heldout = got.map(_._3).sum.toDouble / rows.length
    val training = {
      val m16 = ml.LinearProbe.m16LinearProbe(spark, sf)
        .as[(Long, Int, Int)].collect()
      m16.count(t => t._2 == t._3).toDouble / m16.length
    }
    assert(heldout < training,
      s"heldout $heldout should sit below the training fit $training " +
        "on this no-signal corpus")
  }

  // ------------- q104: multilevel spectral bisection -------------

  test("q104: driver cut masses == distributed base-graph recount (contraction exactness)") {
    val (side, cutW, volS, volT) = operators.SpectralCut
      .spectralCutArtifact(spark, sf)
    val edges = symmetric(operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2).select($"pa", $"pb")
      .as[(Long, Long)].collect().toSeq).cache()
    val l1 = operators.Graph.louvainLabels(spark, sf)
    val sideDf = side.toSeq.toDF("lbl", "side")
    val labeled = l1.join(sideDf, Seq("lbl"), "left")
      .select($"node", coalesce($"side", lit(-1)).as("side")).cache()
    // base-graph integer recount of exactly the driver's three masses
    val baseCut = edges
      .join(labeled.select($"node".as("src"), $"side".as("sa")), "src")
      .join(labeled.select($"node".as("dst"), $"side".as("sb")), "dst")
      .filter($"sa" === 0 && $"sb" === 1).count() +
      edges
        .join(labeled.select($"node".as("src"), $"side".as("sa")), "src")
        .join(labeled.select($"node".as("dst"), $"side".as("sb")), "dst")
        .filter($"sa" === 1 && $"sb" === 0).count()
    val volBySide = edges
      .groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .join(labeled, "node")
      .groupBy($"side").agg(sum($"deg").as("vol"))
      .as[(Int, Long)].collect().toMap
    // the driver counted DIRECTED cross mass in S→S̄ plus S̄→S as one
    // symmetric cut; the supergraph carries both directions, so its
    // cut weight equals the base directed cross count between sides
    assert(baseCut == 2 * cutW,
      s"base cut $baseCut != 2×driver $cutW")
    assert(volBySide.getOrElse(0, 0L) == volS,
      s"side-0 volume ${volBySide.get(0)} != driver $volS")
    assert(volBySide.getOrElse(0, 0L) + volBySide.getOrElse(1, 0L) == volT)
    edges.unpersist(); labeled.unpersist()
  }

  test("q104: sweep cut beats the median cut and seeded random cuts; rerun deterministic") {
    val edges = symmetric(operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2).select($"pa", $"pb")
      .as[(Long, Long)].collect().toSeq).cache()
    val l1 = operators.Graph.louvainLabels(spark, sf)
    val le = edges
      .join(l1.select($"node".as("src"), $"lbl".as("la")), "src")
      .join(l1.select($"node".as("dst"), $"lbl".as("lb")), "dst")
      .groupBy($"la", $"lb").agg(count(lit(1)).as("w"))
    val ce = le.filter($"la" =!= $"lb")
      .select($"la", $"lb", $"w").as[(Long, Long, Long)].collect()
    val st = le.groupBy($"la".as("node")).agg(sum($"w").as("s"))
      .as[(Long, Long)].collect().toMap
    edges.unpersist()
    val (side1, cutW, volS, volT) = operators.SpectralCut.sweepCut(ce, st)
    val (side2, cutW2, volS2, _) = operators.SpectralCut.sweepCut(ce, st)
    assert(side1 == side2 && cutW == cutW2 && volS == volS2,
      "sweepCut rerun diverged")
    def phi(cut: Long, vol: Long): Double =
      cut.toDouble / math.min(vol, volT - vol)
    def cutOf(in: Set[Long]): (Long, Long) = {
      val c = ce.filter(t => in(t._1) != in(t._2)).map(_._3).sum / 2
      val v = in.toSeq.map(st).sum
      (c, v)
    }
    val got = phi(cutW, volS)
    // the β-balance the engine's sweep enforces (when attainable) —
    // baselines must satisfy the same constraint to be comparable
    def balanced(v: Long): Boolean =
      math.min(v, volT - v) * operators.SpectralCut.BalanceInv >= volT
    assert(balanced(volS),
      s"sweep cut unbalanced: $volS of $volT")
    val nodes = ce.map(_._1).distinct.sorted
    // median-by-id cut (the trivial balanced baseline)
    val half = nodes.take(nodes.length / 2).toSet
    val (mc, mv) = cutOf(half)
    if (balanced(mv))
      assert(got <= phi(mc, mv) + 1e-12,
        s"sweep φ $got worse than median cut ${phi(mc, mv)}")
    val rnd = new scala.util.Random(43)
    for (t <- 1 to 5) {
      val pick = nodes.filter(_ => rnd.nextBoolean()).toSet
      if (pick.nonEmpty && pick.size < nodes.length) {
        val (rc, rv) = cutOf(pick)
        if (balanced(rv))
          assert(got <= phi(rc, rv) + 1e-12,
            s"sweep φ $got worse than random cut $t ${phi(rc, rv)}")
      }
    }
  }

  test("q104 registry: node-conserving, sides consistent with the artifact") {
    val out = operators.SpectralCut.q104SpectralCut(spark, sf)
      .as[(Long, Int, Long)].collect()
    val n1 = operators.Graph.louvainLabels(spark, sf).count()
    assert(out.length == n1, "q104 dropped or duplicated base nodes")
    val bySide = out.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    out.foreach { case (_, s2, sz) =>
      assert(bySide(s2) == sz, s"side $s2 size column $sz != ${bySide(s2)}") }
    assert(bySide.keySet.subsetOf(Set(-1, 0, 1)))
    assert(bySide.getOrElse(0, 0L) > 0 && bySide.getOrElse(1, 0L) > 0)
  }

  test("streaming gram: gram_agg over a memory stream of embedding batches == batch m14 triangle") {
    // the online-sufficient-statistics twin: m14's exact fixed-point
    // gram is an ADDITIVE integer aggregate, so a streaming complete-
    // mode aggregation over arriving embedding batches must land on
    // the identical 2,080-entry triangle the batch scan produces —
    // the shape an always-on training-statistics service runs
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label".cast("int"))
      .as[VecRow].collect().toSeq.sortBy(_.vec_id)
    val stream = MemoryStream[VecRow]
    val q = stream.toDF()
      .select(transform($"embedding", x =>
        floor(x.cast("double") * ml.Pca.QScale).cast("long")).as("qv"))
      .agg(call_function("gram_agg", $"qv", lit(ml.Pca.Dim)).as("g"),
        count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("gram_stream")
      .outputMode("complete").start()
    try {
      val (h1, h2) = rows.splitAt(rows.size / 2)
      stream.addData(h1); q.processAllAvailable()
      stream.addData(h2); q.processAllAvailable()
      val row = spark.table("gram_stream")
        .as[(Seq[Long], Long)].collect().head
      assert(row._2 == rows.size)
      val want = ml.Pca.m14Gram(spark, sf)
        .as[(Int, Int, Long)].collect()
        .map { case (i, j, g) => (i, j) -> g }.toMap
      val d = ml.Pca.Dim
      val got = (for (i <- 0 until d; j <- i until d)
        yield (i, j) -> row._1(ml.Pca.triIdx(i, j))).toMap
      assert(got == want, "streamed gram diverged from the batch triangle")
    } finally q.stop()
  }

  // ------------- Caches.memo exception safety -------------

  test("memo: a throwing build leaves no orphaned timing frame behind") {
    Caches.drainBuildLog()
    var kept: org.apache.spark.sql.DataFrame = null
    intercept[RuntimeException] {
      Caches.memo("r14_boom", "x") { scope =>
        kept = scope.keep(Seq(1L).toDF("v"))
        throw new RuntimeException("boom")
      }
    }
    assert(kept.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a throwing build must still release its kept frame")
    // a later successful build on the same thread must log its own
    // wall time normally (the leaked-frame failure mode would feed it
    // into the orphan instead)
    Caches.memo("r14_ok", "x")(_ => Seq(1L).toDF("v"))
    val logged = Caches.drainBuildLog()
    assert(logged.map(_._1) == Seq("r14_ok"), s"ledger: $logged")
    Caches.clear()
  }
}
