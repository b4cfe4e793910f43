package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Round-6 operators: DIMSUM sampling (m11), MIPS + the norm-
  * augmentation reduction (s6), batch kNN join (s7), Z-order layout +
  * compaction (z1/compact), ACF (q60), windowed funnel (q61), link
  * prediction (q62), fixed-point Holt forecast (q63), epoch
  * repetition (p11), bloom-prefiltered decontamination (d9). */
class Round6OpsSpec extends GraftSpecBase {
  import spark.implicits._

  // ---------------- m11 DIMSUM ----------------

  test("m11: with gamma beyond every norm product the estimator is the exact cosine") {
    // p = min(1, gamma/nn) pins to 1 for every pair -> no sampling, no
    // reweighting: the estimate must equal the exact cosine up to the
    // double-sum vs integer-dot formulation gap (~1e-12 relative)
    val est = ml.Recommender.m11Estimates(spark, sf, gamma = 1e15)
    val r = ml.Recommender.intRatings(spark, sf)
    val n2 = r.groupBy($"item").agg(sum($"q" * $"q").as("n2"))
    val exact = r.as("a").join(r.as("b"),
        $"a.user" === $"b.user" && $"a.item" < $"b.item")
      .groupBy($"a.item".as("ia"), $"b.item".as("ib"))
      .agg(sum($"a.q" * $"b.q").as("dot"))
      .join(broadcast(n2.select($"item".as("ia"), $"n2".as("n2a"))), "ia")
      .join(broadcast(n2.select($"item".as("ib"), $"n2".as("n2b"))), "ib")
      .select($"ia", $"ib", ($"dot" /
        (sqrt($"n2a".cast("double")) * sqrt($"n2b".cast("double")))).as("cos"))
    val joinedCmp = est.join(exact, Seq("ia", "ib"), "full")
    assert(joinedCmp.filter($"cos_est".isNull || $"cos".isNull).count() == 0,
      "gamma -> infinity must keep every exact pair")
    val maxErr = joinedCmp.agg(max(abs($"cos_est" - $"cos"))).as[Double].head()
    assert(maxErr < 1e-9, s"unbiased no-sampling estimate drifted: $maxErr")
  }

  test("m11: sampled-pair count shrinks monotonically with gamma — the shuffle-volume knob") {
    val nFull = ml.Recommender.m11Estimates(spark, sf, gamma = 1e15).count()
    val nMid = ml.Recommender.m11Estimates(spark, sf, gamma = 200.0).count()
    val nLow = ml.Recommender.m11Estimates(spark, sf, gamma = 20.0).count()
    assert(nLow < nMid && nMid < nFull,
      s"expected strictly shrinking pair sets, got $nFull >= $nMid >= $nLow")
  }

  test("m11: default-entry output has dense ranks and positive estimates; mild sampling recalls the exact top-5 well") {
    val m11 = ml.Recommender.m11Dimsum(spark, sf).cache()
    val badRank = m11.withColumn("expected", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"item").orderBy($"cosine".desc, $"nbr")))
      .filter($"rnk" =!= $"expected" || $"rnk" > 5 || $"cosine" <= 0.0)
    assert(badRank.count() == 0)
    val exactTop = ml.Recommender.m10ItemCosine(spark, sf)
      .select($"item", $"nbr").as[(Long, Long)].collect().toSet
    val approxTop = m11.select($"item", $"nbr").as[(Long, Long)].collect().toSet
    val recall = (exactTop & approxTop).size.toDouble / exactTop.size
    assert(recall >= 0.7, s"recall@5 vs exact m10: $recall")
    m11.unpersist()
  }

  // ---------------- s6 MIPS ----------------

  test("s6: lifted-space cosine order equals raw dot order (the MIPS->NN reduction)") {
    // the lift [x; sqrt(M^2-|x|^2)] gives every candidate norm M, so
    // cosine against [q; 0] is dot(q, x)/(M*|q|) — rank-preserving
    val lifted = operators.Similarity.s6Lifted(spark, sf).cache()
    val norms = lifted.select(norm($"v").as("n")).agg(
      max($"n").as("mx"), min($"n").as("mn")).head()
    assert(norms.getDouble(0) - norms.getDouble(1) < 1e-6,
      "lift must equalize candidate norms")
    val queries = operators.Similarity.s6Lifted(spark, sf)
      .filter($"vec_id" < 5)
      // zero the augmentation coordinate: [q; 0]
      .select($"vec_id".as("q_id"),
        concat(slice($"v", 1, 64), array(lit(0.0))).as("qv"))
    val viaCosine = lifted.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(dot($"qv", $"v") / (norm($"qv") * norm($"v"))).as("c"))
      .groupBy($"q_id").agg(expr("topk_agg(c, neighbor_id, 3)").as("top"))
      .select($"q_id", expr("transform(top, e -> e.id)").as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaDot = operators.Similarity.s6Mips(spark, sf)
      .groupBy($"q_id").agg(collect_list(struct($"rnk", $"neighbor_id")).as("xs"))
      .select($"q_id", expr("transform(array_sort(xs), e -> e.neighbor_id)").as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaCosine.keySet == viaDot.keySet)
    // quantized scores can tie where raw doubles differ — compare the
    // id SETS per query (both sides use the same id tie-break)
    viaDot.foreach { case (q, ids) =>
      assert(viaCosine(q).toSet == ids.toSet,
        s"query $q: lifted-cosine ${viaCosine(q)} vs dot $ids")
    }
    lifted.unpersist()
  }

  // ---------------- s7 kNN join ----------------

  test("s7: the batch kNN join agrees with s1's window formulation on the shared queries") {
    def slate(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"rnk", $"neighbor_id", $"cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val s1 = slate(operators.Similarity.s1KnnBrute(spark, sf))
    val s7All = slate(operators.Similarity.s7KnnJoin(spark, sf))
    val s7 = s7All.filter(_._1 < 5)
    assert(s7 == s1, "topk_agg batch path must reproduce the window lookup path")
    // both entries rank through topk_agg; the row_number window
    // (`SlateReference`) is the reference, on s1's 5 queries and s7's 500
    assert(s1 == slate(SlateReference.knnBrute(spark, sf, 5)),
      "s1's topk_agg slate must reproduce the window formulation")
    assert(s7All == slate(SlateReference.knnBrute(spark, sf, 500)),
      "s7's topk_agg slate must reproduce the window formulation")
  }

  test("s7: plan is broadcast + partial topk_agg — no window, no pair-sized shuffle") {
    val p = operators.Similarity.s7KnnJoin(spark, sf).queryExecution
      .executedPlan.toString
    assert(p.contains("topk_agg"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window ["), p)
  }

  // ---------------- z1 Z-order ----------------

  test("z1: morton key round-trips and its buckets are 64x64-aligned boxes") {
    // round-trip a grid sample through the column function
    val sample = spark.range(1000).select(
      (rand(7) * 2097151).cast("long").as("a"),
      (rand(11) * 2097151).cast("long").as("b"))
    val keyed = sample.select($"a", $"b",
      operators.Layout.zorderKey($"a", $"b").as("z"))
      .as[(Long, Long, Long)].collect()
    def compact(z: Long): Long = {
      var x = z & 0x5555555555555555L
      x = (x | (x >> 1)) & 0x3333333333333333L
      x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
      x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
      (x | (x >> 16)) & 0x00000000FFFFFFFFL
    }
    keyed.foreach { case (a, b, z) =>
      assert(compact(z) == a && compact(z >> 1) == b, s"roundtrip($a,$b)=$z")
    }
    // every z1 bucket (zkey >> 12 = a 4096-cell z-tile) must bound a
    // 64-aligned 64x64 box in (part, supp) space
    val bad = operators.Layout.z1ZorderStats(spark, sf)
      .filter($"max_part" - $"min_part" > 63 || $"max_supp" - $"min_supp" > 63 ||
        expr("min_part div 64") =!= expr("max_part div 64") ||
        expr("min_supp div 64") =!= expr("max_supp div 64"))
    assert(bad.count() == 0)
  }

  test("z1: z-order layout prunes 2-D box scans that a linear sort cannot") {
    // synthetic square grid; "files" = contiguous 1024-row chunks of
    // the sorted order (what maxRecordsPerFile materializes); pruning
    // = chunks whose (min,max) box intersects the predicate box
    val grid = spark.range(65536).select(
      expr("id div 256").as("a"), ($"id" % 256).as("b"))
    def chunkBoxes(sorted: org.apache.spark.sql.DataFrame) = sorted
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"k", $"a", $"b")))
      .groupBy((($"rn" - 1) / 1024).cast("long").as("chunk"))
      .agg(min($"a").as("la"), max($"a").as("ha"),
        min($"b").as("lb"), max($"b").as("hb"))
    val zChunks = chunkBoxes(grid.withColumn("k",
      operators.Layout.zorderKey($"a", $"b")))
    val linChunks = chunkBoxes(grid.withColumn("k", $"a"))
    // box predicate on b alone: b in [0, 31] — an eighth of the domain
    def admitted(ch: org.apache.spark.sql.DataFrame): Long =
      ch.filter($"lb" <= 31 && $"hb" >= 0).count()
    val (zAdm, linAdm) = (admitted(zChunks), admitted(linChunks))
    val total = zChunks.count()
    assert(linAdm == total, s"a-sorted layout should admit every chunk, $linAdm/$total")
    assert(zAdm * 2 <= total, s"z-layout should prune >= half the chunks, admitted $zAdm/$total")
  }

  // ---------------- q61 window funnel ----------------

  test("q61: levels partition the user set and match a local brute-force chain search") {
    val out = operators.Advanced.q61WindowFunnel(spark, sf)
      .as[(Int, Long)].collect().toMap
    val w = 21600000L
    val events = Tables.eventsWithMs(spark, sf)
      .select($"user_id", $"ms", $"event_type")
      .as[(Long, Long, String)].collect()
    val byUser = events.groupBy(_._1)
    val localLevels = byUser.map { case (_, es) =>
      val v = es.filter(_._3 == "view").map(_._2)
      val c = es.filter(_._3 == "click").map(_._2)
      val p = es.filter(_._3 == "purchase").map(_._2)
      val chains2 = for (vm <- v; cm <- c if cm > vm && cm <= vm + w) yield (vm, cm)
      val l3 = chains2.exists { case (vm, cm) =>
        p.exists(pm => pm > cm && pm <= vm + w) }
      if (l3) 3 else if (chains2.nonEmpty) 2 else if (v.nonEmpty) 1 else 0
    }
    val expected = localLevels.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out == expected, s"$out vs $expected")
    assert(out.values.sum == byUser.size)
  }

  // ---------------- p11 epoch repetition ----------------

  test("p11: copy counts follow the per-language epoch recipe exactly") {
    val out = operators.Sampling.p11RepeatEpochs(spark, sf)
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n"), max($"epoch").as("maxe"), min($"epoch").as("mine"))
      .as[(Long, String, Long, Long, Long)].collect()
    out.foreach { case (id, lang, n, maxe, mine) =>
      val w = operators.Sampling.EpochTargetsThousandths(lang)
      val expected = w / 1000 + (if (id * 7919 % 1000 < w % 1000) 1 else 0)
      assert(n == expected, s"doc $id ($lang): $n copies, expected $expected")
      assert(mine == 0 && maxe == n - 1, "epoch ordinals must be dense from 0")
    }
    // achieved rate per language ~ target thousandths (systematic coin)
    val docs = Tables.documents(spark, sf).groupBy($"lang")
      .agg(count(lit(1)).as("nd")).as[(String, Long)].collect().toMap
    val emitted = out.groupBy(_._2).map { case (l, xs) => l -> xs.map(_._3).sum }
    emitted.foreach { case (lang, tot) =>
      val target = operators.Sampling.EpochTargetsThousandths(lang).toDouble / 1000
      val achieved = tot.toDouble / docs(lang)
      // the decorrelated residue behaves like a fixed Bernoulli
      // draw per doc: allow 3 sigma of binomial noise + the 1/1000
      // systematic grain (exact once ids cover full residue cycles)
      val tol = 0.001 + 3 * math.sqrt(0.25 / docs(lang))
      assert(math.abs(achieved - target) <= tol,
        s"$lang achieved $achieved vs target $target (tol $tol)")
    }
  }

  // ---------------- q63 Holt forecast ----------------

  test("q63: the fixed-point recursion matches a local integer replay exactly") {
    val out = operators.Analytics.q63HoltForecast(spark, sf)
      .as[(Long, Long, Long)].collect()
    val ys = Tables.orders(spark, sf)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("y"))
      .orderBy($"d")
      .select(datediff($"d", to_date(lit("1970-01-01"))).cast("long"), $"y")
      .as[(Long, Long)].collect()
    // Scala / truncates toward zero — the same div semantics both
    // engines use (floor division diverged; see the q63 scaladoc)
    var l = ys(0)._2 * 1000L
    var b = (ys(1)._2 - ys(0)._2) * 1000L
    val expected = ys.drop(2).map { case (day, y) =>
      val fc = (l + b) / 1000L
      val l2 = (200L * y * 1000L + 800L * (l + b)) / 1000L
      b = (100L * (l2 - l) + 900L * b) / 1000L
      l = l2
      (day, y, fc)
    }
    assert(out.toSeq == expected.toSeq)
  }

  // ---------------- q65 A/B test ----------------

  test("q65: arm counts partition the users and the readout matches a local replay") {
    val r = operators.Analytics.q65AbTest(spark, sf).collect().head
    val perUser = Tables.events(spark, sf)
      .select($"user_id", ($"event_type" === "purchase").cast("long").as("p"))
      .groupBy($"user_id").agg(sum($"p").as("np"))
      .as[(Long, Long)].collect()
    val (a, b) = perUser.partition(_._1 % 2 == 0)
    assert(r.getAs[Long]("n_a") == a.length && r.getAs[Long]("n_b") == b.length)
    val (ca, cb) = (a.count(_._2 >= 15).toLong, b.count(_._2 >= 15).toLong)
    assert(r.getAs[Long]("conv_a") == ca && r.getAs[Long]("conv_b") == cb)
    def q4d(x: Double) = math.floor(x * 10000) / 10000.0
    val (pa, pb) = (ca.toDouble / a.length, cb.toDouble / b.length)
    assert(r.getAs[Double]("rate_a") == q4d(pa))
    assert(r.getAs[Double]("rate_b") == q4d(pb))
    assert(r.getAs[Double]("abs_lift") == q4d(pb - pa))
    assert(r.getAs[Double]("rel_lift") ==
      (if (ca == 0L) 0.0 else q4d((pb - pa) / pa)))
    val pool = (ca + cb).toDouble / (a.length + b.length)
    val z = (pb - pa) / math.sqrt(pool * (1 - pool) *
      (1.0 / a.length + 1.0 / b.length))
    assert(r.getAs[Double]("z_stat") == q4d(z))
  }

  // ---------------- q64 CUSUM ----------------

  test("q64: cusum prefix sums match a local integer replay and rank by |S|") {
    val out = operators.Analytics.q64Cusum(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val ys = Tables.orders(spark, sf)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("y"))
      .orderBy($"d")
      .select(datediff($"d", to_date(lit("1970-01-01"))).cast("long"), $"y")
      .as[(Long, Long)].collect()
    val mu = ys.map(_._2).sum / ys.length
    var acc = 0L
    val all = ys.map { case (day, y) => acc += y - mu; (day, y, acc, math.abs(acc)) }
    val expected = all.sortBy(r => (-r._4, r._1)).take(10).toSeq
    assert(out.toSeq == expected)
  }

  // ---------------- q62 link prediction ----------------

  test("q62: predictions are non-edges with consistent jaccard bounds") {
    val e = operators.Analytics.copurchasePairs(spark, sf)
      .filter($"n_orders" >= 2)
      .select($"pa", $"pb").as[(Long, Long)].collect().toSet
    val preds = operators.Graph.q62LinkPredict(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(preds.nonEmpty && preds.length <= 50)
    // neighbor sets from the same symmetric edge list
    val nbrs = (e.toSeq ++ e.toSeq.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    preds.foreach { case (a, b, common, j) =>
      assert(a < b && !e.contains((a, b)), s"($a,$b) must be a canonical non-edge")
      val inter = (nbrs(a) & nbrs(b)).size
      val union = (nbrs(a) | nbrs(b)).size
      assert(common == inter, s"($a,$b): common $common vs local $inter")
      assert(math.abs(j - math.floor(common.toDouble * 10000 / union) / 10000.0) < 1e-12)
      assert(j > 0.0 && j <= 1.0)
    }
    // ranking is jaccard desc with (a, b) tie-break
    val sorted = preds.sortBy { case (a, b, _, j) => (-j, a, b) }.toSeq
    assert(preds.toSeq == sorted)
  }

  // ---------------- d9 bloom decontamination ----------------

  test("d9: bloom-prefiltered decontamination equals p3 exactly (no false negatives)") {
    val p3 = operators.Dedup.p3Decontaminate(spark, sf)
      .as[(Long, Long)].collect().toSet
    val d9 = operators.Dedup.d9BloomDecontaminate(spark, sf)
      .as[(Long, Long)].collect().toSet
    assert(d9 == p3, "the bloom prefilter must not change the exact result")
  }

  test("d9: the scan-side might_contain filter sits below the exact join in the plan") {
    val p = Caches.scoped(operators.Dedup.d9Build(spark, sf, _)
      .queryExecution.executedPlan.toString)
    // the blob rides as a constant literal into the scan-side Filter
    // (might_contain's required form), so survivors are pruned BEFORE
    // any exchange of the corpus shingles
    assert(p.contains("might_contain"), p)
    val filterAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0 && filterAt > joinAt,
      "filter must be in the join's subtree (printed below it): " + p)
  }

  // ---------------- compaction ----------------

  test("compact: a fragmented table rewrites into the target file count with identical content") {
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    // simulate a micro-batch-fragmented ingest: 64 tiny files
    Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .repartition(64).write.parquet(src)
    def dataFiles(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    assert(dataFiles(src).size == 64)
    val n = spark.read.parquet(src).count()
    val target = 2000L
    operators.Layout.compact(spark, src, dst, target)
    val out = dataFiles(dst)
    assert(out.size == ((n + target - 1) / target).toInt,
      s"${out.size} files for $n rows at $target/file")
    // content preserved as a multiset
    // (orderkey, linenumber) is not unique in the synthetic data —
    // order by ALL columns for a deterministic multiset comparison
    val a = spark.read.parquet(src)
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity")
      .collect().toSeq
    val b = spark.read.parquet(dst)
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity")
      .collect().toSeq
    assert(a == b)
    // near-even files: no file under half the target (the coalesce
    // failure mode this operator exists to avoid)
    out.foreach { f =>
      val rows = spark.read.parquet(f.toString).count()
      assert(rows <= target && rows >= target / 2, s"${f.getName}: $rows rows")
    }
  }

  // ---------------- q60 ACF ----------------

  test("q60: acf matches a local recomputation and stays in [-1, 1]") {
    val acf = operators.Analytics.q60Acf(spark, sf)
      .as[(Int, Double)].collect().toMap
    assert(acf.keySet == (1 to 7).toSet)
    assert(acf.values.forall(v => v >= -1.0 && v <= 1.0))
    // local recomputation from the raw table, same integer-cents and
    // quantized-mean definition
    val daily = Tables.orders(spark, sf)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("cents"))
      .orderBy($"day").select($"cents").as[Long].collect()
    val mu = daily.sum / daily.length
    val d = daily.map(x => (x - mu).toDouble)
    val den = d.map(x => x * x).sum
    (1 to 7).foreach { k =>
      val num = (0 until d.length - k).map(t => d(t) * d(t + k)).sum
      val expected = math.floor(num / den * 10000) / 10000.0
      assert(math.abs(acf(k) - expected) <= 1e-4, s"lag $k: ${acf(k)} vs $expected")
    }
  }
}
