package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** LINEAR PROBE over the embeddings table — the standard supervised
  * read-out of representation quality (ridge-regularized one-vs-rest
  * least squares on frozen embeddings; Alain & Bengio 2016's probe,
  * the closed-form variant), and the third head of the m14 family:
  * m14 ships the exact Gram, m15 eigensolves it, m16 SOLVES AGAINST
  * it — the ridge normal equations (C + λI) w_c = cov(x, y_c) need
  * exactly the sufficient statistics the one gram pass already
  * produced.
  *
  * Shape at 100 TB: sufficient statistics are ONE extra metadata-
  * scale aggregate beyond m14's memoized gram — per-class counts and
  * per-class quantized feature sums (C·d = 640 longs, exact integers
  * on the m14 fixed-point grid, map-side partial like any sum) — the
  * solve is a driver-side d×d Cholesky per class (microseconds), and
  * scoring is C codegen `array_dot`s against literal weight vectors
  * with a `greatest(struct(score, -label))` argmax (the m9
  * centroid-literal shape). Nothing iterative, nothing collected
  * beyond the 640-entry table. Float solve ⟹ rows-only (the spec
  * pins prediction parity against a fully-local replay and the
  * training accuracy floor; the integer sufficient statistics are
  * hash-checked transitively through m14's oracle).
  */
object LinearProbe {

  /** Ridge strength on the POPULATION-covariance scale — small
    * against this corpus's per-dim variances (~2e-2, see §6.19's
    * measured spectrum) so the probe reads representation quality,
    * large enough to keep the Cholesky numerically safe even on a
    * degenerate (constant-dimension) corpus. */
  val Lambda = 1e-4

  import Pca.{Dim, QScale}

  /** One aggregation job: per class label, the row count and the
    * per-dimension sums of the m14-quantized embeddings — the
    * C·(d+1)-value bounded `probe_class_stats` session artifact (the
    * `gram` pattern). */
  private[graft] def classStats(s: SparkSession, dir: String):
      Array[(Int, Long, Array[Long])] = graft.Caches.artifact("probe_class_stats", dir) {
    import s.implicits._
    Pca.quantized(s, dir)
      .join(Tables.embeddings(s, dir).select($"vec_id", $"label"), "vec_id")
      .groupBy($"label".cast("int").as("label"))
      .agg(count(lit(1)).as("n"),
        array((0 until Dim).map(i =>
          sum(element_at($"qv", i + 1))): _*).as("sums"))
      .orderBy($"label")
      .as[(Int, Long, Seq[Long])].collect()
      .map { case (l, n, ss) => (l, n, ss.toArray) }
  }

  /** The trained probe: per class (in ascending label order) the
    * weight vector over raw double embeddings and the intercept.
    * w_c = (C + λI)⁻¹ cov(x, y_c), b_c = p_c − μ·w_c with
    * cov(x, y_c) = (Σ_{i∈c} x_i)/n − μ·p_c and p_c = n_c/n — all
    * sufficient statistics exact integers from the gram scan + the
    * classStats aggregate; the solve is a deterministic driver-side
    * Cholesky on the shared covariance. */
  private[graft] def probeWeights(s: SparkSession, dir: String):
      Array[(Int, Array[Double], Double)] = {
    val (c, mu, n) = Pca.covariance(s, dir)
    val cls = classStats(s, dir)
    require(cls.nonEmpty, "m16_linear_probe: no labeled vectors")
    val a = Array.tabulate(Dim, Dim)((i, j) =>
      c(i)(j) + (if (i == j) Lambda else 0.0))
    val chol = cholesky(a)
    val qs = QScale.toDouble
    cls.map { case (label, nc, qsums) =>
      val p = nc.toDouble / n
      val rhs = Array.tabulate(Dim)(i => qsums(i) / qs / n - mu(i) * p)
      val w = cholSolve(chol, rhs)
      val b = p - mu.zip(w).map { case (m, x) => m * x }.sum
      (label, w, b)
    }
  }

  /** M16: every vector's true label and the probe's argmax-scored
    * prediction (ties → min label). Rows-only: the solve is float;
    * the spec pins exact parity with a local replay. */
  def m16LinearProbe(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("m16_probe", dir) { _ =>
      import s.implicits._
      val ws = probeWeights(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"label".cast("int").as("label"),
          toDoubles($"embedding").as("v"))
      // score_c = w_c·v + b_c as one codegen dot per class; argmax via
      // greatest over (score, −label) structs — lexicographic struct
      // order gives max score, ties to the smallest label
      val scored: Seq[Column] = ws.toSeq.map { case (label, w, b) =>
        struct((dot($"v", array(w.map(lit): _*)) + lit(b)).as("s"),
          lit(-label).as("neg"))
      }
      val best =
        if (scored.size == 1) scored.head else greatest(scored: _*)
      emb.select($"vec_id", $"label",
          (-best.getField("neg")).cast("int").as("pred"))
        .orderBy($"vec_id")
    }

  /** M17: the probe's confusion matrix — (label, pred, n) over the
    * training set, the C×C rollup of m16 (shares its memoized
    * frame). Training-set accuracy is Σ diagonal / Σ n. */
  def m17Confusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    m16LinearProbe(s, dir)
      .groupBy($"label", $"pred").agg(count(lit(1)).as("n"))
      .orderBy($"label", $"pred")
  }

  /** Folds for m18's cross-validated probe — deterministic
    * assignment `vec_id % CvFolds`, so the split is a pure function
    * of the data. */
  val CvFolds = 5

  /** Per-dataset CV sufficient statistics, the `probe_cv_stats`
    * session artifact: (fold, label) → (n, Σ qv, gram triangle,
    * max|q|) — one aggregate, 50 groups, ~104k longs collected (the
    * bounded-artifact pattern). */
  private[graft] def cvStats(s: SparkSession, dir: String):
      Array[(Int, Int, Long, Array[Long], Array[Long], Long)] =
    graft.Caches.artifact("probe_cv_stats", dir) {
      import s.implicits._
      val out = Pca.quantized(s, dir)
        .join(Tables.embeddings(s, dir).select($"vec_id", $"label"), "vec_id")
        .groupBy(($"vec_id" % CvFolds).cast("int").as("fold"),
          $"label".cast("int").as("label"))
        .agg(count(lit(1)).as("n"),
          array((0 until Dim).map(i =>
            sum(element_at($"qv", i + 1))): _*).as("sums"),
          call_function("gram_agg", $"qv", lit(Dim)).as("g"),
          max(aggregate($"qv", lit(0L),
            (m, x) => greatest(m, abs(x)))).as("maxq"))
        .as[(Int, Int, Long, Seq[Long], Seq[Long], Long)].collect()
        .map { case (f, l, n, ss, g, mq) => (f, l, n, ss.toArray, g.toArray, mq) }
      // the m14 no-wrap proof over the COMBINED totals: every train-
      // split triangle sum has ≤ n_total terms each ≤ max|q|²
      val nTot = out.map(_._3).sum
      val maxq = if (out.isEmpty) 0L else out.map(_._6).max
      require(BigInt(nTot) * BigInt(maxq) * BigInt(maxq) <= BigInt(Long.MaxValue),
        s"m18_cv_probe: $nTot rows × max|q|=$maxq could overflow the " +
          "Long triangle sums — quantize coarser at this scale")
      out
    }

  /** M18: K-FOLD CROSS-VALIDATED probe accuracy in ONE data pass —
    * the held-out read-out m16's training fit can't give. The key is
    * that the ridge normal equations consume only ADDITIVE exact-
    * integer sufficient statistics (per-group gram triangles, sums,
    * counts on the m14 fixed-point grid), so every fold's TRAINING
    * statistics are `totals − fold` — no per-fold re-scan, no second
    * pass; at 100 TB the whole schedule is one 50-group aggregate +
    * K·C driver Choleskys + one scoring scan whose per-row weight set
    * is selected by `vec_id % K` (a when-chain of codegen argmaxes).
    * Output: per fold (fold, n, n_correct, accuracy). Float solve ⟹
    * rows-only; the spec pins parity with a fully-local replay.
    *
    * MEASURED on the synthetic corpus (§6.19): heldout ≈ 0.07–0.10
    * (chance) while m16's training fit reads 0.39 — the labels carry
    * no generalizable signal (1-NN leave-one-out = 0.07), so the CV
    * probe correctly exposes the training fit as overfit. That gap
    * is the operator's purpose, and the spec pins it. */
  def m18CvProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = cvStats(s, dir)
    require(stats.nonEmpty, "m18_cv_probe: no labeled vectors")
    val qs = QScale.toDouble
    val nTot = stats.map(_._3).sum
    val labels = stats.map(_._2).distinct.sorted
    val tri = Dim * (Dim + 1) / 2
    def zeros(k: Int) = Array.fill(k)(0L)
    // totals, then per-fold complements (train = total − fold)
    val gTot = zeros(tri); val sTot = zeros(Dim)
    stats.foreach { case (_, _, _, ss, g, _) =>
      var i = 0; while (i < tri) { gTot(i) += g(i); i += 1 }
      i = 0; while (i < Dim) { sTot(i) += ss(i); i += 1 }
    }
    val folds = stats.map(_._1).distinct.sorted
    val foldWs: Map[Int, Array[(Int, Array[Double], Double)]] =
      folds.map { f =>
        val inF = stats.filter(_._1 == f)
        val nTr = nTot - inF.map(_._3).sum
        require(nTr > 1, s"m18_cv_probe: fold $f leaves ≤ 1 training row")
        val gTr = gTot.clone(); val sTr = sTot.clone()
        inF.foreach { case (_, _, _, ss, g, _) =>
          var i = 0; while (i < tri) { gTr(i) -= g(i); i += 1 }
          i = 0; while (i < Dim) { sTr(i) -= ss(i); i += 1 }
        }
        val mu = sTr.map(_ / qs / nTr)
        val a = Array.ofDim[Double](Dim, Dim)
        for (i <- 0 until Dim; j <- i until Dim) {
          val v = gTr(Pca.triIdx(i, j)) / qs / qs / nTr - mu(i) * mu(j) +
            (if (i == j) Lambda else 0.0)
          a(i)(j) = v; a(j)(i) = v
        }
        val chol = cholesky(a)
        val byLabel = stats.filter(s2 => s2._1 != f)
          .groupBy(_._2).view.mapValues { g2 =>
            val nc = g2.map(_._3).sum
            val cs = zeros(Dim)
            g2.foreach { case (_, _, _, ss, _, _) =>
              var i = 0; while (i < Dim) { cs(i) += ss(i); i += 1 } }
            (nc, cs)
          }.toMap
        f -> labels.map { c =>
          val (nc, cs) = byLabel.getOrElse(c, (0L, zeros(Dim)))
          val p = nc.toDouble / nTr
          val rhs = Array.tabulate(Dim)(i => cs(i) / qs / nTr - mu(i) * p)
          val w = cholSolve(chol, rhs)
          (c, w, p - mu.zip(w).map { case (m, x) => m * x }.sum)
        }
      }.toMap
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"label".cast("int").as("label"),
        ($"vec_id" % CvFolds).cast("int").as("fold"),
        toDoubles($"embedding").as("v"))
    def argmaxFor(ws: Array[(Int, Array[Double], Double)]): Column = {
      val scored = ws.toSeq.map { case (label, w, b) =>
        struct((dot($"v", array(w.map(lit): _*)) + lit(b)).as("s"),
          lit(-label).as("neg"))
      }
      val best = if (scored.size == 1) scored.head else greatest(scored: _*)
      (-best.getField("neg")).cast("int")
    }
    // per-row prediction by the row's OWN held-out fold's weights
    val pred = folds.tail.foldLeft(
      when($"fold" === folds.head, argmaxFor(foldWs(folds.head)))) {
      (acc, f) => acc.when($"fold" === f, argmaxFor(foldWs(f)))
    }
    emb.select($"fold", $"label", pred.as("pred"))
      .groupBy($"fold")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_correct"))
      .select($"fold", $"n", $"n_correct",
        q4($"n_correct".cast("double") / $"n").as("accuracy"))
      .orderBy($"fold")
  }

  /** M19: the probe's per-class sufficient statistics as a
    * hash-gated surface — (label, dim, qsum, n) over the m14
    * fixed-point grid, 640 rows of pure integers (the m14Gram
    * pattern). This is the DISTRIBUTED half of m16/m18 verified
    * directly by the DuckDB oracle (floor(x·2²⁰) is IEEE-exact in
    * both engines; everything after is integer sums), rather than
    * transitively through m14's triangle. */
  def m19ClassStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = for {
      (label, n, sums) <- classStats(s, dir).toSeq
      d <- 0 until Dim
    } yield (label, d, sums(d), n)
    rows.toDF("label", "dim", "qsum", "n").orderBy($"label", $"dim")
  }

  /** M19 oracle: the same quantization + per-(label, dim) integer
    * sums, dimension index via a range join (the m14 oracle shape). */
  private[graft] def classStatsOracleSql: String =
    s"""WITH q AS (
           SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * ${Pca.QScale}) AS BIGINT)) AS qv
           FROM embeddings),
         se AS (
           SELECT label, CAST(t.i - 1 AS INTEGER) AS dim,
             qv[CAST(t.i AS INTEGER)] AS qi
           FROM q, range(1, ${Dim + 1}) AS t(i))
         SELECT CAST(label AS INTEGER) AS label, dim,
           CAST(sum(qi) AS BIGINT) AS qsum, count(*) AS n
         FROM se GROUP BY 1, 2
         ORDER BY label, dim"""

  /** Lower-triangular Cholesky factor of a symmetric positive-
    * definite matrix (deterministic index-ordered sums; the ridge
    * λI keeps the pivot strictly positive — guarded loudly). */
  private[graft] def cholesky(a: Array[Array[Double]]): Array[Array[Double]] = {
    val d = a.length
    val l = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- 0 to i) {
      var s = a(i)(j)
      var k = 0
      while (k < j) { s -= l(i)(k) * l(j)(k); k += 1 }
      if (i == j) {
        require(s > 0,
          s"m16_linear_probe: covariance + λI not positive definite at $i")
        l(i)(i) = math.sqrt(s)
      } else l(i)(j) = s / l(j)(j)
    }
    l
  }

  /** Solve L Lᵀ x = b by forward + back substitution. */
  private[graft] def cholSolve(l: Array[Array[Double]],
      b: Array[Double]): Array[Double] = {
    val d = l.length
    val y = new Array[Double](d)
    for (i <- 0 until d) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= l(i)(k) * y(k); k += 1 }
      y(i) = s / l(i)(i)
    }
    val x = new Array[Double](d)
    for (i <- d - 1 to 0 by -1) {
      var s = y(i)
      var k = i + 1
      while (k < d) { s -= l(k)(i) * x(k); k += 1 }
      x(i) = s / l(i)(i)
    }
    x
  }
}
