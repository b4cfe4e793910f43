package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Principal-component analysis over the embeddings table — the
  * LEARNED dimensionality-reduction head next to s14's random (JL)
  * projection, and the standard preprocessing stage in front of
  * IVF/PQ indexes (FAISS trains OPQ on PCA'd vectors; Jégou et al.
  * 2011 §V). Split into the repo's exact/approximate pair:
  *
  *  - `m14_gram`: the EXACT fixed-point Gram matrix Σ q·qᵀ — the one
  *    distributed pass PCA needs, hash-checkable cross-engine because
  *    quantization is floor(x·2²⁰) (multiplication by a power of two
  *    is IEEE-EXACT, floor is exact, so both engines quantize
  *    bit-identically) and everything after is integer algebra.
  *  - `m15_pca`: the eigensolve + projection head. Eigenvectors of a
  *    64×64 matrix are a DRIVER-side bounded artifact (the q90
  *    K²-matrix discipline — never a distributed loop over data-sized
  *    state); the projection is 8 codegen `array_dot`s against
  *    literal component vectors (the m9 centroid-literal shape).
  *    Float eigensolves are not SQL-replayable → rows-only, with the
  *    spectrum pinned by specs (orthonormality, descending
  *    eigenvalues, per-component projection variance ≈ eigenvalue).
  *
  * Shape at 100 TB: ONE scan with a d(d+1)/2-long map-side partial
  * buffer (gram_agg — no row blow-up, 16 KB of state per partition),
  * one K-bounded driver eigensolve, one projection scan. Nothing
  * iterative, nothing collected beyond the 2,080-entry triangle.
  */
object Pca {

  val Dim = 64

  /** Fixed-point quantization scale — a power of two, so x·QScale is
    * an EXACT IEEE multiply and floor(x·QScale) is engine-identical
    * (the q4 floor-not-round discipline, pushed to 2⁻²⁰ resolution). */
  val QScale = 1L << 20

  /** Components kept by m15 — the knee of the spectrum at every SF
    * (spec-measured); also s14's JlOutDim/2, so the two projections
    * compare at similar compression. */
  val TopK = 8

  /** Quantized embeddings (vec_id, qv: array<long>) — shared with the
    * m16 linear-probe head (same fixed-point grid, so its per-class
    * sums are exact integers on the same scale as the gram). */
  private[graft] def quantized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id",
        transform($"embedding",
          x => floor(x.cast("double") * QScale).cast("long")).as("qv"))
  }

  /** One aggregation job: the Gram triangle + per-dim sums + n +
    * max|q| (the no-wrap guard inputs ride the same scan). The tuple
    * is a K-bounded dataset artifact like KMeans centroids — the
    * `gram` session artifact, served to m14 AND m15. */
  private def gramStats(s: SparkSession, dir: String):
      (Array[Long], Array[Long], Long, Long) = graft.Caches.artifact("gram", dir) {
    import s.implicits._
    // maxq/sums decode as Option: on an EMPTY table max()/sum() are
    // null and a bare-Long decode would die with an opaque NPE before
    // the intended loud require below fires (advisor r13)
    val row = quantized(s, dir).agg(
      call_function("gram_agg", $"qv", lit(Dim)).as("g"),
      count(lit(1)).as("n"),
      max(aggregate($"qv", lit(0L),
        (m, x) => greatest(m, abs(x)))).as("maxq"),
      array((0 until Dim).map(i =>
        sum(element_at($"qv", i + 1))): _*).as("sums"))
      .select($"g", $"n", $"maxq", $"sums")
      .as[(Seq[Long], Long, Option[Long], Seq[Option[Long]])].head()
    val (g, n, maxqOpt, sumsOpt) = row
    require(n > 0, s"m14_gram: embeddings table at $dir is empty")
    val maxq = maxqOpt.getOrElse(0L)
    val sums = sumsOpt.map(_.getOrElse(0L))
    // q86-style no-wrap proof: every triangle sum has n terms, each
    // ≤ max|q|² — if that product fits in Long, nothing wrapped.
    // Past this bound the remedy is a coarser QScale, never silence.
    require(BigInt(n) * BigInt(maxq) * BigInt(maxq) <= BigInt(Long.MaxValue),
      s"m14_gram: $n rows × max|q|=$maxq could overflow the Long " +
        "triangle sums — quantize coarser (smaller QScale) at this scale")
    (g.toArray, sums.toArray, n, maxq)
  }

  /** M14: the exact Gram triangle as (i, j, gram) rows, i ≤ j —
    * 2,080 rows of pure integers, the hash-gated surface. */
  def m14Gram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (g, _, _, _) = gramStats(s, dir)
    val rows = for {
      i <- 0 until Dim
      j <- i until Dim
    } yield (i, j, g(triIdx(i, j)))
    rows.toDF("i", "j", "gram").orderBy($"i", $"j")
  }

  /** Row-major upper-triangle index of (i, j), i ≤ j. */
  private[graft] def triIdx(i: Int, j: Int): Int =
    i * Dim - i * (i - 1) / 2 + (j - i)

  /** M15: project every embedding onto the top-`TopK` principal
    * components. Returns (vec_id, pc: array<double> q4-quantized) —
    * the library API keeps the wide array column. */
  def m15Pca(s: SparkSession, dir: String): DataFrame =
    m15Pca(s, dir, TopK)

  /** M15 registry surface: the same projection posexploded to
    * long-form (vec_id, dim, value) — the s14 discipline
    * (Similarity.scala s14JlProjection): the driver's canonicalizer
    * sorts/hashes scalar columns and cannot sort an array<double>
    * (r13's one ERR row). Production callers use [[m15Pca]]; this
    * form exists for the check gate. */
  def m15PcaLong(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    m15Pca(s, dir, TopK)
      .select($"vec_id", posexplode($"pc"))
      .select($"vec_id", $"pos".cast("int").as("dim"), $"col".as("value"))
      .orderBy($"vec_id", $"dim")
  }

  private[graft] def m15Pca(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    import s.implicits._
    val (evals, w, mu) = principalComponents(s, dir)
    val kept = w.take(k)
    require(evals.take(k).forall(_ >= -1e-9),
      s"m15_pca: negative leading eigenvalue ${evals.take(k).min}")
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", toDoubles($"embedding").as("v"))
    // proj_k = (v − μ)·w_k = v·w_k − μ·w_k : one codegen array_dot per
    // component against a literal vector, the centered term a plan
    // constant
    val pcs = kept.map { wk =>
      val wLit = array(wk.map(lit): _*)
      val muDotW = mu.zip(wk).map { case (m, x) => m * x }.sum
      q4(dot($"v", wLit) - lit(muDotW))
    }
    emb.select($"vec_id", array(pcs: _*).as("pc")).orderBy($"vec_id")
  }

  /** The spectrum artifact: (eigenvalues desc, eigenvectors as rows,
    * mean vector) of the POPULATION covariance (divide by n, matching
    * the spec's pinned semantics — quantization and the 1/n are both
    * part of the operator, like q4's floors), from one gram_agg pass +
    * a driver-side deterministic cyclic Jacobi on the 64×64 matrix. */
  private[graft] def principalComponents(s: SparkSession, dir: String):
      (Array[Double], Array[Array[Double]], Array[Double]) = {
    val (c, mu, _) = covariance(s, dir)
    val (evals, evecs) = jacobiEigen(c)
    // deterministic order and sign: eigenvalue desc (index tie-break),
    // each vector flipped so its max-|component| entry is positive
    // (first such index wins) — reruns and reimplementations agree
    val order = evals.zipWithIndex.sortBy { case (v, i) => (-v, i) }
    val sortedVals = order.map(_._1)
    val sortedVecs = order.map { case (_, i) =>
      val vec = evecs.map(_(i))
      val mx = vec.indices.maxBy(j => (math.abs(vec(j)), -j))
      if (vec(mx) < 0) vec.map(-_) else vec
    }
    (sortedVals, sortedVecs, mu)
  }

  /** The population covariance of the QUANTIZED, de-scaled vectors
    * (the quantization is part of the operator's semantics, like q4's
    * floors): C[i][j] = (Σ q_i q_j)/Q²/n − μ_i μ_j from the one-pass
    * exact gram stats. Shared by m15's eigensolve and m16's ridge
    * normal equations. Returns (C, μ, n). */
  private[graft] def covariance(s: SparkSession, dir: String):
      (Array[Array[Double]], Array[Double], Long) = {
    val (g, sums, n, _) = gramStats(s, dir)
    require(n > 1, "m15_pca: needs at least 2 vectors")
    val qs = QScale.toDouble
    val mu = sums.map(_ / qs / n)
    val c = Array.ofDim[Double](Dim, Dim)
    for (i <- 0 until Dim; j <- i until Dim) {
      val v = g(triIdx(i, j)) / qs / qs / n - mu(i) * mu(j)
      c(i)(j) = v; c(j)(i) = v
    }
    (c, mu, n)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix — fixed sweep
    * order and a fixed convergence threshold, so the solve is a pure
    * function of its input (driver-side, O(d³) per sweep on a
    * 64-wide matrix — microseconds next to any scan). Returns
    * (eigenvalues, eigenvector COLUMNS). */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    def offDiag: Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    while (sweep < 64 && offDiag > 1e-22) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-18) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta == 0.0) 1.0
          else math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val cth = 1.0 / math.sqrt(t * t + 1.0)
        val sth = t * cth
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = cth * aip - sth * aiq
          a(i)(q) = sth * aip + cth * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = cth * api - sth * aqi
          a(q)(i) = sth * api + cth * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = cth * vip - sth * viq
          v(i)(q) = sth * vip + cth * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** M14 oracle: the same floor(x·2²⁰) quantization, the triangle by
    * a per-row dimension self-join (the SQL formulation gram_agg
    * replaces), HUGEINT sums cast back to BIGINT. */
  private[graft] def gramOracleSql: String =
    s"""WITH q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * $QScale) AS BIGINT)) AS qv
           FROM embeddings),
         se AS (
           -- no WITH ORDINALITY in this DuckDB: index via a range join
           SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
             qv[CAST(t.i AS INTEGER)] AS qi
           FROM q, range(1, ${Dim + 1}) AS t(i))
         SELECT a.i AS i, b.i AS j,
           CAST(sum(a.qi * b.qi) AS BIGINT) AS gram
         FROM se a JOIN se b
           ON a.vec_id = b.vec_id AND b.i >= a.i
         GROUP BY 1, 2
         ORDER BY i, j"""
}
