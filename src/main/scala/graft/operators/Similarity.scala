package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MlVector}
import graft.Tables
import graft.Caches.FreshCheckpoint
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * `s1`/`d5` are the exact baselines: a blocked pairwise join with a
  * codegen'd double dot product. Exact all-pairs is O(n²) — correct
  * at validation scale, and the reason the IVF path exists. At 100 TB
  * the serving path is `s2AnnIvf`: a KMeans coarse quantizer turns the
  * search into (a) a centroid probe (tiny broadcast) and (b) a join
  * against only the probed clusters' inverted lists — the classic
  * IVF-Flat layout (Johnson et al., "Billion-scale similarity search
  * with GPUs", 2017), with cluster id as the partition key.
  */
object Similarity {

  /** S1: exact brute-force top-k cosine neighbors for the query set
    * (vec_id < 5). Ranking is on 4-dp-quantized cosine with vec_id
    * tie-break, so order is engine-reproducible. */
  def s1KnnBrute(s: SparkSession, dir: String): DataFrame =
    s1KnnBrute(s, dir, 5)

  /** The exact scorer behind s1 and s7: the query block (vec_id <
    * `nQueries`) broadcasts, each partition scores its candidate slice
    * with the codegen'd dot, and the slate's map-side `topk_agg`
    * partial ships only k rows per (partition, query). */
  private[graft] def s1KnnBrute(s: SparkSession, dir: String, nQueries: Int): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables.embeddings(s, dir))
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    slate(emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos")), Seq("q_id"), "cos", 3)
  }

  /** S6: exact max-inner-product top-k (MIPS) — the recommender
    * serving primitive: rank candidates by RAW dot product (user·item
    * preference score), not by angle. Distinct from s1 because MIPS is
    * not a metric search: the dot is unbounded and norm-biased, so
    * cosine indexes don't serve it directly. The classic scale path is
    * the norm-augmentation reduction (Bachrach et al. RecSys'14):
    * lift every candidate to [x; √(M²−‖x‖²)] with M = max ‖x‖ and
    * queries to [q; 0] — inner-product order then EQUALS cosine order
    * in the lifted space, and the s2 IVF machinery serves it
    * unchanged. The suite entry hash-checks the exact path; the
    * reduction's order-equivalence is spec-pinned.
    *
    * Shape at 100 TB: queries broadcast (serving batches are small
    * next to the corpus); candidates stream through one codegen'd
    * dot + `topk_agg`, whose map-side partial ships ≤ k rows per
    * (partition, query) — the same agg-not-window shape as m10. */
  def s6Mips(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", toDoubles($"embedding").as("v"))
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    slate(emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(dot($"qv", $"v")).as("ip")), Seq("q_id"), "ip", 3)
  }

  /** S7: exact kNN JOIN — a 500-query batch each getting its top-3
    * cosine neighbors over the whole corpus (the batch operator behind
    * "find neighbors for every row"); s1's exact scorer at 500
    * queries. The O(n·m) dot products are unavoidable for the exact
    * result, but the SHUFFLE never sees them: m·k rows cross the wire,
    * not n·m. At 100 TB the same plan serves with the s2 IVF probe
    * replacing the full scan (the approximate twin); this entry is the
    * exact reference the recall specs measure against. */
  def s7KnnJoin(s: SparkSession, dir: String): DataFrame =
    s1KnnBrute(s, dir, 500)

  /** The norm-augmentation lift for the spec: candidates →
    * [x; √(M²−‖x‖²)], queries → [q; 0]. ‖lifted‖ = M for every
    * candidate, so cosine order against a lifted query is dot order. */
  private[graft] def s6Lifted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables.embeddings(s, dir))
    val m = emb.agg(max($"nrm")).as[Double].head()
    emb.select($"vec_id",
      concat($"v", array(sqrt(greatest(lit(m * m) - $"nrm" * $"nrm", lit(0.0)))))
        .as("v"))
  }

  /** D5: exact embedding near-dup pairs, cosine ≥ 0.5 — same result
    * set as the naive all-pairs join (the oracle checks it), but the
    * candidate join is a shuffle equi-join on a cluster-pair key, never
    * a nested loop.
    *
    * Completeness: cos(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ √(2−2t) on the unit
    * sphere. With each vector assigned to a KMeans cluster whose unit-
    * space pivot is p_i and radius r_i = max ‖û−p_i‖, the triangle
    * inequality gives: a qualifying pair can only span clusters (i,j)
    * with ‖p_i−p_j‖ ≤ r_i + r_j + √(2−2t). Only those cluster pairs
    * are joined (equi-key: cluster ids), then candidates are exact-
    * verified with the same FP expression as the baseline. On clustered
    * corpora (the near-dup case) this prunes most cluster pairs; on
    * isotropic data it degrades to a *distributed* blocked all-pairs —
    * still a shuffle join across K² tasks, never a driver-side
    * broadcast nested loop. Pivots/radii are K-bounded artifacts
    * (like KMeans centers), not data-sized collects. */
  def d5EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = 0.5
    val (base, pairs, _, _) = d5Index(s, dir)
    val left = base.select($"vec_id".as("id_a"), $"v".as("va"),
      $"nrm".as("na"), $"cluster".as("ci"))
    val right = base.select($"vec_id".as("id_b"), $"v".as("vb"),
      $"nrm".as("nb"), $"cluster".as("cj"))
    // verify with the exact baseline FP graph — candidate pruning only
    // decides WHICH pairs get scored, never how
    val cos = dot($"va", $"vb") / ($"na" * $"nb")
    left.join(broadcast(pairs), Seq("ci"))
      .join(right, Seq("cj"))
      .filter($"id_a" < $"id_b")
      .filter(cos >= t)
      .select($"id_a", $"id_b", q4(cos).as("cosine"))
      .orderBy($"id_a", $"id_b")
  }

  /** d10's duplicate threshold — d5's τ, so the exact pair list IS
    * the audit surface for the approximation. */
  val SemDedupTau = 0.5

  /** Largest DISTINCT-vector cluster the within-cluster pair join will
    * accept: 64Ki distinct members ≈ 2³¹ ordered pairs in one
    * partition — past that the published recipe's remedy is
    * re-clustering (a larger K, or a recursive fit inside the
    * offender), not silently letting one partition go quadratic. */
  val SemDedupClusterCap = 65536

  /** The SemDeDup keep/drop rule over EXPLICIT cluster assignments —
    * factored out so the spec can drive constructed corpora without
    * an MLlib fit. Within each cluster, order members by (sim-to-
    * centroid asc, vec_id asc) quantized to 1e6 micro-units; a vector
    * DROPS iff some cluster-mate EARLIER in that order is τ-close
    * (the reference implementation's semantics: the drop test runs
    * against every earlier example, kept or not — low-centroid-sim
    * representatives survive, preserving diversity per the paper's
    * finding). Pairwise work is Σ|cluster|²/2 over DISTINCT vectors —
    * SemDeDup's trade: no cross-cluster pairs are ever considered
    * (d5's admissible-cluster-pair join IS complete; this is the
    * cheaper, published approximation whose loss the spec measures
    * against d5).
    *
    * MEGA-CLUSTER GUARDS (round 12): the usual way a quantizer
    * collapses is mass duplication, and bit-identical vectors are
    * DUPLICATE-COMPRESSED before any pairwise work — within a
    * (cluster, v) group only the min-id representative enters the
    * pair join; every later twin drops unconditionally (its
    * representative is earlier in the (simc, id) order — same simc,
    * smaller id — and cos(v, v) ≈ 1 ≥ τ), and a non-representative b
    * can never be some a's only dropper, because b's representative
    * b′ precedes b with the identical cosine. ZERO vectors are exempt
    * (cosine() defines cos(0, ·) = 0 < τ, so zero twins all survive,
    * exactly as the uncompressed join would keep them). The result is
    * BIT-IDENTICAL to the uncompressed form (Round12Spec sweeps it
    * against a local pairwise reference) while a 10⁹-copy corpus
    * costs one groupBy. The residual risk — a mega-cluster of
    * DISTINCT near-twins — raises LOUDLY at `cap` distinct members
    * (K-bounded size check, one tiny job) naming the escalation
    * instead of letting a single partition go quadratic. */
  private[graft] def semDedupCore(assigned: DataFrame,
      centers: Array[Array[Double]], tau: Double, scope: graft.Caches.Scope,
      cap: Int = SemDedupClusterCap): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    // identical-compression needs cos(identical nonzero pair) ≥ τ;
    // that cosine is 1 within one ulp of the norm product, so any
    // τ ≤ 1 − 1e-9 is safe (and τ > 1 would drop nothing anyway)
    require(tau <= 1.0 - 1e-9,
      s"semDedupCore: tau=$tau too close to 1 for duplicate compression")
    val centDf = centers.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "cv")
    val base = scope.keep(assigned
      .join(broadcast(centDf), "cluster")
      .withColumn("simc_q", floor(cosine($"v", $"cv") * 1e6).cast("long"))
      .select($"cluster", $"vec_id", $"v", $"simc_q"))
    // one representative per (cluster, vector value): min id — the
    // earliest twin in the (simc, id) order (simc is a function of
    // (cluster, v), constant within the group)
    val rep = scope.keep(base.groupBy($"cluster", $"v")
      .agg(min($"vec_id").as("vec_id"), min($"simc_q").as("simc_q")))
    val sizes = rep.groupBy($"cluster").agg(count(lit(1)).as("n"))
      .agg(max($"n")).as[Long].head()
    if (sizes > cap)
      throw new IllegalStateException(
        s"d10: a cluster holds $sizes DISTINCT vectors (> cap $cap): the " +
        "quantizer collapsed semantically — re-cluster with a larger K or " +
        "recursively re-fit inside the oversized cluster (SemDeDup §3) " +
        "before running the within-cluster pass")
    val l = rep.select($"cluster", $"vec_id".as("a"), $"v".as("va"),
      $"simc_q".as("sa"))
    val r = rep.select($"cluster", $"vec_id".as("b"), $"v".as("vb"),
      $"simc_q".as("sb"))
    // cluster-keyed equi-join (the partition key at scale), dominance
    // prefilter BEFORE the cosine so only ordered pairs pay the dot
    val droppedReps = l.join(r, Seq("cluster"))
      .filter(struct($"sb", $"b") < struct($"sa", $"a"))
      .filter(cosine($"va", $"vb") >= tau)
      .select($"a".as("rep_id")).distinct()
    base
      .join(rep.select($"cluster", $"v", $"vec_id".as("rep_id")),
        Seq("cluster", "v"))
      .join(droppedReps.withColumn("d", lit(true)), Seq("rep_id"), "left")
      .select($"vec_id", $"cluster", $"simc_q",
        (coalesce($"d", lit(false)) ||
          ($"vec_id" =!= $"rep_id" && dot($"v", $"v") > 0.0)).as("dropped"))
      .orderBy($"vec_id")
  }

  /** D10: SEMANTIC DEDUPLICATION (SemDeDup, Abbas et al. 2023) — the
    * web-scale published recipe: k-means the embedding space (the IVF
    * coarse quantizer — an index is an artifact, reused), then drop
    * τ-near duplicates WITHIN each cluster, keeping the member least
    * similar to its centroid (diversity-preserving representative).
    * d5 remains the EXACT near-dup baseline (admissible cluster-PAIR
    * join, completeness-guaranteed): d10 is its linear-partitioned
    * approximation — candidate work collapses from admissible cluster
    * pairs to Σ|cluster|²/2 disjoint blocks, the shape that holds at
    * 100 TB where each cluster is a partition — and its loss is
    * exactly the cross-cluster pairs, which the spec AUDITS against
    * d5's exact list (soundness: every drop has a true τ-pair;
    * within-cluster completeness: no surviving intra-cluster pair).
    * Seeded k-means fit → rows-only by design. */
  def d10SemDedup(s: SparkSession, dir: String): DataFrame = {
    graft.Caches.memo("d10_semdedup", dir) { sc =>
      val (assigned, centers) = ivfIndex(s, dir)
      semDedupCore(assigned, centers, SemDedupTau, sc)
    }
  }

  /** Each cluster's unit-space pivot (elementwise mean of the unit
    * vectors `u`: K×dim values) and the cluster → pivot map literal. */
  private def clusterPivots(unit: DataFrame): (Map[Int, Array[Double]], Column) = {
    import unit.sparkSession.implicits._
    val pivots: Map[Int, Array[Double]] = unit
      .select($"cluster", posexplode($"u").as(Seq("pos", "x")))
      .groupBy($"cluster", $"pos").agg(avg($"x").as("m"))
      .groupBy($"cluster")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"cluster", transform($"pm", _.getField("m")).as("pivot"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val pivotLit = map(pivots.keys.toSeq.sorted.flatMap(i =>
      Seq(lit(i), array(pivots(i).map(lit): _*))): _*)
    (pivots, pivotLit)
  }

  /** The d5 pruning artifacts: the norm-extended index frame, the
    * admissible cluster-pair table, and the per-cluster unit-space
    * (pivot, radius) maps — K-bounded artifacts shared with s5's
    * radius search, so their posexplode + two collect jobs run once
    * per dataset. */
  private def d5Index(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Map[Int, Array[Double]], Map[Int, Double]) =
    graft.Caches.artifact("d5_index", dir) {
      import s.implicits._
      val t = 0.5
      val dBound = math.sqrt(2.0 - 2.0 * t) + 1e-9
      val (assigned, _) = ivfIndex(s, dir) // (vec_id, v, cluster), cached
      // nrm cached so the unit-vector lambda divides by a materialized
      // column, not an inlined sqrt(dot) re-evaluated per element
      val base = assigned.withColumn("nrm", sqrt(dot($"v", $"v"))).cache()
      // the zero vector stays zero (`unitScaled`): one NaN would poison
      // its cluster's radius (max propagates NaN) and silently drop
      // every pair the admissibility test should keep; its ‖u‖=0 only
      // OVERestimates dist² below (completeness-safe)
      val unit = base.withColumn("u", unitScaled($"v", $"nrm"))
      val (pivots, pivotLit) = clusterPivots(unit)
      val ids = pivots.keys.toSeq.sorted
      val pn2 = ids.map(i => i -> pivots(i).map(x => x * x).sum).toMap
      val pn2Lit = map(ids.flatMap(i => Seq(lit(i), lit(pn2(i)))): _*)
      // r_i = max ‖û − p_i‖; ‖û‖ = 1 up to FP eps, absorbed in the slack
      val dist2 = lit(1.0) - lit(2.0) * dot($"u", element_at(pivotLit, $"cluster")) +
        element_at(pn2Lit, $"cluster")
      val radii: Map[Int, Double] = unit
        .groupBy($"cluster").agg(max(sqrt(greatest(dist2, lit(0.0)))).as("r"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      def pdist(i: Int, j: Int): Double =
        math.sqrt(pivots(i).zip(pivots(j)).map { case (x, y) => (x - y) * (x - y) }.sum)
      val admissible = for {
        i <- ids; j <- ids
        if pdist(i, j) <= radii(i) + radii(j) + dBound + 1e-6
      } yield (i, j)
      (base, admissible.toDF("ci", "cj"), pivots, radii)
    }

  val RadiusThreshold = 0.25

  /** S5: RADIUS search — every neighbor with cosine ≥ `RadiusThreshold`
    * per query (the fixed-radius companion to s1/s2's top-k: near-dup
    * lookup, "everything similar to X" retrieval). Cluster-pruned but
    * EXACT, so the brute-force SQL oracles it: cos(q,x) ≥ t ⟹
    * ‖q̂−x̂‖ ≤ √(2−2t) on the unit sphere, and x in cluster c implies
    * ‖x̂−p_c‖ ≤ r_c, so only clusters with ‖q̂−p_c‖ ≤ r_c + √(2−2t)
    * can hold a result (triangle inequality — the d5 admissibility
    * test, query-side). Per query the scan touches only admitted
    * clusters' inverted lists (the IVF layout's partition pruning);
    * the (pivot, radius) table is the K-bounded artifact shared with
    * d5 via the `d5_index` artifact. On clustered corpora most clusters prune;
    * on isotropic data it degrades to a distributed full scan — the
    * same bound d5 documents, never a driver-side loop. */
  def s5RadiusSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = RadiusThreshold
    val dBound = math.sqrt(2.0 - 2.0 * t) + 1e-9
    val (base, _, pivots, radii) = d5Index(s, dir)
    val ids = pivots.keys.toSeq.sorted
    val boundsLit = array(ids.map(i => struct(
      lit(i).as("cluster"),
      array(pivots(i).map(lit): _*).as("pivot"),
      lit(radii(i)).as("radius"))): _*)
    val queries = base.filter($"vec_id" < 5)
      .withColumn("qu", unitScaled($"v", $"nrm"))
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"), $"qu")
      .withColumn("cb", explode(boundsLit))
      // ‖q̂ − p‖ = √(1 − 2·q̂·p + ‖p‖²), clamped for FP
      .withColumn("qpd", sqrt(greatest(
        lit(1.0) - lit(2.0) * dot($"qu", $"cb.pivot") +
          dot($"cb.pivot", $"cb.pivot"), lit(0.0))))
      .filter($"qpd" <= $"cb.radius" + lit(dBound))
      .select($"q_id", $"qv", $"qn", $"cb.cluster".as("cluster"))
    val cos = dot($"qv", $"v") / ($"qn" * $"nrm")
    queries.join(base, Seq("cluster"))
      .filter($"vec_id" =!= $"q_id")
      .filter(cos >= t)
      .select($"q_id", $"vec_id".as("neighbor_id"), q4(cos).as("cosine"))
      .orderBy($"q_id", $"neighbor_id")
  }

  /** Q33: per-label vector statistics — the embedding-column health
    * check a feature store runs (count, norm distribution per class).
    * Norms go through the codegen ArrayDot; one partial-aggregated
    * shuffle on the label. */
  def q33VectorStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", toDoubles($"embedding").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
      // avg from per-row micro-unit pre-quantization + exact integer
      // division (the q52-class fix: engine-native float avg
      // accumulates in implementation order and a boundary-landing
      // mean floors differently across engines); min/max of identical
      // per-row doubles are already engine-exact
      .withColumn("nq", floor($"nrm" * 1000000).cast("long"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vectors"),
        (expr("(sum(nq) div count(1)) div 100") / 10000.0).as("avg_norm"),
        (floor(min($"nrm") * 10000) / 10000.0).as("min_norm"),
        (floor(max($"nrm") * 10000) / 10000.0).as("max_norm"))
      .orderBy($"label")
  }

  /** Embeddings as double vectors with their norm, the shared scan for
    * the exact similarity operators. */
  private def withNorm(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id", toDoubles($"embedding").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
  }

  /** The top-k slate every ranked search ends with: one `topk_agg` per
    * `keys` group over (`score`, neighbor_id) rows — score desc (−0.0
    * canonicalized), neighbor_id asc, the order a row_number window
    * would give — exploded to one row per rank. The map-side partial
    * ships ≤ k rows per (partition, group); a window would sort every
    * candidate. Returns (keys…, rnk int, neighbor_id, score) ordered by
    * (q_id, rnk). */
  private def slate(scored: DataFrame, keys: Seq[String], score: String,
      k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    val ks = keys.map(col)
    scored.groupBy(ks: _*)
      .agg(expr(s"topk_agg($score, neighbor_id, $k)").as("top"))
      .select(ks :+ posexplode($"top").as(Seq("pos", "e")): _*)
      .select(ks ++ Seq(($"pos" + 1).cast("int").as("rnk"),
        $"e.id".as("neighbor_id"), $"e.score".as(score)): _*)
      .orderBy($"q_id", $"rnk")
  }

  /** The IVF centroids as one K×dim array literal. */
  private def centroidLit(centers: Array[Array[Double]]): Column =
    array(centers.map(c => array(c.map(lit): _*)): _*)

  /** The IVF probe: each `qv` row's top-`probes` clusters by
    * q4-quantized centroid cosine, one row per probed cluster
    * (`probe`). */
  private def probeClusters(queries: DataFrame, centers: Array[Array[Double]],
      probes: Int): DataFrame = {
    import queries.sparkSession.implicits._
    queries.withColumn("probe", explode(topIndicesDesc(
      transform(centroidLit(centers), c => q4(cosine($"qv", c))), probes)))
  }

  val IvfClusters = 16
  val IvfProbes = 2

  /** Fit the IVF coarse quantizer and assign every vector a cluster,
    * once per dataset: every probe query serves from the index (an
    * index is an artifact, not a per-query computation).
    * Returns (assignments df: vec_id, v, cluster; centroid arrays). */
  def ivfIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) =
    graft.Caches.artifact("ivf", dir) {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", toDoubles($"embedding").as("v"))
        .withColumn("features", array_to_vector($"v"))
      // summary dropped so transform closures never carry the session
      // (see org.apache.spark.ml.graft.ModelHygiene)
      val model = org.apache.spark.ml.graft.ModelHygiene.dropTrainingSummary(
        new KMeans().setK(IvfClusters).setSeed(42L).setMaxIter(10)
          .setFeaturesCol("features").setPredictionCol("cluster")
          .fit(emb))
      val assigned = model.transform(emb).select($"vec_id", $"v", $"cluster").cache()
      (assigned, model.clusterCenters.map(_.toArray))
    }

  /** S2: IVF approximate top-k — probe the `IvfProbes` nearest
    * centroids per query, search only those inverted lists. The
    * candidate join is keyed on cluster id (= partition key at scale),
    * so each query touches probes/K of the data. */
  def s2AnnIvf(s: SparkSession, dir: String): DataFrame =
    s2AnnIvf(s, dir, IvfProbes)

  /** IVF search with an explicit probe count; `probes == IvfClusters`
    * degenerates to exact search (the spec's correctness invariant —
    * on isotropic data low probe counts trade recall for the k/K scan
    * reduction, which is the entire point at scale). */
  def s2AnnIvf(s: SparkSession, dir: String, probes: Int): DataFrame = {
    import s.implicits._
    val (assigned, centers) = ivfIndex(s, dir)
    val queries = probeClusters(assigned.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv")), centers, probes)
    slate(assigned.join(broadcast(queries),
        $"cluster" === $"probe" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"), q4(cosine($"qv", $"v")).as("cos")),
      Seq("q_id"), "cos", 3)
  }

  /** Persist the IVF index in its serving layout: vectors written
    * partitioned by cluster id. A probe query then reads ONLY the
    * probed clusters' directories (partition pruning) — the on-disk
    * shape of the "touch probes/K of the data" property. */
  def s3WriteIvfIndex(s: SparkSession, dir: String, outPath: String): Array[Array[Double]] = {
    val (assigned, centers) = ivfIndex(s, dir)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(outPath)
    centers
  }

  // ---- Adaptive probes: bound-pruned EXACT search --------------------

  /** Cluster angular radii, a K-bounded artifact like the centroids. */
  private[graft] def clusterRadii(s: SparkSession, dir: String): Array[Double] =
    graft.Caches.artifact("cluster_radii", dir) {
      val (assigned, centers) = ivfIndex(s, dir)
      clusterRadiiOf(assigned, centers)
    }

  /** Angular radius per cluster — max angle(member, centroid), the
    * index-build-time artifact the adaptive bound reads. One node-keyed
    * aggregate; the result is K doubles (K-bounded, like centroids). */
  private[graft] def clusterRadiiOf(assigned: DataFrame,
      centers: Array[Array[Double]]): Array[Double] = {
    import assigned.sparkSession.implicits._
    val rows = assigned
      .select($"cluster", acos(least(greatest(
        cosine($"v", element_at(centroidLit(centers), $"cluster" + 1)),
        lit(-1.0)), lit(1.0))).as("ang"))
      .groupBy($"cluster").agg(max($"ang").as("radius"))
      .as[(Int, Double)].collect()
    val out = Array.fill(centers.length)(0.0)
    rows.foreach { case (c, r) => out(c) = r }
    out
  }

  /** The s8 search kernel, exposed with explicit index artifacts so the
    * spec can drive it on a constructed well-separated corpus (where
    * the bound MUST prune) as well as the real one. Returns (result,
    * probed (q_id, cluster) set — the scan-fraction evidence). */
  private[graft] def s8Search(assigned: DataFrame,
      centers: Array[Array[Double]], radii: Array[Double],
      nQueries: Int): (DataFrame, DataFrame) = {
    import assigned.sparkSession.implicits._
    val nK = centers.length
    val centerLit = centroidLit(centers)
    val radiusLit = array(radii.map(lit): _*)
    val queries = assigned.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
      .withColumn("ang", transform(centerLit, c =>
        acos(least(greatest(cosine($"qv", c), lit(-1.0)), lit(1.0)))))
      .withColumn("probe1", element_at(
        topIndicesDesc(transform(centerLit, c => cosine($"qv", c)), 1), 1))
    val scored1 = assigned
      .join(broadcast(queries.select($"q_id", $"qv", $"probe1")),
        $"cluster" === $"probe1" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(cosine($"qv", $"v")).as("cos"))
    val kth = scored1.groupBy($"q_id")
      .agg(expr("topk_agg(cos, neighbor_id, 3)").as("top"))
      .select($"q_id",
        when(size($"top") >= 3, element_at($"top", 3).getField("score"))
          .otherwise(lit(-2.0)).as("kth"))
    // a query whose first cluster holds no other vector has no kth row
    val probes2 = queries.join(kth, Seq("q_id"), "left")
      .withColumn("kth", coalesce($"kth", lit(-2.0)))
      .select($"q_id", $"qv",
        explode(filter(sequence(lit(0), lit(nK - 1)), c =>
          c =!= $"probe1" &&
            cos(greatest(element_at($"ang", c + 1) -
              element_at(radiusLit, c + 1), lit(0.0))) + lit(1e-7) >= $"kth"))
          .as("probe"))
    val scored2 = assigned.join(broadcast(probes2),
        $"cluster" === $"probe" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(cosine($"qv", $"v")).as("cos"))
    val res = slate(scored1.unionAll(scored2), Seq("q_id"), "cos", 3)
    val probed = queries.select($"q_id", $"probe1".cast("int").as("cluster"))
      .unionAll(probes2.select($"q_id", $"probe".cast("int").as("cluster")))
    (res, probed)
  }

  /** S8: adaptive-probe EXACT top-k — the per-query serving knob the
    * measured IVF recall/probes curve motivates (Round10Spec), with the
    * guesswork removed: instead of a FIXED probe count trading recall
    * blind, each query probes its nearest cluster, reads its running
    * k-th best score, and then scans ONLY clusters whose best-case
    * member could still displace it. The bound is the ball-tree /
    * FAISS triangle inequality on the sphere: every member of cluster
    * c lies within the index-time angular radius θ_c of its centroid,
    * so sim(q, x) ≤ cos(max(0, angle(q, c) − θ_c)) for all x ∈ c — a
    * cluster whose bound is below the current k-th quantized score
    * provably contains no result row, and skipping it is EXACT, not
    * approximate (pruning by floor-quantization step: a candidate
    * below the quantized k-th strictly loses every tie-break).
    * Result: s1's brute-force answer, hash-checked by the same oracle,
    * at a per-query scan cost that adapts to how separated the query's
    * neighborhood is. On THIS corpus the mechanism is honest about the
    * physics: isotropic synthetic vectors give clusters ~90° radii, so
    * the bound rarely prunes (the spec validates the MECHANISM on a
    * constructed separated corpus where pruning must engage, and
    * equality always).
    *
    * Shape at 100 TB: phase 1 is an IVF probe (partition-pruned scan
    * of one cluster), the k-th scores are a queries-sized artifact,
    * and phase 2 is the same cluster-keyed pruned join as s2 — two
    * rounds, both partition-pruned, no new shuffle shape. */
  def s8AdaptiveAnn(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centers) = ivfIndex(s, dir)
    s8Search(assigned, centers, clusterRadii(s, dir), 5)._1
  }

  /** S9: the corpus-wide kNN GRAPH — every vector's top-3 cosine
    * neighbors, served through the IVF index (the "build the neighbor
    * graph for the whole corpus" operator a training-data pipeline
    * runs before graph-based dedup, diversity sampling, or label
    * propagation). s7 answers a 500-query batch exactly at O(n·m)
    * dots; at corpus-as-queries scale that is O(n²) and the IVF cut
    * is the standard answer: each vector scores only its `probes`
    * nearest clusters' inverted lists — n²·probes/K dot products, a
    * K/probes-fold cut that deepens with K at constant recall-per-list
    * density.
    *
    * Shape at 100 TB: queries do NOT broadcast here (they are the
    * corpus); both sides hash-partition on the cluster id — the probe
    * explode (n × probes rows, each carrying its query vector once)
    * exchanges on `probe`, the index side already lives
    * cluster-partitioned (s3's layout), so the join co-locates without
    * moving the index. `topk_agg`'s map-side partial ships ≤ k rows
    * per (partition, query): output-sized wire after the one
    * co-located join. Seeded KMeans assignment is deterministic but
    * not SQL-replicable → rows-only; the spec pins probes==K ≡ s7's
    * exact answer on the shared query slice and measures recall at
    * the default probes. */
  def s9KnnGraph(s: SparkSession, dir: String): DataFrame =
    s9KnnGraph(s, dir, IvfProbes)

  def s9KnnGraph(s: SparkSession, dir: String, probes: Int): DataFrame =
    knnGraphEdges(s, dir, probes, 3)

  /** The s9 kernel with the neighbor count exposed — s9's entry keeps
    * k=3 (its spec'd/bench'd surface); s15's serving graph builds at
    * `GraphAnnDegree` because beam search needs a denser graph to
    * navigate (see knnGraphIndex). */
  private[graft] def knnGraphEdges(s: SparkSession, dir: String,
      probes: Int, k: Int): DataFrame = {
    import s.implicits._
    val (assigned, centers) = ivfIndex(s, dir)
    val queries = probeClusters(assigned
      .select($"vec_id".as("q_id"), $"v".as("qv")), centers, probes)
    slate(assigned.join(queries, $"cluster" === $"probe" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(cosine($"qv", $"v")).as("cos")), Seq("q_id"), "cos", k)
  }

  // ---- Graph-based ANN (beam search over the kNN graph) --------------

  /** Beam width and hop budget for s15 — beam 32 over the symmetrized
    * degree-~20 graph reaches recall@3 = 1.0 for the suite queries in
    * 4 hops at both oracle SFs (measured surface: beam 8/16/32 →
    * 0.80/0.93/1.00 at sf0.01; hops beyond 4 buy nothing at any
    * beam — the beam converges first). Beam is the ef-style quality
    * knob (HNSW serves at ef=50–200); hops is a fixed budget so the
    * entry is a pure function of the index (extra hops past beam
    * convergence are the identity — spec-pinned like the q66/q78
    * rounds discipline). */
  val GraphAnnBeam = 32
  val GraphAnnHops = 4

  /** Out-degree of the s15 serving graph (before symmetrization).
    * Graph-ANN graphs are DENSE by design — HNSW keeps M=16–32 links,
    * DiskANN R=64 — because navigability in high dimension dies on
    * sparse graphs: on this corpus a symmetrized 3-NN graph (degree
    * ~6) caps recall@3 at 0.87/0.60 (sf0.001/sf0.01) no matter how
    * wide the beam, while degree ~20 reaches 1.0 at beam 32
    * (measured, spec-pinned). */
  val GraphAnnDegree = 10

  // the navigable graph is an index ARTIFACT like ivfIndex: built once
  // per dataset — and since round 13 a PERSISTED parquet layout (the
  // d11 discipline), so a RESTARTED session reloads the adjacency
  // instead of re-running the kNN build (the ~29 s sf0.1 cost s15's
  // cold row used to pay per session); the `knn_graph` session
  // artifact is the in-session memo on top. The counter counts
  // rebuilds of the on-disk layout, which the ledger cannot tell from
  // reloads.
  private[graft] val knnGraphBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Identity of the embeddings table an s15 layout was built from
    * (`Tables.sourceIdentity`: path + per-file bytes and mtime).
    * Written into the layout's `_COMPLETE` marker and re-verified on
    * load — the 32-bit-hashCode keying this replaced could collide
    * across datasets in shared /tmp, or miss a regenerated table whose
    * mtime was preserved, and silently serve the wrong adjacency. */
  private[graft] def s15SourceIdentity(s: SparkSession, dir: String): String =
    Tables.sourceIdentity(s, s"$dir/embeddings.parquet")

  /** On-disk home of the s15 layout for a dataset — named by the
    * SHA-256 of the source identity, with the identity itself stored
    * in the `_COMPLETE` marker for positive verification on load. */
  private[graft] def s15LayoutDir(s: SparkSession, dir: String): java.io.File =
    Tables.artifactDir("graft-s15-graph", s15SourceIdentity(s, dir))

  /** The s15 serving graph: `GraphAnnDegree`-NN edges (the s9 kernel)
    * SYMMETRIZED (reverse links added, NSW practice — Malkov et al.
    * 2014 keep bidirectional links precisely so greedy search can
    * escape a one-way cul-de-sac) and deduplicated. Node-keyed: at
    * 100 TB `src` is the partition key and a beam expansion is one
    * equi-join touching only frontier keys — the adjacency IS the
    * posting layout, persisted hash-clustered on `src` (one file per
    * src hash bucket here; a lake deployment makes it a bucketed
    * table on the same key). `_COMPLETE` is written LAST so a crashed
    * build rebuilds rather than serving a torn layout (the d11
    * discipline). */
  private[graft] def knnGraphIndex(s: SparkSession, dir: String): DataFrame =
    graft.Caches.artifact("knn_graph", dir) {
      import s.implicits._
      val identity = s15SourceIdentity(s, dir)
      val root = Tables.artifactDir("graft-s15-graph", identity)
      // positive identity check: the marker must name THIS source
      // (path+mtime+size) — a digest collision or a marker from an
      // older build scheme triggers a rebuild, never a silent serve
      if (!Tables.completeFor(root, identity)) {
        knnGraphBuilds.incrementAndGet()
        val g = knnGraphEdges(s, dir, IvfProbes, GraphAnnDegree)
          .select($"q_id".as("src"), $"neighbor_id".as("dst"))
        g.unionAll(g.select($"dst".as("src"), $"src".as("dst")))
          .distinct()
          .repartition(col("src"))
          .sortWithinPartitions($"src", $"dst")
          .write.mode("overwrite")
          .parquet(new java.io.File(root, "edges").getPath)
        Tables.markComplete(root, identity)
      }
      val edges = s.read
        .parquet(new java.io.File(root, "edges").getPath).cache()
      edges.count()
      edges
    }

  /** S15: GRAPH-BASED approximate nearest neighbors — beam search over
    * the symmetrized kNN graph (the NSW/DiskANN serving family:
    * Malkov et al. 2014; Subramanya et al. NeurIPS'19), the third
    * published ANN scale path next to IVF (s2) and PQ (s4). Entry
    * points are the per-cluster MEDOIDS (the vector most cosine-
    * similar to its own centroid, vec_id tie-break — deterministic,
    * and the same role DiskANN's medoid start plays); each round
    * expands the beam's out-neighbors, re-scores candidates against
    * the query, and keeps the top `beam` (monotone: the beam's best
    * never worsens, so a fixed hop budget past convergence is the
    * identity).
    *
    * Shape at scale: the graph is a prebuilt node-keyed artifact (the
    * partition layout); a query batch is broadcast; each hop is ONE
    * equi-join on the frontier's node keys + one codegen'd cosine +
    * one `topk_agg` (map-side partial, ≤ beam rows per partition per
    * query) — per-query work is O(hops · beam · degree), INDEPENDENT
    * of corpus size, the property IVF probing (probes/K of the data)
    * can't give. Seeded k-means under the s9 graph → rows-only;
    * recall vs s1's exact slate is spec-pinned. */
  def s15GraphAnn(s: SparkSession, dir: String): DataFrame =
    s15GraphAnn(s, dir, GraphAnnBeam, GraphAnnHops)

  private[graft] def s15GraphAnn(s: SparkSession, dir: String,
      beam: Int, hops: Int): DataFrame = {
    import s.implicits._
    val (assigned, centers) = ivfIndex(s, dir)
    val g = knnGraphIndex(s, dir)
    val vecs = assigned.select($"vec_id", $"v")
    // per-cluster medoid: K-bounded frame (≤ IvfClusters rows)
    val medoids = assigned
      .withColumn("csim", q4(cosine($"v", element_at(centroidLit(centers), $"cluster" + 1))))
      .groupBy($"cluster")
      .agg(max(struct($"csim", (-$"vec_id").as("nid"))).as("m"))
      .select((-$"m.nid").as("vec_id"))
    val queries = assigned.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    def rescore(cand: DataFrame): DataFrame = cand
      .join(vecs, "vec_id")
      .join(broadcast(queries), "q_id")
      .select($"q_id", $"vec_id", q4(cosine($"qv", $"v")).as("cos"))
      .groupBy($"q_id")
      .agg(expr(s"topk_agg(cos, vec_id, $beam)").as("top"))
      .select($"q_id", explode($"top").as("e"))
      .select($"q_id", $"e.id".as("vec_id"), $"e.score".as("cos"))
    // beam_0: every query scores the ≤ K medoid entries
    var bm = rescore(queries.select($"q_id")
      .crossJoin(broadcast(medoids))).checkpointFresh
    for (_ <- 1 to hops) {
      val nbrs = bm.join(g.withColumnRenamed("src", "vec_id"), "vec_id")
        .select($"q_id", $"dst".as("vec_id"))
      val cand = bm.select($"q_id", $"vec_id").unionAll(nbrs).distinct()
      // loop state through checkpointFresh: bm feeds both the nbr
      // expansion and the union (§6.14's two-descendant shape)
      bm = rescore(cand).checkpointFresh
    }
    slate(bm.filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"), $"cos"), Seq("q_id"), "cos", 3)
  }

  // ---- Product quantization (IVF-PQ) ---------------------------------

  val PqM = 8          // subspaces: a 64-d vector → 8 codes
  val PqK = 16         // centroids per subspace (4-bit codes)
  val PqSample = 2048  // codebook training sample (driver-side, bounded)
  val PqIters = 10     // Lloyd iterations per subspace
  val PqCandidates = 32 // ADC candidates per probed cluster before refine

  /** Train the PQ codebook on a bounded sample, driver-side Lloyd per
    * subspace — the standard practice (FAISS trains its quantizers on
    * a capped sample too): the codebook is m·k·(d/m) doubles, a
    * K-bounded artifact like KMeans centers, and training touches at
    * most `PqSample` vectors no matter the corpus size. Deterministic:
    * the sample is the first `PqSample` vectors by vec_id and the init
    * picks evenly-spaced sample subvectors. Empty clusters keep their
    * previous center (they can only re-acquire members). */
  private[graft] def pqTrain(sample: Array[Array[Double]], m: Int, k: Int,
      iters: Int): Array[Double] = {
    require(sample.nonEmpty,
      "pq: empty training sample (embeddings table has no rows)")
    val d = sample.head.length
    require(d % m == 0, s"pq: dim $d not divisible by m=$m")
    val dsub = d / m
    val flat = new Array[Double](m * k * dsub)
    var s = 0
    while (s < m) {
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val cents = Array.tabulate(k)(j => subs((j.toLong * subs.length / k).toInt).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val cnt = new Array[Int](k)
        for (sv <- subs) {
          var best = 0; var bd = Double.MaxValue
          var j = 0
          while (j < k) {
            var dd = 0.0; var t = 0
            while (t < dsub) { val x = sv(t) - cents(j)(t); dd += x * x; t += 1 }
            if (dd < bd) { bd = dd; best = j }
            j += 1
          }
          cnt(best) += 1
          var t = 0
          while (t < dsub) { sums(best)(t) += sv(t); t += 1 }
        }
        var j = 0
        while (j < k) {
          if (cnt(j) > 0) {
            var t = 0
            while (t < dsub) { cents(j)(t) = sums(j)(t) / cnt(j); t += 1 }
          }
          j += 1
        }
        it += 1
      }
      var j = 0
      while (j < k) {
        System.arraycopy(cents(j), 0, flat, ((s * k) + j) * dsub, dsub)
        j += 1
      }
      s += 1
    }
    flat
  }

  // alternating rotation/codebook rounds
  val OpqIters = 12

  /** OPQ rotation (Ge et al., "Optimized Product Quantization", CVPR
    * 2013, non-parametric solution): learn an orthogonal R that
    * re-mixes the dimensions BEFORE the subspace split so the m
    * independent codebooks spend their bits where the variance is,
    * alternating (fix R → retrain codebook on rotated sample) with
    * (fix codes → solve the orthogonal Procrustes problem
    * min_R ||X Rᵀ − Ŷ||_F via one d×d SVD, R = V Uᵀ). Driver-side on
    * the same bounded `PqSample` the codebook trains on — the rotation
    * is a d×d artifact like the codebook itself. Returns (R rows,
    * codebook trained on the rotated sample). Deterministic: pqTrain's
    * init is positional and the SVD has no randomness. */
  private[graft] def rotateVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val d = x.length
    val y = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0; var j = 0
      while (j < d) { acc += r(i)(j) * x(j); j += 1 }
      y(i) = acc; i += 1
    }
    y
  }

  /** Nearest-centroid reconstruction of `y` — mirrors
    * PqFunctions.encode then decodes. */
  private[graft] def reconstructVec(y: Array[Double], cb: Array[Double],
      m: Int, k: Int): Array[Double] = {
    val d = y.length
    val dsub = d / m
    val out = new Array[Double](d)
    var s = 0
    while (s < m) {
      var best = 0; var bd = Double.MaxValue; var j = 0
      while (j < k) {
        var dd = 0.0; var t = 0
        val cBase = ((s * k) + j) * dsub
        while (t < dsub) { val x = y(s * dsub + t) - cb(cBase + t); dd += x * x; t += 1 }
        if (dd < bd) { bd = dd; best = j }
        j += 1
      }
      System.arraycopy(cb, ((s * k) + best) * dsub, out, s * dsub, dsub)
      s += 1
    }
    out
  }

  /** Mean ||R x − q(R x)||² over a sample — the OPQ objective. */
  private[graft] def quantizationMse(sample: Array[Array[Double]],
      rot: Array[Array[Double]], cb: Array[Double], m: Int, k: Int): Double = {
    var acc = 0.0
    for (x <- sample) {
      val y = rotateVec(rot, x)
      val yh = reconstructVec(y, cb, m, k)
      var t = 0
      while (t < y.length) { val e = y(t) - yh(t); acc += e * e; t += 1 }
    }
    acc / sample.length
  }

  private[graft] def opqTrain(sample: Array[Array[Double]], m: Int, k: Int,
      pqIters: Int, opqIters: Int): (Array[Array[Double]], Array[Double]) = {
    import org.apache.commons.math3.linear.{Array2DRowRealMatrix, SingularValueDecomposition}
    val d = sample.head.length
    var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def rotate(x: Array[Double]): Array[Double] = rotateVec(r, x)
    var it = 0
    while (it < opqIters) {
      val rotated = sample.map(rotate)
      val cb = pqTrain(rotated, m, k, 6)
      val recon = rotated.map(y => reconstructVec(y, cb, m, k))
      // Procrustes: M = Xᵀ Ŷ, svd(M) = U Σ Vᵀ, A = U Vᵀ minimizes
      // ||X A − Ŷ||_F over orthogonal A; rows transform as y = R x with
      // R = Aᵀ = V Uᵀ
      val mMat = Array.ofDim[Double](d, d)
      var n = 0
      while (n < sample.length) {
        val x = sample(n); val yh = recon(n)
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) { mMat(i)(j) += x(i) * yh(j); j += 1 }
          i += 1
        }
        n += 1
      }
      val svd = new SingularValueDecomposition(new Array2DRowRealMatrix(mMat, false))
      val a = svd.getU.multiply(svd.getVT).getData // A = U Vᵀ
      r = Array.tabulate(d, d)((i, j) => a(j)(i))  // R = Aᵀ
      it += 1
    }
    (r, pqTrain(sample.map(rotate), m, k, pqIters))
  }

  /** Unit-normalized vectors joined with their cluster's unit-space
    * pivot (`clusterPivots`, the d5 pattern) and the residual
    * `r = û − pivot`. The unit frame is kept in `scope` (the pivot pass
    * and the residual pass share it); close the scope once the
    * residual's derived frame materializes. */
  private def residualFrame(s: SparkSession, dir: String,
      scope: graft.Caches.Scope): DataFrame = {
    import s.implicits._
    val (assigned, _) = ivfIndex(s, dir)
    val unit = scope.keep(assigned
      .withColumn("nrm", sqrt(dot($"v", $"v")))
      .withColumn("u", unitScaled($"v", $"nrm")))
    val (_, pivotLit) = clusterPivots(unit)
    unit.withColumn("r",
      zip_with($"u", element_at(pivotLit, $"cluster"), (a, b) => a - b))
  }

  /** The bounded residual sample the PQ/OPQ codebooks train on —
    * exposed for the recall/MSE probe and specs. */
  private[graft] def pqTrainingSample(s: SparkSession, dir: String): Array[Array[Double]] =
    graft.Caches.scoped { sc =>
      import s.implicits._
      residualFrame(s, dir, sc).orderBy($"vec_id").limit(PqSample)
        .select($"r").as[Seq[Double]].collect().map(_.toArray)
    }

  /** Build (or serve) the IVF-PQ index: every vector unit-normalized,
    * reduced to its RESIDUAL from the cluster's unit-space pivot
    * (elementwise mean — the FAISS-standard IVF-PQ refinement: the
    * coarse quantizer explains the between-cluster structure, so the
    * codebook's 4 bits/subspace go entirely to within-cluster detail),
    * PQ-encoded via the codegen `pq_encode` kernel (one distributed
    * scan — training is the only driver-side step), and packed into
    * per-cluster blocks of (ids asc, flat codes) exactly like the
    * IVF-Flat blocks — except each candidate costs m ints instead of
    * d doubles, the 32× memory drop that keeps a 100 TB corpus's index
    * servable from cluster RAM.
    *
    * Serving stays kernel-identical: within one probed block,
    * q̂·û = q̂·pivot + q̂·r has a constant first term, so ranking the
    * block by the residual LUT sum IS ranking by approximate cosine —
    * no bias arithmetic needed before the exact refine. Residuals are
    * OPQ-ROTATED before encoding (`opqTrain`): R is orthogonal, so
    * (R q̂)·(R r) = q̂·r and the query just rotates once per probe.
    *
    * Measured at sf0.1, full probes, 100 queries (the round-4
    * 5-query curve was 15-pair sample noise): residual
    * encoding recalls 0.48/0.66/0.84/0.95 at depths 4/8/16/32, and
    * the OPQ rotation moves those by <±0.03 (within the ≈0.03
    * sampling SE) while cutting sample quantization MSE 7.6% — the
    * expected outcome on ISOTROPIC synthetic embeddings, whose
    * subspace energy is already balanced; on real anisotropic
    * embedding corpora the rotation is what keeps 4-bit codes usable,
    * and the spec pins its two invariants (orthogonality, MSE ≤
    * plain) deterministically; SimilaritySpec also pins full-probe
    * recall ≥ 0.6. */
  def pqIndex(s: SparkSession, dir: String): (DataFrame, Array[Double], Seq[Seq[Double]]) =
    graft.Caches.artifact("pq_index", dir)(graft.Caches.scoped { sc =>
      import s.implicits._
      val resid = residualFrame(s, dir, sc)
      val sample = resid.orderBy($"vec_id").limit(PqSample)
        .select($"r").as[Seq[Double]].collect().map(_.toArray)
      val (rot, cb) = opqTrain(sample, PqM, PqK, PqIters, OpqIters)
      val rotRows: Seq[Seq[Double]] = rot.map(_.toSeq).toSeq
      val cbLit = typedlit(cb.toSeq)
      // rotate each residual (y = R r, one ArrayDot per row of R) —
      // the d×d rotation rides as one literal, the rotate stays in
      // whole-stage codegen next to pq_encode
      val rotLit = typedlit(rotRows)
      val packed = resid
        .withColumn("rr", transform(rotLit, row => dot(row, $"r")))
        .select($"cluster", struct($"vec_id",
          call_function("pq_encode", $"rr", cbLit, lit(PqM), lit(PqK)).as("codes")).as("ic"))
        .groupBy($"cluster")
        .agg(array_sort(collect_list($"ic")).as("ics"))
        .select($"cluster",
          transform($"ics", _.getField("vec_id")).as("ids"),
          flatten(transform($"ics", _.getField("codes"))).as("codes"))
        .cache()
      packed.count() // materialize before the scope drops the unit frame
      (packed, cb, rotRows)
    })

  /** S4: IVF-PQ approximate top-k — the compressed-index serving path.
    * Per query: probe the nearest clusters by centroid cosine (as s2),
    * ADC-scan each probed cluster's packed CODE block in one
    * `pq_adc_topk` evaluation (per-query LUT + m table-adds per
    * candidate — never touching the full vectors), then exact-refine
    * only the surviving candidates: the refine join carries the
    * candidate's (cluster, vec_id) key, so against the
    * `s3WriteIvfIndex` cluster-partitioned layout it reads only probed
    * clusters' lists (partition-pruned point lookups), never a full
    * vector scan. Output ranking is by exact cosine, so quality
    * degrades only through candidate selection — the recall spec
    * bounds that, and full-probe recall isolates pure PQ quality. */
  def s4PqAnn(s: SparkSession, dir: String): DataFrame =
    s4PqAnn(s, dir, IvfProbes, PqCandidates)

  def s4PqAnn(s: SparkSession, dir: String, probes: Int, kCand: Int): DataFrame =
    s4PqAnn(s, dir, probes, kCand, 5)

  private[graft] def s4PqAnn(s: SparkSession, dir: String, probes: Int,
      kCand: Int, nQueries: Int): DataFrame = {
    import s.implicits._
    val (assigned, centers) = ivfIndex(s, dir)
    val (packed, cb, rotRows) = pqIndex(s, dir)
    val cbLit = typedlit(cb.toSeq)
    val rotLit = typedlit(rotRows)
    val normed = assigned.filter($"vec_id" < nQueries)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
      .withColumn("qn", sqrt(dot($"qv", $"qv")))
      .withColumn("qu", unitScaled($"qv", $"qn"))
    val queries = probeClusters(normed, centers, probes)
      // rotate the query once into OPQ space: (R q̂)·(R r) = q̂·r, so
      // LUT sums against the rotated codes still rank by cosine
      .select($"q_id", $"qv",
        transform(rotLit, row => dot(row, $"qu")).as("qr"), $"probe")
    // one ADC evaluation per (query, probed cluster); a vector lives in
    // exactly one cluster, so candidates never duplicate across probes
    val cands = queries.join(packed, $"probe" === $"cluster")
      .select($"q_id", $"qv", $"cluster",
        explode(call_function("pq_adc_topk",
          $"qr", $"ids", $"codes", cbLit,
          lit(PqM), lit(PqK), lit(kCand))).as("cand"))
      .filter($"cand.id" =!= $"q_id")
      .select($"q_id", $"qv", $"cluster", $"cand.id".as("neighbor_id"))
    // exact refine of the bounded candidate set, keyed (cluster, id) —
    // partition-pruned point lookups against the serving layout
    val exact = cands.join(assigned.select($"vec_id".as("neighbor_id"), $"cluster", $"v"),
        Seq("cluster", "neighbor_id"))
      .select($"q_id", $"neighbor_id", q4(cosine($"qv", $"v")).as("cos"))
    slate(exact, Seq("q_id"), "cos", 3)
  }

  // ----------------------------------------------------------------
  // S12: reciprocal-rank fusion
  // ----------------------------------------------------------------

  /** RRF constant (Cormack et al. SIGIR'09's k = 60) and truncation
    * depth per ranker. */
  val RrfK = 60
  val RrfDepth = 20

  /** S12: RECIPROCAL-RANK FUSION — the standard way a hybrid
    * retrieval stack merges rankings that score on incomparable
    * scales (Cormack, Clarke & Buettcher SIGIR'09; what every
    * "hybrid search" engine ships): here the COSINE ranker (angle —
    * s1's semantics) fused with the raw INNER-PRODUCT ranker
    * (preference magnitude — s6's MIPS semantics) over each query's
    * top-20 lists: fused(c) = Σ_r ⌊1e6 / (60 + rank_r(c))⌋, absent →
    * 0, top-5 by fused score with min-id tie-break. Pure rank
    * arithmetic — exact integers end-to-end, no score calibration.
    *
    * Shape at scale: each ranker is the s7 wire shape (broadcast
    * queries, codegen dot, map-side-partial `topk_agg` — q·depth
    * rows cross the wire per ranker); the fusion is a (query,
    * candidate)-keyed sum over ≤ 2·depth rows per query and a
    * TakeOrdered top-5. Adding rankers (BM25, recency) adds wire
    * linearly, never a rescan of scored candidates. */
  def s12Rrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables.embeddings(s, dir))
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val scored = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("neighbor_id"),
        q4(dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"),
        q4(dot($"qv", $"v")).as("ip"))
    def ranked(score: String) = scored
      .groupBy($"q_id")
      .agg(expr(s"topk_agg($score, neighbor_id, $RrfDepth)").as("top"))
      .select($"q_id", posexplode($"top").as(Seq("pos", "e")))
      .select($"q_id", $"e.id".as("neighbor_id"),
        expr(s"1000000L div ($RrfK + pos + 1)").as("contrib"))
    ranked("cos").unionAll(ranked("ip"))
      .groupBy($"q_id", $"neighbor_id")
      .agg(sum($"contrib").as("rrf_1e6"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"q_id").orderBy($"rrf_1e6".desc, $"neighbor_id")))
      .filter($"rnk" <= 5)
      .select($"q_id", $"rnk".cast("int").as("rnk"), $"neighbor_id", $"rrf_1e6")
      .orderBy($"q_id", $"rnk")
  }

  private[graft] def rrfOracleSql: String = {
    val cosExpr =
      """floor(list_sum(list_transform(list_zip(q.embedding, c.embedding),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           * 10000) / 10000.0"""
    val ipExpr =
      """floor(list_sum(list_transform(list_zip(q.embedding, c.embedding),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) * 10000) / 10000.0"""
    s"""WITH scored AS (
           SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             $cosExpr AS cos, $ipExpr AS ip
           FROM embeddings q JOIN embeddings c
             ON q.vec_id < 5 AND c.vec_id != q.vec_id),
         ra AS (SELECT q_id, neighbor_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, neighbor_id) AS rnk
           FROM scored),
         rb AS (SELECT q_id, neighbor_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY ip DESC, neighbor_id) AS rnk
           FROM scored),
         contrib AS (
           SELECT q_id, neighbor_id, 1000000 // ($RrfK + rnk) AS c
           FROM ra WHERE rnk <= $RrfDepth
           UNION ALL
           SELECT q_id, neighbor_id, 1000000 // ($RrfK + rnk) AS c
           FROM rb WHERE rnk <= $RrfDepth),
         fused AS (
           SELECT q_id, neighbor_id, CAST(sum(c) AS BIGINT) AS rrf_1e6,
             CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY sum(c) DESC, neighbor_id) AS INTEGER) AS rnk
           FROM contrib GROUP BY 1, 2)
         SELECT q_id, rnk, neighbor_id, rrf_1e6 FROM fused
         WHERE rnk <= 5 ORDER BY q_id, rnk"""
  }

  // ----------------------------------------------------------------
  // S11: attribute-filtered kNN
  // ----------------------------------------------------------------

  /** S11: FILTERED vector search — top-3 cosine neighbors among
    * vectors sharing the query's `label` (same-category retrieval,
    * the production ANN pain point every vector store documents:
    * hybrid attribute + vector queries). The critical design choice
    * is PRE-filtering: the label constraint rides the candidate JOIN
    * as an equi-key, so only matching-label vectors are ever scored
    * and the slate is always full — post-filtering an unfiltered
    * top-k loses recall whenever the global top-k crosses labels.
    *
    * Shape at scale: the label equi-key makes the candidate join a
    * HASH join (queries broadcast, candidates hashed by label — at
    * lake scale, label IS a partition key and the scan prunes to the
    * query's partitions); scoring is the codegen dot; the top-k is
    * the map-side-partial `topk_agg` (s7's shape — wire is q·k rows).
    * An IVF refinement within each label partition composes on top
    * exactly as s2 does globally. */
  def s11FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables.embeddings(s, dir))
      .join(Tables.embeddings(s, dir).select($"vec_id", $"label"), "vec_id")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"label".as("qlabel"))
    slate(emb.join(broadcast(queries),
        $"label" === $"qlabel" && $"vec_id" =!= $"q_id")
      .select($"q_id", $"qlabel".as("label"), $"vec_id".as("neighbor_id"),
        q4(dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos")),
      Seq("q_id", "label"), "cos", 3)
  }

  private[graft] def filteredAnnOracleSql: String =
    """WITH scored AS (
           SELECT q.vec_id AS q_id, q.label AS label, c.vec_id AS neighbor_id,
             floor(list_sum(list_transform(list_zip(q.embedding, c.embedding),
                 z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               * 10000) / 10000.0 AS cos
           FROM embeddings q JOIN embeddings c
             ON q.vec_id < 5 AND c.vec_id != q.vec_id AND c.label = q.label),
         ranked AS (
           SELECT q_id, label, CAST(row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk,
             neighbor_id, cos
           FROM scored)
         SELECT q_id, label, rnk, neighbor_id, cos FROM ranked WHERE rnk <= 3
         ORDER BY q_id, rnk"""

  // ----------------------------------------------------------------
  // S13: hybrid filtered ANN — s11's label filter through s2's IVF
  // ----------------------------------------------------------------

  /** S13: HYBRID attribute + vector search at index speed — s11's
    * label constraint composed WITH s2's IVF probe. The inverted
    * lists are keyed on (label, cluster): the global coarse quantizer
    * is reused (one KMeans fit serves every label — per-label
    * quantizers would multiply index build cost by the label
    * cardinality for no recall gain on a shared geometry), and the
    * candidate join carries BOTH keys, so a probe query scores only
    * the probed clusters' members OF ITS OWN LABEL.
    *
    * Shape at scale: this is the standard hybrid-search layout
    * (label = partition directory, cluster = file/bucket within it —
    * the s3 write composes: `partitionBy("label", "cluster")`); the
    * candidate join prunes to probes/K of the query's label slice,
    * which is the product of both selectivities. `probes ==
    * IvfClusters` scans the whole label slice and degenerates to
    * s11's exact result — the oracle gate for the index path
    * (registered as `s13_hybrid_full`); the default probe count is
    * the recall/scan trade (rows-only + recall-floor spec, the s2
    * discipline). */
  def s13HybridAnn(s: SparkSession, dir: String): DataFrame =
    s13HybridAnn(s, dir, IvfProbes)

  def s13HybridAnn(s: SparkSession, dir: String, probes: Int): DataFrame = {
    import s.implicits._
    val (assigned, centers) = ivfIndex(s, dir)
    // inverted-list key (label, cluster): labels ride the cached
    // assignments via a vec_id equi-join (at scale this is the write
    // layout, not a join)
    val labeled = assigned.join(
      Tables.embeddings(s, dir).select($"vec_id", $"label"), "vec_id")
    val queries = probeClusters(labeled.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"label".as("qlabel")),
      centers, probes)
    slate(labeled.join(broadcast(queries),
        $"label" === $"qlabel" && $"cluster" === $"probe" &&
          $"vec_id" =!= $"q_id")
      .select($"q_id", $"qlabel".as("label"), $"vec_id".as("neighbor_id"),
        q4(cosine($"qv", $"v")).as("cos")),
      Seq("q_id", "label"), "cos", 3)
  }

  /** Measured recall of the hybrid probe path at `probes` vs the
    * exact label-filtered answer (probes == IvfClusters ≡ s11):
    * the fraction of exact (q_id, neighbor_id) slate pairs the probed
    * path recovers. Both slates are K-bounded driver artifacts
    * (queries × 3 rows). */
  def s13RecallAtProbes(s: SparkSession, dir: String,
      probes: Int): Double = {
    import s.implicits._
    val exact = s13HybridAnn(s, dir, IvfClusters)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val got = s13HybridAnn(s, dir, probes)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    if (exact.isEmpty) 1.0 else (got & exact).size.toDouble / exact.size
  }

  /** The serving-side PROBE KNOB: smallest probe count whose measured
    * recall reaches `target`. Recall is MONOTONE in probes — a larger
    * probe set only GROWS the candidate set, and any candidate that
    * outscores a true top-k member is itself a true top-k member
    * (deterministic q4 + id tie-breaks), so candidates can only pull
    * the slate TOWARD the exact answer — hence the first count to
    * reach the target is the answer and the linear walk is exact
    * (≤ IvfClusters recall evaluations; at real scale the curve runs
    * once per index build over a SAMPLED query set and is stored as
    * index metadata, like the centroids). probes == IvfClusters
    * degenerates to the exact s11 answer, so every target ≤ 1.0 is
    * reachable. */
  def hybridProbesFor(s: SparkSession, dir: String,
      target: Double): Int = {
    require(target > 0.0 && target <= 1.0, s"target $target not in (0,1]")
    (1 to IvfClusters)
      .find(p => s13RecallAtProbes(s, dir, p) >= target)
      .getOrElse(IvfClusters)
  }

  // ----------------------------------------------------------------
  // S10: MMR diversified top-k
  // ----------------------------------------------------------------

  /** Candidate pool for s10 — relevance top-C; the MMR re-rank only
    * ever looks inside this pool (Carbonell & Goldstein's standard
    * two-stage serving shape). */
  val MmrPool = 40
  /** Slate size for s10. */
  val MmrK = 10
  /** λ numerator out of 10: score = 7·rel − 3·max-sim-to-selected. */
  val MmrLambda10 = 7L

  /** S10: MAXIMAL MARGINAL RELEVANCE diversified top-k (Carbonell &
    * Goldstein SIGIR'98) — the serving-side re-rank every retrieval
    * stack ends with: a relevant-but-redundant slate (s1's pure
    * cosine top-k returns near-duplicates together) becomes a
    * relevant-AND-diverse one by greedily picking
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s).
    *
    * Cross-engine exactness: rel and pairwise sims quantize to 1e4
    * integers (the s1 discipline, same `array_dot` IEEE sequence both
    * engines); the greedy runs entirely in integer units
    * (7·rel4 − 3·maxsim4), ties broken by min vec_id — the oracle
    * unrolls the K selection steps as CTEs.
    *
    * Shape at scale: stage 1 is the 100 TB part — ONE exact
    * relevance scan (broadcast query, codegen dot, TakeOrdered
    * top-C; the s2 IVF probe replaces the scan above memory scale).
    * Stage 2 is POOL-bounded: C² pairwise sims and a K-step greedy
    * over ≤ C candidates — artifact-sized (like centroids), solved
    * driver-exact after a K-bounded collect. */
  def s10Mmr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = withNorm(Tables.embeddings(s, dir))
    val q = emb.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"nrm".as("qn"))
    val (sims, rel) = graft.Caches.scoped { sc =>
      val pool = sc.keep(emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
        .select($"vec_id", $"v", $"nrm",
          floor(dot($"qv", $"v") / ($"qn" * $"nrm") * 10000)
            .cast("long").as("rel4"))
        .orderBy($"rel4".desc, $"vec_id").limit(MmrPool))
      val a = pool.select($"vec_id".as("a"), $"v".as("va"), $"nrm".as("na"))
      val b = pool.select($"vec_id".as("b"), $"v".as("vb"), $"nrm".as("nb"))
      // pool × pool — C² artifact-sized rows, broadcast nested loop
      (a.join(broadcast(b), $"a" =!= $"b")
        .select($"a", $"b",
          floor(dot($"va", $"vb") / ($"na" * $"nb") * 10000)
            .cast("long").as("sim4"))
        .as[(Long, Long, Long)].collect()
        .map { case (x, y, v) => (x, y) -> v }.toMap,
        pool.select($"vec_id", $"rel4").as[(Long, Long)].collect().toMap)
    }
    mmrGreedy(rel, sims, MmrK, MmrLambda10).toDF("rnk", "vec_id", "rel4", "mmr")
      .orderBy($"rnk")
  }

  /** The s10 selection kernel: exact-integer greedy MMR over a
    * collected (rel, pairwise-sim) pool. */
  private[graft] def mmrGreedy(rel: Map[Long, Long],
      sims: Map[(Long, Long), Long], k: Int,
      lam: Long): Seq[(Int, Long, Long, Long)] = {
    val remaining = scala.collection.mutable.SortedSet(rel.keys.toSeq: _*)
    val out = Seq.newBuilder[(Int, Long, Long, Long)]
    var selected = List.empty[Long]
    for (r <- 1 to math.min(k, rel.size)) {
      val (bestId, bestScore) = remaining.iterator.map { c =>
        val score = if (selected.isEmpty) lam * rel(c)
          else lam * rel(c) -
            (10L - lam) * selected.map(sid => sims((c, sid))).max
        (c, score)
      }.minBy { case (c, m) => (-m, c) }
      out += ((r, bestId, rel(bestId), bestScore))
      selected ::= bestId
      remaining -= bestId
    }
    out.result()
  }

  private[graft] def mmrOracleSql(pool: Int = MmrPool, k: Int = MmrK,
      lam: Long = MmrLambda10): String = {
    val cosExpr = (xa: String, xb: String) =>
      s"""CAST(floor(list_sum(list_transform(list_zip($xa, $xb),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform($xa, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform($xb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           * 10000) AS BIGINT)"""
    val base = s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         pool AS MATERIALIZED (
           SELECT c.vec_id, c.embedding,
             ${cosExpr("q.qe", "c.embedding")} AS rel4
           FROM embeddings c CROSS JOIN q WHERE c.vec_id <> 0
           ORDER BY rel4 DESC, c.vec_id LIMIT $pool),
         sims AS MATERIALIZED (
           SELECT a.vec_id AS a, b.vec_id AS b,
             ${cosExpr("a.embedding", "b.embedding")} AS sim4
           FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         sel1 AS MATERIALIZED (SELECT vec_id, rel4,
                    CAST($lam * rel4 AS BIGINT) AS mmr, 1 AS rnk
                  FROM pool ORDER BY rel4 DESC, vec_id LIMIT 1),
         acc1 AS MATERIALIZED (SELECT vec_id, rel4, mmr, rnk FROM sel1)"""
    // acc is referenced 3× per step — MATERIALIZED or DuckDB's CTE
    // inlining re-expands the chain ~3^k times (the q66 lesson)
    val steps = (2 to k).map { r =>
      s""",
         sel$r AS MATERIALIZED (SELECT p.vec_id, p.rel4,
             CAST($lam * p.rel4 - ${10 - lam} * max(s.sim4) AS BIGINT) AS mmr,
             $r AS rnk
           FROM pool p
           JOIN sims s ON s.a = p.vec_id
           JOIN acc${r - 1} t ON s.b = t.vec_id
           WHERE p.vec_id NOT IN (SELECT vec_id FROM acc${r - 1})
           GROUP BY p.vec_id, p.rel4
           ORDER BY mmr DESC, p.vec_id LIMIT 1),
         acc$r AS MATERIALIZED (SELECT vec_id, rel4, mmr, rnk FROM acc${r - 1}
                   UNION ALL SELECT vec_id, rel4, mmr, rnk FROM sel$r)"""
    }.mkString
    base + steps + s"""
         SELECT CAST(rnk AS INTEGER) AS rnk, vec_id, rel4, mmr
         FROM acc$k ORDER BY rnk"""
  }

  /** JL projection geometry: 64-d input, 16-d output. K = 16 keeps
    * E‖Pz‖² = K·‖z‖² testable with a wide-but-real distortion band
    * (JL needs K ~ log n/ε² for tight ε; 16 is the honest "cheap
    * sketch" operating point, and the spec pins the measured band). */
  val JlInDim  = 64
  val JlOutDim = 16

  /** The seeded Rademacher sign matrix (see functions.JlProject.signs
    * — md5-seeded, engine-neutral, balanced by construction). */
  private[graft] def jlSigns: Seq[Seq[Int]] =
    graft.functions.JlProject.signs(JlInDim, JlOutDim)

  /** S14: Johnson–Lindenstrauss RANDOM PROJECTION of the embedding
    * corpus to 16 dims (Achlioptas 2003's database-friendly ±1
    * variant of JL 1984) — the dimensionality-reduction step ahead
    * of ANN at lake scale: a 4× narrower vector cuts every downstream
    * distance scan 4×, at a distortion the JL lemma bounds and the
    * spec measures. sign-matrix projections need no BLAS and no
    * model state — the matrix IS a hash function.
    *
    * Exactness: inputs quantize to integer micro-units FIRST
    * (float→double exact, one deterministic IEEE multiply, floor —
    * the d5/s1 discipline), then every product and sum is exact
    * BIGINT arithmetic with ±1 signs — addition-order-free, so the
    * full projected table hash-oracles.
    *
    * Shape at scale: ZERO shuffles — one scan, and the sign matrix is
    * a plan-time CONSTANT driven by the native `jl_project` loop
    * expression (functions.JlProject): all 16 output dims in one
    * O(64×16) generated loop over a referenced int[][], inside
    * whole-stage codegen. The loop replaced round 10's UNROLLED form
    * (16 static 64-term add/subtract chains) after the unroll blew
    * janino's 64 KB method limit in the Generate stage's
    * generate_doConsume and silently dropped the stage to interpreted
    * execution — same arithmetic, ~30 generated lines, compiles. The
    * higher-order-function form (transform ∘ aggregate over a literal
    * matrix) evaluates ~20M interpreted lambda closures per 20k
    * vectors — measured 17.4 s vs 4.5 s at 20× for codegen'd
    * arithmetic. No explode-and-reaggregate either (a 64× shuffle for
    * nothing; the oracle replays THAT form since DuckDB has no row to
    * widen, but the Spark plan keeps the vector in the row). Output
    * long-form (vec_id, dim, value) for the hash gate; production
    * keeps the 16-wide array column.
    *
    * Null semantics: jl_project poisons the WHOLE output array to
    * null on a dim-mismatched or null-element input, and posexplode
    * then emits ZERO rows for that vec_id — a malformed embedding
    * disappears from the output entirely (the old unrolled form
    * emitted per-dim rows). The hash oracle flags any such divergence
    * (row-count + hash both shift); a consumer that needs per-vector
    * presence should posexplode_outer and handle the null marker
    * row instead. */
  def s14JlProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("q", expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))"))
      .select($"vec_id", posexplode(
        call_function("jl_project", $"q", lit(JlInDim), lit(JlOutDim))))
      .select($"vec_id", $"pos".cast("int").as("dim"), $"col".as("value"))
      .orderBy($"vec_id", $"dim")
  }

  /** s14's oracle: the same sign matrix rebuilt from md5 in SQL, the
    * projection replayed in explode-and-sum form (equivalent algebra;
    * BIGINT cast on the sum — DuckDB's HUGEINT sum lands in pandas as
    * float and would break the hash format otherwise). */
  private[graft] def jlOracleSql(): String =
    s"""WITH sm AS (
           SELECT i, j, CASE WHEN substr(md5('jl:' || i || ':' || j), 1, 1)
                             < '8' THEN 1 ELSE -1 END AS sgn
           FROM range($JlInDim) t1(i) CROSS JOIN range($JlOutDim) t2(j)),
         q AS (
           SELECT vec_id, i,
             CAST(floor(CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE)
               * 1000000) AS BIGINT) AS qv
           FROM embeddings CROSS JOIN range($JlInDim) t(i))
         SELECT vec_id, CAST(j AS INTEGER) AS dim,
           CAST(sum(qv * sgn) AS BIGINT) AS value
         FROM q JOIN sm USING (i)
         GROUP BY vec_id, j ORDER BY vec_id, dim"""
}
