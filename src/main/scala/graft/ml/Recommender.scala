package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import graft.Tables

/** Collaborative-filtering recommender — the reference's "movie
  * recommendation" head, re-expressed as MLlib ALS over the purchase
  * graph (user = customer, item = part, rating = total quantity
  * purchased, from orders ⋈ lineitem).
  *
  * ALS is the canonical distributed matrix factorization: ratings are
  * blocked by user and by item, and each iteration is two shuffles
  * (solve user factors against item blocks, then vice versa). That
  * blocking is what makes it run on a 100 TB rating log — factors for
  * a block fit in executor memory regardless of total scale.
  */
object Recommender {

  val Rank = 8
  val Iters = 6
  val Seed = 42L

  /** The implicit rating matrix from purchase history. */
  def ratings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey", $"l_quantity"),
            $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".as("user"), $"l_partkey".as("item"))
      .agg(sum($"l_quantity").cast("float").as("rating"))
  }

  /** ALS block count ~ ratings volume: each block's factors must fit
    * an executor, but at small volume per-block overhead dominates —
    * measured at sf0.1 (~1M ratings): 4 blocks fit in 1.9 s vs 3.0 s
    * at the default 10 and 8.9 s at 32. */
  def alsBlocks(nRatings: Long): Int =
    math.min(256, math.max(4, (nRatings / 250000L).toInt))

  /** The `als` session artifact: several serving queries (top-N
    * recs, similar items) share one trained model instead of refitting
    * per query. */
  def fit(s: SparkSession, dir: String): ALSModel =
    graft.Caches.artifact("als", dir) {
      fitOrLoad(s, dir, sys.env.get("SPARK_GRAFT_MODEL_DIR"))
    }

  /** The implicit-feedback twin (Hu/Koren/Volinsky 2008): quantities
    * become CONFIDENCE in a binary preference, not a rating to
    * reconstruct — `implicitPrefs` reweights the least-squares loss to
    * c_ui = 1 + α·r_ui over ALL cells (observed and not). Same blocked
    * solver, same two shuffles per iteration, so the 100 TB shape is
    * unchanged; only the per-block normal equations differ. */
  def fitImplicit(s: SparkSession, dir: String): ALSModel =
    graft.Caches.artifact("als:implicit", dir) {
      trainAls(s, dir, implicitPrefs = true)
    }

  /** Both factorizations' one trainer: the same ALS estimator over the
    * cached rating matrix (ALS iterates over it; the fitted factors are
    * materialized at ALS's final storage level, so the cache is
    * released once the fit returns or throws). `implicitPrefs` swaps
    * the loss for Hu/Koren/Volinsky confidence weighting (α = 8). */
  private def trainAls(s: SparkSession, dir: String, implicitPrefs: Boolean): ALSModel =
    graft.Caches.scoped { sc =>
      val r = sc.keep(ratings(s, dir))
      val als = new ALS()
        .setRank(Rank).setMaxIter(Iters).setSeed(Seed)
        .setRegParam(0.1)
        .setNumBlocks(alsBlocks(r.count()))
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setColdStartStrategy("drop")
      (if (implicitPrefs) als.setImplicitPrefs(true).setAlpha(8.0) else als).fit(r)
    }

  /** Fit, or reload a previously-persisted factorization if `store`
    * is set and holds one for this dataset — the cross-SESSION half of
    * the model registry: a serving tier restarting against the same
    * ratings log skips the training head entirely (profiled at ~7 s of
    * m1's ~10.5 s cold path at sf0.1: ~1.8 s ratings build + ~5 s ALS
    * fit) and pays only the load. Refits stay the trainer's job: the
    * store key is the SHA-256 of the ratings sources' identity (orders
    * and lineitem: path + per-file bytes and mtime), so a new ratings
    * snapshot — a new dir, or rewritten tables in the same one — gets
    * a new key and is fitted, never served a stale factorization.
    * NOTE the quantizer caveat: reloaded factors partition differently,
    * so the IVF clustering (initMode=random) differs from the
    * fit-path clustering — approximate serving output is registry-
    * equivalent, not bit-identical (the recall spec is the contract). */
  private[graft] def fitOrLoad(s: SparkSession, dir: String,
      store: Option[String]): ALSModel = {
    val saved = store.map(b => b + "/als-" + Tables.identityDigest(
      Tables.sourceIdentity(s, s"$dir/orders.parquet", s"$dir/lineitem.parquet")))
    saved.filter(p => new java.io.File(p, "metadata").exists()) match {
      case Some(p) => ALSModel.load(p)
      case None =>
        val m = trainAls(s, dir, implicitPrefs = false)
        saved.foreach(p => m.write.overwrite().save(p))
        m
    }
  }

  /** IVF cluster count ~ √(catalog size) (the standard IVF sizing):
    * finer quantization cuts the scanned fraction per probe AND raises
    * the candidate join's key cardinality (= its parallelism). */
  def itemClusters(nItems: Long): Int =
    math.min(256, math.max(16, math.ceil(math.sqrt(nItems.toDouble)).toInt))

  /** Item factors clustered for IVF probing: (id, v, nrm, cluster)
    * cached, plus the centroid arrays (a K-bounded artifact). One
    * KMeans over the factor space serves both recommendation heads (m1
    * candidate pruning, m3 similar-items), like Similarity.ivfIndex
    * does for embeddings. `variant` picks the trainer ("explicit" =
    * m1's fit, "implicit" = fitImplicit) — each variant's factor space
    * gets its own index. */
  def itemIvf(s: SparkSession, dir: String,
      variant: String = "explicit"): (DataFrame, Array[Array[Double]]) =
    graft.Caches.artifact(s"item_ivf:$variant", dir)(graft.Caches.scoped { sc =>
      import s.implicits._
      import graft.functions.VectorFunctions.dot
      val model = if (variant == "implicit") fitImplicit(s, dir) else fit(s, dir)
      val factors = sc.keep(model.itemFactors
        .select($"id", transform($"features", _.cast("double")).as("v"))
        .withColumn("nrm", sqrt(dot($"v", $"v")))
        .withColumn("features", org.apache.spark.ml.functions.array_to_vector($"v")))
      // a coarse quantizer only needs a reasonable partition of the
      // factor space, not convergence: every probe re-ranks with the
      // exact ALS dot product, and the recall-vs-exact spec guards the
      // partition quality. 4 Lloyd iterations halve the index build's
      // job count vs the default 20+ with no measured recall change.
      // summary dropped so transform closures never carry the session
      // (see org.apache.spark.ml.graft.ModelHygiene)
      val km = org.apache.spark.ml.graft.ModelHygiene.dropTrainingSummary(
        new org.apache.spark.ml.clustering.KMeans()
          .setK(itemClusters(factors.count())).setSeed(Seed).setMaxIter(4)
          .setInitMode("random")
          .setFeaturesCol("features").setPredictionCol("cluster")
          .fit(factors))
      val assigned = km.transform(factors).select($"id", $"v", $"nrm", $"cluster").cache()
      // the index is the only cached copy kept: once it is
      // materialized the factor frame has no reader left
      assigned.count()
      (assigned, km.clusterCenters.map(_.toArray))
    })

  /** Packed inverted lists: each cluster's candidate vectors laid out
    * as ONE flat double array (ids ordered ascending) — the IVF-Flat
    * contiguous-block layout, scanned whole by `dot_topk` in a single
    * expression evaluation per (user, probe) row. Two variants: raw
    * factors for m1's ALS-dot scores, unit-normalized for m3's cosine. */
  private[graft] def itemIvfPacked(s: SparkSession, dir: String,
      normalized: Boolean, variant: String = "explicit"): DataFrame =
    graft.Caches.artifact(s"item_packed:$variant:$normalized", dir) {
      import s.implicits._
      import graft.functions.VectorFunctions.unitScaled
      val (assigned, _) = itemIvf(s, dir, variant)
      val vec = if (normalized) unitScaled($"v", $"nrm") else $"v"
      // K rows of ~|catalog|/K packed vectors each: the block per row is
      // bounded by the cluster size the quantizer controls, never the
      // catalog — the same per-inverted-list memory shape FAISS keeps
      assigned.select($"cluster", struct($"id", vec.as("v")).as("iv"))
        .groupBy($"cluster")
        .agg(array_sort(collect_list($"iv")).as("ivs"))
        .select($"cluster",
          transform($"ivs", _.getField("id")).as("ids"),
          flatten(transform($"ivs", _.getField("v"))).as("flat"))
        .cache()
    }

  val UserProbes = 4

  /** M1: top-5 part recommendations per customer, served approximately:
    * each user probes its `UserProbes` best item-factor clusters by
    * centroid inner product and scores only those clusters' items — a
    * shuffle equi-join on the cluster key touching probes/K of the
    * catalog, instead of `recommendForAllUsers`' exact user×item
    * blocked cross product (the serving cost at catalog scale). Scores
    * of returned pairs are the same ALS dot product, and the spec
    * bounds recall vs the exact top-5. */
  def m1AlsRecommend(s: SparkSession, dir: String): DataFrame =
    m1Slate(s, dir)

  /** Memoized m1 slate: the served top-5 table is ALSO the input of
    * three evaluation heads (m7 hit metrics, m12 NDCG, m13 diversity),
    * which each re-ran the whole IVF probe + packed-block scan + topk
    * chain before this memo (round 14, guide §2.4: one artifact, four
    * consumers — the copurchase_pairs discipline applied to serving).
    * Bench attribution: the build logs to the Caches ledger, so the
    * triggering entry's self time stays honest. */
  private[graft] def m1Slate(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("m1_slate", dir)(_ => topkOf(s, scoredCandidates(s, dir)))

  /** The shared approximate-serving core of m1/m5: every user's
    * IVF-probed, exactly-re-scored candidate set, one row per
    * (user, candidate, ALS-dot score). */
  private def scoredCandidates(s: SparkSession, dir: String,
      perBlockK: Int = 5, variant: String = "explicit"): DataFrame = {
    import s.implicits._
    val model = if (variant == "implicit") fitImplicit(s, dir) else fit(s, dir)
    val (_, centers) = itemIvf(s, dir, variant)
    val packed = itemIvfPacked(s, dir, normalized = false, variant)
    // the coarse quantizer is the same kernel as the fine scan: the
    // centroid matrix is one flat literal block (K·rank doubles) and
    // each user picks its probes with a single dot_topk evaluation —
    // no per-centroid lambda evaluation
    val cidsLit = typedlit(centers.indices.toArray)
    val cflatLit = typedlit(centers.toSeq.flatten)
    // probe ~12.5% of clusters (min 4): with √n clusters the scanned
    // fraction shrinks as the catalog grows, the way IVF search should
    val probesN = math.max(UserProbes, centers.length / 8)
    val users = model.userFactors
      // factors come out in numBlocks (few, at this volume) partitions;
      // the scoring fan-out below is the expensive part, so spread the
      // cheap probe stream across the full shuffle width first. The
      // explicit count matters: AQE would coalesce this tiny shuffle
      // to one partition, not seeing the per-row block scans behind it.
      .repartition(s.sessionState.conf.numShufflePartitions, $"id")
      .select($"id".as("c_custkey"), transform($"features", _.cast("double")).as("u"))
      .select($"c_custkey", $"u",
        explode(call_function("dot_topk", $"u", cidsLit, cflatLit, lit(probesN))
          .getField("id")).as("probe"))
    // each (user, probe) row scans its cluster's packed block in ONE
    // dot_topk evaluation — a tight multiply-add loop over the flat
    // array — so only users × probes × 5 candidate rows ever
    // materialize, not users × probes × |cluster|. Ranking is by raw
    // ALS dot (like MLlib's recommendForAllUsers); rounding happens
    // after selection and cannot reorder (monotonic).
    users.join(packed, $"probe" === $"cluster")
      .select($"c_custkey",
        explode(call_function("dot_topk", $"u", $"ids", $"flat", lit(perBlockK))).as("cand"))
      .select($"c_custkey", $"cand.score".as("score"), $"cand.id".as("p_partkey"))
  }

  /** topk_agg presentation over a (c_custkey, score, p_partkey)
    * candidate stream — bounded top-k aggregate, NOT a window rank:
    * topk_agg partial-aggregates map-side so the per-user combine
    * shuffle carries ≤ 5 rows per user per partition. */
  private def topkOf(s: SparkSession, local: DataFrame): DataFrame = {
    import s.implicits._
    local.groupBy($"c_custkey")
      .agg(call_function("topk_agg", $"score", $"p_partkey", lit(5)).as("top"))
      .select($"c_custkey", posexplode($"top").as(Seq("pos", "rec")))
      .select($"c_custkey", ($"pos" + 1).as("rnk"),
        $"rec.id".as("p_partkey"), round($"rec.score", 4).as("score"))
      .orderBy($"c_custkey", $"rnk")
  }

  /** M12: NDCG@5 of the served slate — the RANKING-quality metric m7's
    * set-based hit rate can't express: position-discounted gain
    * (rel/log₂(pos+1)) against observed purchase quantities as graded
    * relevance, normalized per user by the ideal ordering's DCG.
    * The ideal top-5 uses the same map-side-partial `topk_agg` as
    * serving (never a window over every (user, item)); both joins hash
    * on keys the frames already carry; output is one row. Model-fit
    * dependent → rows-only; the spec replays the whole metric locally
    * from the served slate and the rating matrix. */
  def m12Ndcg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = m1AlsRecommend(s, dir).select($"c_custkey", $"rnk", $"p_partkey")
    val rel = ratingsOf(s, dir).select($"user".as("c_custkey"),
      $"item".as("p_partkey"), $"rating".cast("double").as("rel"))
    val dcg = recs.join(rel, Seq("c_custkey", "p_partkey"), "left")
      .select($"c_custkey",
        (coalesce($"rel", lit(0.0)) / log2($"rnk" + 1)).as("g"))
      .groupBy($"c_custkey").agg(sum($"g").as("dcg"))
    val ideal = rel.groupBy($"c_custkey")
      .agg(call_function("topk_agg", $"rel", $"p_partkey", lit(5)).as("top"))
      .select($"c_custkey", posexplode($"top").as(Seq("pos", "e")))
      .select($"c_custkey", ($"e.score" / log2($"pos" + 2)).as("g"))
      .groupBy($"c_custkey").agg(sum($"g").as("idcg"))
    dcg.join(ideal, "c_custkey")
      .select(when($"idcg" > 0, $"dcg" / $"idcg").otherwise(0.0).as("ndcg"))
      .agg(count(lit(1)).as("n_users"),
        (floor(avg($"ndcg") * 10000) / 10000.0).as("mean_ndcg"))
  }

  /** M13: BEYOND-ACCURACY slate metrics — the two numbers m7's
    * dashboard lacks (Castells et al., "Novelty and Diversity in
    * Recommender Systems"): INTRA-LIST DIVERSITY (Ziegler et al.
    * WWW'05 — mean pairwise cosine DISTANCE between a slate's items
    * in ALS factor space, the filter-bubble detector: an ILD near 0
    * means every user gets 5 flavors of the same thing even when
    * coverage looks healthy) and mean SELF-INFORMATION novelty (Zhou
    * et al. PNAS'10 — −log₂ of each recommended item's purchase
    * popularity: how far down the long tail the slates reach).
    *
    * Shape at scale: slate pairs are a user-keyed self-join bounded
    * by C(k,2) = 10 rows per user (never catalog-sized); both factor
    * attachments hash on the item key the factor frame already
    * carries; popularity is one two-phase count joined on the same
    * key; everything reduces map-side to two one-row aggregates.
    * Model-fit dependent → rows-only; the spec replays both metrics
    * locally from the collected slates, factors, and rating counts. */
  def m13SlateDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.dot
    val recs = m1AlsRecommend(s, dir).select($"c_custkey", $"p_partkey")
    val f = itemIvf(s, dir)._1.select($"id", $"v", $"nrm")
    val pairs = recs.as("a").join(recs.as("b"),
        $"a.c_custkey" === $"b.c_custkey" && $"a.p_partkey" < $"b.p_partkey")
      .select($"a.c_custkey".as("u"),
        $"a.p_partkey".as("pa"), $"b.p_partkey".as("pb"))
    val dists = pairs
      .join(f.select($"id".as("pa"), $"v".as("va"), $"nrm".as("na")), "pa")
      .join(f.select($"id".as("pb"), $"v".as("vb"), $"nrm".as("nb")), "pb")
      .select($"u", (lit(1.0) - dot($"va", $"vb") /
        (when($"na" === 0.0, 1.0).otherwise($"na") *
         when($"nb" === 0.0, 1.0).otherwise($"nb"))).as("dist"))
    val ild = dists.groupBy($"u").agg(avg($"dist").as("ild"))
      .agg(count(lit(1)).as("n_users"),
        (floor(avg($"ild") * 10000) / 10000.0).as("mean_ild"))
    val r = ratingsOf(s, dir)
    val nUsers = r.select($"user").distinct().count()
    val pop = r.groupBy($"item".as("p_partkey")).agg(count(lit(1)).as("n_i"))
    val nov = recs.join(pop, "p_partkey")
      .select((-log2($"n_i" / nUsers.toDouble)).as("si"))
      .agg((floor(avg($"si") * 10000) / 10000.0).as("mean_self_info"))
    ild.join(broadcast(nov))
  }

  /** M7: corpus-level recommendation-quality metrics — the eval
    * dashboard a recommender ships with: per-slate hit rate against
    * actual purchase history (m1 recommends from the full catalog, so
    * hits measure how well the factorization reconstructs observed
    * behavior), catalog coverage (distinct recommended items / catalog
    * — a collapse detector: a popularity-degenerate model recommends
    * the same few items to everyone), and slate novelty (share of
    * recommended pairs the user has NOT purchased — m5's reason to
    * exist). One row; every input is a `Caches` read plus two
    * partial-aggregated joins on keys the frames already hash by.
    * Rows-only (ALS factors aren't SQL) + spec bands. */
  def m7RecMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = m1AlsRecommend(s, dir).select($"c_custkey", $"p_partkey")
    val bought = ratingsOf(s, dir)
      .select($"user".as("c_custkey"), $"item".as("p_partkey"))
    val hits = recs.join(bought, Seq("c_custkey", "p_partkey"), "left_semi")
    val nParts = Tables.part(s, dir).agg(count(lit(1)).as("n_parts"))
    recs.agg(
        countDistinct($"c_custkey").as("n_users"),
        count(lit(1)).as("n_recs"),
        countDistinct($"p_partkey").as("n_rec_items"))
      .join(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .join(broadcast(nParts))
      .select($"n_users", $"n_recs", $"n_hits",
        (floor($"n_hits" / $"n_users".cast("double") * 10000) / 10000.0)
          .as("hits_per_user"),
        (floor($"n_rec_items" / $"n_parts".cast("double") * 10000) / 10000.0)
          .as("catalog_coverage"),
        (floor(($"n_recs" - $"n_hits") / $"n_recs".cast("double") * 10000) / 10000.0)
          .as("novelty"))
  }

  /** M5: top-5 UNSEEN recommendations per customer — the serving
    * post-filter every production recommender runs: candidates the
    * user has already purchased are removed BEFORE the top-k, so the
    * slate is discovery, not a receipt. Implemented as a left-anti
    * shuffle join of the scored candidate stream against the rating
    * pairs on the composite (user, item) key — both sides hash by the
    * same key, no broadcast of the (users × items)-sized history —
    * then the same bounded topk_agg as m1. */
  def m5UnseenRecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seen = ratingsOf(s, dir)
      .select($"user".as("c_custkey"), $"item".as("p_partkey"))
    // a heavy purchaser's seen items can fill a probe block's top-5,
    // so the pre-filter candidate depth doubles to keep the post-filter
    // slate full
    topkOf(s, scoredCandidates(s, dir, perBlockK = 10)
      .join(seen, Seq("c_custkey", "p_partkey"), "left_anti"))
  }

  /** M6: cold-start fallback — customers with a sparse purchase
    * history (fewer than `ColdMaxOrders` orders, including none) get
    * the global bestseller slate (top-5 parts by total quantity sold):
    * the popularity prior every production recommender serves when the
    * factorization has no reliable row for the user. Deterministic
    * relational logic, so unlike the ALS heads this one is fully
    * oracle-checkable. Shape: the cold set is a left-anti join of
    * customers against the ≥-threshold order counts (both sides hash
    * on the customer key, counts partial-aggregated map-side); the
    * slate is a 5-row TakeOrderedAndProject over a partial-aggregated
    * part count, cross-joined back as a broadcast 5-row frame. */
  val ColdMaxOrders = 3

  def m6ColdStart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val heavy = Tables.orders(s, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .filter($"n" >= ColdMaxOrders).select($"o_custkey")
    val cold = Tables.customer(s, dir).select($"c_custkey")
      .join(heavy, $"c_custkey" === $"o_custkey", "left_anti")
    val slate = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(round(sum($"l_quantity"), 2).as("total_qty"))
      .orderBy($"total_qty".desc, $"l_partkey")
      .limit(5)
      .select($"l_partkey".as("p_partkey"), $"total_qty")
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"total_qty".desc, $"p_partkey")))
    cold.crossJoin(broadcast(slate))
      .select($"c_custkey", $"rnk", $"p_partkey", $"total_qty")
      .orderBy($"c_custkey", $"rnk")
  }

  /** The exact MLlib serving path (blocked user×item cross) — the
    * spec's recall baseline for m1. */
  def m1AlsRecommendExact(s: SparkSession, dir: String): DataFrame =
    exactSlate(fit(s, dir))

  /** A model's exact top-5 per user (MLlib's blocked user×item cross)
    * in the served slate's shape: (c_custkey, rnk, p_partkey, score). */
  private def exactSlate(model: ALSModel): DataFrame = {
    import model.userFactors.sparkSession.implicits._
    model.recommendForAllUsers(5)
      .select($"user", posexplode($"recommendations").as(Seq("pos", "rec")))
      .select($"user".as("c_custkey"), ($"pos" + 1).as("rnk"),
        $"rec.item".as("p_partkey"),
        round($"rec.rating".cast("double"), 4).as("score"))
      .orderBy($"c_custkey", $"rnk")
  }

  /** M8: implicit-feedback recommendations — m1's slate re-trained
    * under the Hu/Koren/Volinsky objective (`fitImplicit`): purchase
    * quantities weight CONFIDENCE in a binary preference instead of
    * being regression targets, the formulation that matches real
    * interaction logs (views, clicks, buys) where absence ≠ dislike.
    * Serving is the SAME IVF machinery as m1 — per-variant factor
    * index, packed-block dot_topk candidate scan, bounded topk_agg —
    * so the approximate-serving scale story carries over unchanged;
    * the recall spec re-checks it against this model's exact slates
    * (implicit scores are preference estimates in [0,~1], so ranking
    * semantics differ from m1's rating reconstruction). */
  def m8ImplicitRecs(s: SparkSession, dir: String): DataFrame =
    topkOf(s, scoredCandidates(s, dir, variant = "implicit"))

  /** Exact serving twin of m8 (blocked cross product) — the recall
    * baseline. */
  private[graft] def m8ImplicitRecsExact(s: SparkSession, dir: String): DataFrame =
    exactSlate(fitImplicit(s, dir))

  /** M3: item-item similarity ("customers also bought") — top-5
    * nearest parts per part by cosine over the ALS item factors,
    * IVF-accelerated: KMeans clusters the factor space and each item
    * probes only its 2 nearest clusters, so the candidate join is
    * probes/K of all pairs instead of the O(items²) cross product
    * (which is exactly the trap at catalog scale). */
  def m3SimilarItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.{q4, unitScaled}
    val (assigned, centers) = itemIvf(s, dir)
    val packed = itemIvfPacked(s, dir, normalized = true)
    // normalized centroid matrix as one flat literal block: ranking by
    // dot(v̂, ĉ) equals ranking by cosine(v, c) (scale-invariant), so
    // probe selection is one dot_topk evaluation per item
    val cidsLit = typedlit(centers.indices.toArray)
    val cflatLit = typedlit(centers.toSeq.flatMap { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c.toSeq else c.toSeq.map(_ / n)
    })
    val probes = assigned
      .select($"id".as("p_partkey"),
        // unit-normalize the query so the packed block's raw dot IS the
        // cosine (blocks store normalized vectors); zero-norm guard as
        // in d5 — the zero vector stays zero, cosine 0 to everything
        unitScaled($"v", $"nrm").as("qhat"))
      .select($"p_partkey", $"qhat",
        explode(call_function("dot_topk", $"qhat", cidsLit, cflatLit, lit(2))
          .getField("id")).as("probe"))
    // candidate generation joins the PACKED inverted lists on their
    // cluster key (partitioned, never a whole-catalog broadcast) and
    // each (item, probe) row scans its block in one dot_topk call.
    // Local top-6: the self pair lives in exactly one probed cluster,
    // so 6 local winners always leave 5 non-self candidates.
    val local = probes.join(packed, $"probe" === $"cluster")
      .select($"p_partkey",
        explode(call_function("dot_topk", $"qhat", $"ids", $"flat", lit(6))).as("cand"))
      .filter($"cand.id" =!= $"p_partkey")
      .select($"p_partkey", $"cand.score".as("cos_raw"), $"cand.id".as("similar_partkey"))
    // bounded top-k aggregate instead of a window rank (see m1);
    // ranking on the raw cosine, 4-dp floor quantize after selection
    local.groupBy($"p_partkey")
      .agg(call_function("topk_agg", $"cos_raw", $"similar_partkey", lit(5)).as("top"))
      .select($"p_partkey", posexplode($"top").as(Seq("pos", "rec")))
      .select($"p_partkey", ($"pos" + 1).as("rnk"),
        $"rec.id".as("similar_partkey"), q4($"rec.score").as("cos"))
      .orderBy($"p_partkey", $"rnk")
  }

  /** Persist the trained factorization (factors + metadata parquet) —
    * the artifact a serving tier loads without refitting. */
  def saveModel(s: SparkSession, dir: String, path: String): Unit =
    fit(s, dir).write.overwrite().save(path)

  /** Load a persisted model and register it for `dir`, so every
    * serving query (m1/m3) runs fit-free against it. The explicit IVF
    * index, its packed lists and the m1 slate derive from the replaced
    * factors: they are evicted, their storage freed, and rebuilt from
    * the loaded model on next use. */
  def loadModel(s: SparkSession, dir: String, path: String): ALSModel = {
    val m = ALSModel.load(path)
    Seq("als", "item_ivf:explicit", "item_packed:explicit:false",
      "item_packed:explicit:true", "m1_slate").foreach(graft.Caches.evict(_, dir))
    graft.Caches.artifact("als", dir)(m)
  }

  /** RMSE of the model's reconstruction of the training ratings —
    * the spec's sanity metric. */
  def trainRmse(s: SparkSession, dir: String): Double = {
    import s.implicits._
    val model = fit(s, dir)
    val pred = model.transform(ratings(s, dir))
    new org.apache.spark.ml.evaluation.RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(pred)
  }

  /** M10: memory-based item-item collaborative filtering — each item's
    * top-5 co-rating COSINE neighbors (Sarwar et al. WWW'01 item-kNN).
    * m3 serves neighbors from learned ALS factors; this is its
    * data-direct twin, and because ratings here are integer quantity
    * sums it is the one recommender surface that hash-checks against
    * a SQL oracle end to end.
    *
    * Exactness: ratings are BIGINT (Σ l_quantity), so per-pair dot and
    * per-item squared norms are exact integer sums in any order; the
    * one float op is the final dot/(√n2·√n2) on exactly-agreed
    * integers, floor-quantized at 1e-4, and the top-5 rank breaks ties
    * on the QUANTIZED cosine then the neighbor key — deterministic
    * cross-engine.
    *
    * Shape at 100 TB: the rating matrix groups to one row per
    * (user, item) — both heavy aggregations and the pair join key on
    * columns the rows already hash by, and ONE exchange of the rating
    * frame feeds both sides of the self-join (ReuseExchange — the
    * q50-measured winner over array expansion). Pair fan-out is
    * Σ_users C(items_u, 2): bounded by per-user catalog breadth, not
    * corpus size; a power-user history cap is the standard production
    * knob if that skews (same class as q30's horizon). Both neighbor
    * directions come from ONE narrow explode of the pair row (a
    * unionAll would re-run the final pair aggregation per branch —
    * ReuseExchange shares only the shuffle), and the per-item top-5 is
    * `topk_agg` — map-side partial keeps ≤5 rows per (partition, item)
    * so the last exchange ships catalog·5-shaped data, where the
    * row_number window it replaces sorted the full pair fan-out
    * (measured at sf0.1: 13.4 → 6.8 s warm, same oracle hash). */
  def m10ItemCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = intRatings(s, dir)
    // SHUFFLE_MERGE pinned (round 14): the memo is cached clustered +
    // sorted by user, so the merge self-join needs no exchange and no
    // sort on either side — whereas the cache's small stats otherwise
    // flip the planner to broadcasting the 600k-row frame per query,
    // which measured 2-8x slower under full-sweep memory pressure
    // (spread 9.5-33 s vs the SMJ's 0.4-0.9)
    val pairs = r.as("a").hint("SHUFFLE_MERGE").join(r.as("b"),
        $"a.user" === $"b.user" && $"a.item" < $"b.item")
      .groupBy($"a.item".as("ia"), $"b.item".as("ib"))
      .agg(sum($"a.q" * $"b.q").as("dot"))
    val n2 = r.groupBy($"item").agg(sum($"q" * $"q").as("n2"))
    val both = pairs.select(explode(array(
        struct($"ia".as("item"), $"ib".as("nbr"), $"dot"),
        struct($"ib".as("item"), $"ia".as("nbr"), $"dot"))).as("e"))
      .select($"e.item", $"e.nbr", $"e.dot")
    // n2 is one row per ITEM (catalog-sized) — broadcast both lookups
    // or the doubled pair table pays two extra hash exchanges
    val scored = both
      .join(broadcast(n2.select($"item", $"n2".as("n2i"))), "item")
      .join(broadcast(n2.select($"item".as("nk"), $"n2".as("n2n"))),
        $"nbr" === $"nk")
      .select($"item", $"nbr",
        (floor($"dot" / (sqrt($"n2i".cast("double")) *
          sqrt($"n2n".cast("double"))) * 10000) / 10000.0).as("cosine"))
    // topk_agg's (score desc, id asc) tie-break is exactly the
    // row_number() ordering it replaces — rank parity is spec-pinned
    scored.groupBy($"item")
      .agg(expr("topk_agg(cosine, nbr, 5)").as("top"))
      .select($"item", posexplode($"top").as(Seq("pos", "e")))
      .select($"item", $"e.id".as("nbr"), $"e.score".as("cosine"),
        ($"pos" + 1).cast("int").as("rnk"))
      .orderBy($"item", $"rnk")
  }

  /** M11: DIMSUM-sampled item-item cosine — m10's 100 TB path.
    * m10's exact pair fan-out is Σ_users C(items_u, 2); on a power-law
    * catalog the popular-popular pairs dominate that sum while needing
    * the LEAST evidence for a stable cosine. DIMSUM (Zadeh & Goel,
    * "Dimension Independent Similarity Computation", JMLR 2013) keeps a
    * (user, i, j) contribution with probability
    * p = min(1, γ/(‖i‖·‖j‖)) and weights survivors by 1/p, so
    * E[Σ q_ui·q_uj/(‖i‖‖j‖p)] is exactly the cosine — unbiased, and
    * EXACT (p = 1, no sampling) for every pair below the γ norm
    * product. The sampling filter runs map-side on the joined row,
    * BEFORE the (i,j) exchange: shuffle volume follows γ (an accuracy
    * knob), not the pair fan-out — the property that keeps the item
    * graph buildable when exact m10 becomes output-bound.
    *
    * The coin is a seeded xxhash64 of (user, i, j) mapped to [0,1) —
    * deterministic replay, but not DuckDB-replicable, so the entry is
    * rows-only; the spec pins unbiasedness analytically (p=1 pairs
    * equal m10's exact quantized cosine) and recall@5 vs m10. */
  def m11Dimsum(s: SparkSession, dir: String): DataFrame =
    m11Dimsum(s, dir, gamma = m11DefaultGamma(s, dir))

  /** Default oversampling parameter: twice the mean squared norm —
    * p pins to 1 for typical pairs (their evidence is a handful of
    * co-raters; sampling them is just noise) and falls below 1 only
    * for the popular-popular head, exactly where co-rating support is
    * abundant enough for the law of large numbers to carry the
    * estimate. That head is also where the pair fan-out Σ C(items_u,2)
    * concentrates on a power-law catalog, so the shuffle still
    * shrinks where it matters.
    * γ must track the data's norm scale (a fixed constant goes
    * degenerate as volume grows: norms grow with ratings, p → 0
    * everywhere); the norm frame is catalog-sized, so this is one
    * tiny agg over an already-needed artifact. */
  private[graft] def m11DefaultGamma(s: SparkSession, dir: String): Double = {
    import s.implicits._
    intRatings(s, dir).groupBy($"item")
      .agg(sum($"q" * $"q").as("n2"))
      .agg(avg($"n2")).as[Double].head() * 2.0
  }

  private[graft] def m11Dimsum(s: SparkSession, dir: String,
      gamma: Double): DataFrame = {
    import s.implicits._
    val est = m11Estimates(s, dir, gamma)
    val both = est.select(explode(array(
        struct($"ia".as("item"), $"ib".as("nbr"), $"cos_est"),
        struct($"ib".as("item"), $"ia".as("nbr"), $"cos_est"))).as("e"))
      .select($"e.item", $"e.nbr", graft.functions.VectorFunctions.q4($"e.cos_est").as("cosine"))
    both.groupBy($"item")
      .agg(expr("topk_agg(cosine, nbr, 5)").as("top"))
      .select($"item", posexplode($"top").as(Seq("pos", "e")))
      .select($"item", $"e.id".as("nbr"), $"e.score".as("cosine"),
        ($"pos" + 1).cast("int").as("rnk"))
      .orderBy($"item", $"rnk")
  }

  /** The sampled-pair cosine estimates (ia < ib, cos_est) behind m11 —
    * exposed at this grain so the spec can pin unbiasedness (γ → ∞
    * must reproduce the exact cosines) and the sampled-pair count's
    * γ-dependence (the scale claim). */
  private[graft] def m11Estimates(s: SparkSession, dir: String,
      gamma: Double): DataFrame = {
    import s.implicits._
    val joined = m11Contribs(s, dir)
    val p = least(lit(1.0), lit(gamma) / $"nn")
    // deterministic uniform in [0,1): xxhash64 mod a large prime —
    // replayable across runs and partitionings (keyed on values only)
    val coin = pmod(xxhash64(lit(42), $"user", $"ia", $"ib"),
      lit(1000000007L)).cast("double") / 1000000007.0
    joined.filter(coin < p)
      .select($"ia", $"ib", ($"prod" / ($"nn" * p)).as("contrib"))
      .groupBy($"ia", $"ib").agg(sum($"contrib").as("cos_est"))
  }

  /** The pre-sampling (user, ia, ib, prod, nn) contribution frame
    * shared by the estimator and the γ budget solver. Lazy — nothing
    * here executes the pair fan-out until a consumer (with its
    * map-side sampling filter) does. */
  private[graft] def m11Contribs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = intRatings(s, dir)
    val n2 = r.groupBy($"item").agg(sum($"q" * $"q").as("n2"))
    // norms are catalog-sized — ride in on a broadcast, so the rating
    // frame's one exchange (ReuseExchange across the self-join) stays
    // the only data-sized shuffle before sampling
    val rr = r.join(broadcast(n2), "item")
      .select($"user", $"item", $"q",
        sqrt($"n2".cast("double")).as("nrm"))
    rr.as("a").hint("SHUFFLE_MERGE").join(rr.as("b"),
        $"a.user" === $"b.user" && $"a.item" < $"b.item")
      .select($"a.user".as("user"), $"a.item".as("ia"), $"b.item".as("ib"),
        ($"a.q" * $"b.q").cast("double").as("prod"),
        ($"a.nrm" * $"b.nrm").as("nn"))
  }

  /** γ from a SHUFFLE BUDGET — the 100 TB knob the mean-n² default
    * doesn't give: pick the largest γ whose expected post-sampling
    * contribution count stays within `budgetContribs` (largest =
    * most accuracy the budget affords; every pair below the γ norm
    * product stays exact).
    *
    * E[survivors](γ) = Σ min(1, γ/nn) over the contribution stream —
    * monotone in γ, but summing it exactly would execute the very
    * fan-out the budget bounds. Instead: a seeded 1-in-16 USER sample
    * (pairs are user-local, so sampling users subsamples contributions
    * unbiasedly at 1/16) feeds one aggregation that evaluates E(γ) at
    * a fixed 33-point geometric grid spanning the sampled nn range;
    * the solver then interpolates between the two bracketing grid
    * points (E is linear in γ between points where no nn crosses).
    * Cost: the sample's fan-out (1/16 of a user-square sum) + one
    * 33-column agg — bounded, deterministic (hash-seeded sample), and
    * independent of the budget asked for.
    *
    * At 100 TB this is the operational interface: "spend at most B
    * shuffle rows on the item graph" — γ then self-tunes to the
    * catalog's norm distribution instead of hand-tuned constants. */
  private[graft] def m11GammaForBudget(s: SparkSession, dir: String,
      budgetContribs: Long): Double = {
    import s.implicits._
    // adaptive sampling grain: keep ≥ ~500 expected users in the
    // sample (per-user pair counts are C(m,2)-heavy-tailed, and a
    // handful of users cannot estimate E — measured at 150 users:
    // a fixed 1/16 sample landed 3.7× off budget); small corpora run
    // exact (mod 1), big ones cap at 1/16 of the user square
    val nUsers = intRatings(s, dir).select($"user").distinct().count()
    val SampleMod = math.max(1L, math.min(16L, nUsers / 500L))
    graft.Caches.scoped { sc =>
      gammaFromSample(sc.keep(m11Contribs(s, dir)
        .filter(pmod(xxhash64(lit(7), $"user"), lit(SampleMod)) === 0L)
        .select($"nn")), SampleMod, budgetContribs)
    }
  }

  /** m11GammaForBudget's solver over the sampled `nn` stream (one row
    * per sampled contribution, drawn 1 in `sampleMod` users). */
  private def gammaFromSample(sample: DataFrame, sampleMod: Long,
      budgetContribs: Long): Double = {
    import sample.sparkSession.implicits._
    val (nnMin, nnMax, nSamp, invSum) = sample
      .agg(min($"nn"), max($"nn"), count(lit(1)), sum(lit(1.0) / $"nn"))
      .as[(Double, Double, Long, Double)].head()
    if (nSamp == 0L) return 1.0 // degenerate corpus: no pairs at all
    val lo = math.max(nnMin, 1e-12)
    val hi = math.max(nnMax, lo * (1 + 1e-9))
    // below nn_min every pair is sampled (p = γ/nn < 1 uniformly), so
    // E(γ) = γ·Σ(1/nn) exactly — solve that regime in closed form
    // instead of pinning γ to the smallest norm product (the first
    // build did, and a budget of total/8 landed 3.7× over)
    val sEst = invSum * sampleMod
    val target0 = budgetContribs.toDouble
    if (target0 <= lo * sEst) return target0 / sEst
    val K = 33
    val grid = (0 until K).map(i =>
      lo * math.pow(hi / lo, i.toDouble / (K - 1)))
    // one pass: E_hat(γ_k) on the sample for every grid point
    val sums = grid.map(g =>
      sum(least(lit(1.0), lit(g) / $"nn")).as(s"e$g"))
    val row = sample.agg(sums.head, sums.tail: _*).head()
    val e = (0 until K).map(i => row.getDouble(i) * sampleMod)
    // (E extrapolates by the sampling mod: user sampling subsamples
    // the contribution stream unbiasedly — pairs are user-local)
    val target = budgetContribs.toDouble
    if (e.head > target) return grid.head // budget below even γ=nnMin
    if (e.last <= target) return grid.last // budget covers exact m10
    val k = e.indexWhere(_ > target) // bracket: e(k-1) <= target < e(k)
    // E is piecewise-linear in γ: interpolate inside the bracket
    val (g0, g1, e0, e1) = (grid(k - 1), grid(k), e(k - 1), e(k))
    g0 + (g1 - g0) * ((target - e0) / math.max(e1 - e0, 1e-12))
  }

  /** The evaluation heads' rating matrix served off the memoized
    * integer frame (round 14): rating = q cast float is EXACTLY
    * `ratings()`'s value — l_quantity is integral, so both forms
    * compute the same exact integer sum and float-round it once —
    * without re-running the orders⋈lineitem aggregation per consumer
    * (m5/m7/m12/m13 ran it six times per sweep between them; m12's
    * rel frame alone is consumed twice). The ALS TRAINERS keep the
    * original `ratings` builder: they run once per dataset via the
    * `als` artifact and manage their own cache lifecycle. */
  private[graft] def ratingsOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    intRatings(s, dir)
      .select($"user", $"item", $"q".cast("float").as("rating"))
  }

  /** Memoized integer rating matrix (user, item, q = Σ l_quantity as
    * BIGINT): one materialization feeds both sides of m10's self-join
    * and its norm aggregate — without it the orders⋈lineitem scan-agg
    * plans twice (no static ReuseExchange across the self-join). */
  private[graft] def intRatings(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("m10_ratings", dir) { _ =>
      import s.implicits._
      Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, dir)
          .select($"l_orderkey", $"l_partkey", $"l_quantity"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_custkey".as("user"), $"l_partkey".as("item"))
        .agg(sum($"l_quantity".cast("long")).as("q"))
        // clustered + sorted by USER at build time (round 14): the
        // groupBy leaves hashpartitioning(user, item), which satisfies
        // NEITHER side of the m10/m11 per-user self-join — every
        // consumer re-exchanged and double-sorted the frame. Cached
        // partitioned-and-sorted by user, the sort-merge self-join
        // needs no exchange and no sort on either side (guide §2.4:
        // two operations keyed the same way share one exchange — here
        // the artifact IS the exchange), and (user, item)-keyed
        // consumers still qualify (a user-hash partitioning satisfies
        // any clustering that contains user).
        .repartition($"user")
        .sortWithinPartitions($"user")
    }
}
