package graft

import org.apache.spark.sql.functions._

class SimilaritySpec extends GraftSpecBase {
  import operators.Similarity

  test("brute-force knn: cosine in [-1,1], k neighbors per query, no self-match") {
    import spark.implicits._
    val knn = Similarity.s1KnnBrute(spark, sf).collect()
    assert(knn.length == 5 * 3)
    knn.foreach { r =>
      assert(r.getAs[Long]("q_id") != r.getAs[Long]("neighbor_id"))
      val c = r.getAs[Double]("cos")
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("ivf probing all clusters reproduces brute force exactly") {
    // the embeddings are isotropic noise, so partial probes trade
    // recall for scan reduction; full probing must be exact
    val exact = Similarity.s1KnnBrute(spark, sf).collect().toSeq
    val full = Similarity.s2AnnIvf(spark, sf, Similarity.IvfClusters).collect().toSeq
    assert(full == exact)
    // and both equal the window-ranked brute force (`SlateReference`)
    assert(full == SlateReference.knnBrute(spark, sf, 5).collect().toSeq)
  }

  test("ivf with default probes returns k results per query from probed lists only") {
    import spark.implicits._
    val approx = Similarity.s2AnnIvf(spark, sf).collect()
    assert(approx.length == 5 * 3)
    // results must be a subset of valid (q, neighbor) space and scored
    approx.foreach { r =>
      assert(r.getAs[Long]("q_id") != r.getAs[Long]("neighbor_id"))
    }
  }

  test("persisted ivf index serves probes through partition pruning") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.s3WriteIvfIndex(spark, sf, tmp)
    val probed = spark.read.parquet(tmp).filter($"cluster".isin(0, 1))
    val scanned = probed.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanned.contains("PartitionFilters") && scanned.contains("cluster"),
      s"probe read not partition-pruned: $scanned")
    // index is lossless: every vector is in exactly one cluster
    val total = spark.read.parquet(tmp).count()
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("pq codes are m ints in [0,k) per vector and the codebook has the right shape") {
    import spark.implicits._
    val (packed, cb, rot) = Similarity.pqIndex(spark, sf)
    val d = 64
    assert(cb.length == Similarity.PqM * Similarity.PqK * (d / Similarity.PqM))
    val flat = packed.select(explode($"codes").as("c"))
    assert(flat.filter($"c" < 0 || $"c" >= Similarity.PqK).count() == 0)
    // every vector encoded: ids across blocks partition the table,
    // codes length = m per id
    val counts = packed.select(size($"ids").as("n"), size($"codes").as("nc"))
    assert(counts.filter($"nc" =!= $"n" * Similarity.PqM).count() == 0)
    val total = packed.agg(sum(size($"ids"))).as[Long].head()
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("pq adc with full probes recalls most exact neighbors; refine scores are exact") {
    import spark.implicits._
    val exact = Similarity.s1KnnBrute(spark, sf)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.s4PqAnn(spark, sf, Similarity.IvfClusters, Similarity.PqCandidates)
      .collect()
    assert(pq.length == 5 * 3)
    val pqPairs = pq.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = pqPairs.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"full-probe PQ recall@3 $recall < 0.6")
    // refined scores are EXACT cosines: every returned (q, n, cos) must
    // match the brute-force score for that pair
    val bruteScores = Similarity.s1KnnBrute(spark, sf)
      .select($"q_id", $"neighbor_id", $"cos").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    pq.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
      bruteScores.get(key).foreach(c => assert(c == r.getAs[Double]("cos")))
    }
  }

  test("s5 radius search: cluster-pruned result equals brute force exactly") {
    import spark.implicits._
    import graft.functions.VectorFunctions.{dot, toDoubles, q4}
    // the triangle-inequality admissibility test must be complete:
    // pruning decides which clusters are SCANNED, never the result
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", toDoubles($"embedding").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
    val qq = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val cosc = dot($"qv", $"v") / ($"qn" * $"nrm")
    val brute = emb.join(qq, $"vec_id" =!= $"q_id")
      .filter(cosc >= Similarity.RadiusThreshold)
      .select($"q_id", $"vec_id".as("neighbor_id"), q4(cosc).as("cosine"))
      .orderBy($"q_id", $"neighbor_id")
    val got = Similarity.s5RadiusSearch(spark, sf).collect().toSeq
    assert(got.nonEmpty, "fixture should yield radius neighbors")
    assert(got == brute.collect().toSeq)
  }

  test("opq rotation is orthogonal and does not worsen the quantization objective") {
    val sample = Similarity.pqTrainingSample(spark, sf)
    val (rot, opqCb) = Similarity.opqTrain(sample,
      Similarity.PqM, Similarity.PqK, Similarity.PqIters, 12)
    // R Rᵀ = I — serving relies on (R q̂)·(R r) = q̂·r, which only an
    // orthogonal rotation guarantees
    val d = rot.length
    for (i <- 0 until d; j <- 0 until d) {
      val v = (0 until d).map(t => rot(i)(t) * rot(j)(t)).sum
      assert(math.abs(v - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RRt[$i][$j]=$v")
    }
    // the rotation must not lose to the identity on the objective it
    // optimizes (mean ||Rx − q(Rx)||² over the training sample)
    val plainCb = Similarity.pqTrain(sample,
      Similarity.PqM, Similarity.PqK, Similarity.PqIters)
    val id = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val plainMse = Similarity.quantizationMse(sample, id, plainCb,
      Similarity.PqM, Similarity.PqK)
    val opqMse = Similarity.quantizationMse(sample, rot, opqCb,
      Similarity.PqM, Similarity.PqK)
    assert(opqMse <= plainMse, s"opq mse $opqMse > plain $plainMse")
  }

  test("embedding dedup pairs are symmetric-free and above threshold") {
    import spark.implicits._
    val pairs = Similarity.d5EmbeddingDedup(spark, sf).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("cosine") >= 0.5)
    }
  }
}
