package graft

/** Physical-plan regression tests: the scale-critical plan shapes
  * (pushdown, pruning, broadcast, top-K) must not silently regress.
  */
class PlanAuditSpec extends GraftSpecBase {

  // FormattedMode prints full PushedFilters (plain toString truncates)
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q2: predicates and projection reach the parquet scan") {
    val p = plan(operators.Relational.q2FilterPushdown(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThan(l_extendedprice,90000.0)"), p)
    // only the 4 needed columns are read (3 projected + filter col)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_extendedprice:double,l_shipdate:timestamp"), p)
  }

  test("q4: dimension joins broadcast") {
    val p = plan(operators.Relational.q4RegionSales(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q7: global top-K plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(operators.Relational.q7TopkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: aggregation is two-phase (map-side partial)") {
    val p = plan(operators.Relational.q1PricingSummary(spark, sf))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("hashpartitioning"), p)
  }

  test("d5: pair scoring runs through the codegen'd ArrayDot") {
    val p = plan(operators.Similarity.d5EmbeddingDedup(spark, sf))
    assert(p.contains("array_dot"), p)
  }

  test("d5: candidate generation is an equi-join — no nested-loop/cartesian") {
    val df = operators.Similarity.d5EmbeddingDedup(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m3: packed-block serving — dot_topk scan, no catalog cross join") {
    val df = ml.Recommender.m3SimilarItems(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    // candidates come from one dot_topk block scan per (item, probe)
    // row over the packed inverted lists, never an all-pairs join
    assert(p.contains("dot_topk"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q26: correlated subquery decorrelates to an aggregate + join") {
    val p = plan(operators.Advanced.q26CorrSubquery(spark, sf))
    assert(p.contains("avg("), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    // no per-row subquery re-evaluation survives planning
    assert(!p.contains("Subquery"), p)
  }

  test("q28: unpivot plans as a single Expand, not a self-union") {
    val p = plan(operators.Advanced.q28Unpivot(spark, sf))
    assert(p.contains("Expand"), p)
    // one scan of lineitem, not three (formatted mode names each scan
    // twice: once in the tree, once in the details section)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("q16_asof_exec plans through the custom AsOfJoinExec") {
    val p = plan(operators.Advanced.q16AsofJoinExec(spark, sf))
    assert(p.contains("AsOfJoin"), p)
  }

  test("custom as-of exec equals the union+window composition") {
    val a = operators.Advanced.q16AsofJoinExec(spark, sf).collect().map(_.toSeq).toSeq
    val b = operators.Advanced.q16AsofJoin(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("as-of exec emits NULLs for unmatched rows on a non-nullable right side") {
    import spark.implicits._
    // Seq.toDF gives non-nullable long columns — the projection must
    // still null them out for unmatched left rows, not emit zeros
    val left = Seq((1L, 100L, 5L), (2L, 50L, 6L)).toDF("user_id", "ms", "event_id")
    val right = Seq((1L, 90L, 7L)).toDF("c_user", "c_ms", "c_event_id")
    val j = org.apache.spark.sql.graft.AsOfJoinOps
      .asofJoin(left, right, "user_id", "c_user", "ms", "c_ms")
      .select($"user_id", $"c_ms", $"c_event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(j == Set((1L, Some(90L), Some(7L)), (2L, None, None)), j.toString)
  }

  test("t5: zero-shuffle — only the presentation sort exchanges data") {
    val p = plan(operators.TextAnalysis.t5Repetition(spark, sf))
    // the only exchange is the final orderBy's range partitioning —
    // no hash exchange means no aggregation/join shuffle anywhere
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("max_run_length"), p)
  }

  test("d2: verify runs the sorted merge expression, not array_intersect") {
    val p = plan(operators.Dedup.d2NgramJaccard(spark, sf))
    assert(p.contains("sorted_intersect_size"), p)
    assert(!p.contains("array_intersect"), p)
  }

  test("d2: pair build contains no single-partition exchange (dict ids are distributed)") {
    // the shingle-dictionary id assignment must never funnel the
    // vocabulary through one task — a partitionBy-less window would
    // plan an `Exchange SinglePartition` here and OOM at corpus scale
    Caches.scoped { scope =>
      val p = plan(operators.Dedup.ngramJaccardPairs(
        Tables.documents(spark, sf), scope))
      assert(!p.contains("SinglePartition"), p)
    }
  }

  test("t7: corpus top-50 plans as TakeOrderedAndProject over a partial agg") {
    val p = plan(operators.TextAnalysis.t7BigramFreq(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q34: upsert is one shuffle full-outer join on the key") {
    val p = plan(operators.Relational.q34Upsert(spark, sf))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q43: pair build is a codegen'd co-partitioned self-join, no cartesian, bounded top-20") {
    // the memo may hold a materialized artifact from an earlier test —
    // audit the UNDERLYING pair-build plan, not the cache read
    Caches.clear()
    val p = plan(operators.Analytics.q43Cooccur(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SinglePartition"), p)
    // top-20 is a bounded selection, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q44/q46: event windows stay partitioned on the user key") {
    for (df <- Seq(operators.Analytics.q44GapFill(spark, sf),
                   operators.Analytics.q46Attribution(spark, sf))) {
      val p = plan(df)
      // a partitionBy-less window would plan Exchange SinglePartition
      assert(!p.contains("SinglePartition"), p)
      assert(p.contains("hashpartitioning(user_id"), p)
    }
  }

  test("i4: segment filter resolves as partition pruning, not a data filter") {
    val df = operators.Ingest.i4PartitionedIngest(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // the predicate must reach the scan as a PartitionFilter
    // (directory-level skip); a PushedFilters/data-filter fallback
    // would open every segment's files
    assert(scan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*c_mktsegment".r.findFirstIn(scan).isDefined, scan)
  }

  test("p5: per-doc and per-bucket prefix windows are hash-partitioned (funnel is superbucket-sized)") {
    val p = plan(operators.TextAnalysis.p5PackSequences(spark, sf))
    // the three-level prefix sum distributes levels 1 and 2: the
    // per-doc cumsum windows on the bucket key and the bucket-offset
    // cumsum windows on the superbucket key. The only remaining
    // SinglePartition window runs over SUPERBUCKET totals —
    // corpus/PackBucket^2 rows, 1e-6 of the doc count — which is the
    // documented bounded grain, so no blanket SinglePartition assert.
    assert(p.contains("hashpartitioning(bucket"), p)
    assert(p.contains("hashpartitioning(sb"), p)
  }

  test("t10: keyword ranking windows on the doc key, rank pushed into WindowGroupLimit") {
    // (the one-row n_docs scalar legitimately aggregates on a single
    // partition — that is a broadcast scalar, not a data funnel, so no
    // blanket SinglePartition assertion here)
    val p = plan(operators.TextAnalysis.t10Keywords(spark, sf))
    assert(p.contains("hashpartitioning(doc_id"), p)
    // rank<=3 predicate reaches the window operator as a group limit,
    // so each doc's sort keeps 3 rows instead of materializing all
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("s4: ADC serving scans packed code blocks — no cartesian, pq kernels in plan") {
    val df = operators.Similarity.s4PqAnn(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pq_adc_topk"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // Catalyst's InjectRuntimeFilter: a selective predicate on one join
    // side creates a bloom filter consumed inside the other side's scan
    // stage — at 100 TB this is what keeps a filtered fact-fact join
    // from scanning the full probe side. Thresholds are sized for
    // production data; drop them so the sf0.001 fixture demonstrates
    // the same plan shape.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // creation side must be SMALLER than its threshold (raise it),
      // application side LARGER than its scan threshold (drop to 0)
      conf.set(keys(0), "10GB")
      conf.set(keys(1), "0")
      // runtime filters target SHUFFLE joins (a broadcast build side
      // already reaches the probe scan); force the fact-fact shape the
      // filter exists for
      conf.set(keys.last, "-1")
      import spark.implicits._
      val orders = Tables.orders(spark, sf)
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
      val j = li.join(orders, $"l_orderkey" === $"o_orderkey")
      val p = plan(j)
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"), p)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("as-of exec self-join: shared lineage resolves via fresh right-side ids") {
    import spark.implicits._
    // both sides derive from the SAME DataFrame — without attribute
    // deduplication the join condition would bind both sides to one
    // expression id and mis-resolve
    val base = Seq((1L, 100L, 5L), (1L, 90L, 7L), (2L, 50L, 6L))
      .toDF("user_id", "ms", "event_id")
    val right = base.select($"user_id".as("c_user"), $"ms".as("c_ms"),
      $"event_id".as("c_event_id"))
    val j = org.apache.spark.sql.graft.AsOfJoinOps
      .asofJoin(base, right, "user_id", "c_user", "ms", "c_ms")
      .select($"user_id", $"ms", $"c_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    // each row matches itself (greatest c_ms <= ms within the key)
    assert(j == Set((1L, 100L, Some(100L)), (1L, 90L, Some(90L)),
      (2L, 50L, Some(50L))), j.toString)
  }

  test("q50: rule scoring broadcasts item supports; top-25 is bounded, not a global sort") {
    val p = plan(operators.Analytics.q50AssocRules(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    // the memoized pair build inside may sort-merge its self-join;
    // the RULE-side joins must not (supports are catalog-sized)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q52: moments window partitions on user_id over the day-grain aggregate") {
    val p = plan(operators.Analytics.q52OutlierDays(spark, sf))
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
    // daily counts pre-aggregate map-side before the window sees them
    assert(p.contains("partial_count"), p)
  }

  test("t12: model joins are shuffle equi-joins on carried keys — no vocabulary broadcast") {
    val p = plan(operators.TextAnalysis.t12BigramSurprisal(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the bigram-count and context-count joins exchange on their keys
    assert(p.contains("hashpartitioning(bigram"), p)
    assert(p.contains("hashpartitioning(w1"), p)
  }

  test("p8: representative argmax is one partial-aggregated pass — no window") {
    val p = plan(operators.Dedup.p8Canonicalize(spark, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
  }

  test("p9: curriculum rank is range-partitioned with broadcast offsets — never a global ntile window") {
    val p = plan(operators.Sampling.p9Curriculum(spark, sf))
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ntile"), p)
  }

  test("m10: neighbor rank is a partial topk_agg over a memoized rating-matrix self-join") {
    val p = plan(graft.ml.Recommender.m10ItemCosine(spark, sf))
    // top-5 is the map-side-partial topk_agg, never a window sort of
    // the full pair fan-out (and no window at all in the plan)
    assert(p.contains("topk_agg"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window ("), p)
    assert(!p.contains("CartesianProduct"), p)
    // both self-join sides read the single memoized rating materialization
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("m11: one rating exchange feeds both self-join sides; sampling filter precedes the pair aggregation") {
    val p = plan(graft.ml.Recommender.m11Dimsum(spark, sf))
    // both self-join sides read the single memoized rating
    // materialization (at test sf, AQE broadcasts the tiny side, so
    // the shared exchange shows as the cached scan, not ReusedExchange)
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the per-item top-5 is the partial topk_agg, never a window
    assert(p.contains("topk_agg") && !p.contains("Window ("), p)
    // the coin filter evaluates on the JOINED row (xxhash64 of user+pair)
    // before any (ia, ib) exchange — the pair agg only sees survivors
    assert(p.contains("xxhash64"), p)
  }

  test("q61: funnel ladder is all user-keyed equi-joins — no cartesian, no window") {
    val p = plan(operators.Advanced.q61WindowFunnel(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window ("), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q62: wedge self-join reuses one adjacency exchange and ends in TakeOrdered") {
    val p = plan(operators.Graph.q62LinkPredict(spark, sf))
    assert(p.contains("ReusedExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // degree lookups broadcast; existing edges leave via anti join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("z1: layout stats are one scan + one bucket aggregation, joinless") {
    val p = plan(operators.Layout.z1ZorderStats(spark, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    // ONE data shuffle (the bucket agg) + the output-sized final sort
    assert("hashpartitioning".r.findAllIn(p).size >= 1, p)
  }

  test("q67: one oriented wedge join, corner credits via explode — no cartesian, no window") {
    val p = plan(operators.Graph.q67ClusteringCoef(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // triangle closure is a semi join; corner fan-out is a Generate
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("Generate"), p)
    assert(!p.contains("Window ("), p)
  }

  test("q68: gini rank is range-partitioned with broadcast offsets — never a global ntile window") {
    val p = plan(operators.Analytics.q68SpendConcentration(spark, sf))
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ntile"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t15: the sketch aggregate partial-aggregates map-side (ObjectHashAggregate)") {
    val p = plan(operators.TextAnalysis.t15HeavySketch(spark, sf))
    assert(p.contains("misra_gries_agg"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    // partial mode before the exchange: the buffer, not the tokens,
    // crosses the wire
    assert(p.contains("partial_misra_gries_agg"), p)
  }

  test("q57: double correlation plans as semi + anti joins with a TakeOrdered top-20") {
    val p = plan(operators.Relational.q57BlameSupplier(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q59: sweep runs on a distributed running sum — range-partitioned on ms, funnel is pid-sized") {
    val p = plan(operators.Analytics.q59Concurrency(spark, sf))
    // sessionization windows hash on the user key; the sweep order is a
    // range partitioning on the (pre-grouped, unique) instant key —
    // never a partitionBy-less Window over the endpoint frame
    assert(p.contains("hashpartitioning(user_id"), p)
    assert(p.contains("rangepartitioning(ms"), p)
    // the only SinglePartition exchanges feed the per-partition-TOTAL
    // offsets window: ≤ numShufflePartitions rows carrying (__pid, __c)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("SinglePartition")).foreach {
      case (_, i) =>
        assert(lines(i - 1).contains("__pid"),
          s"non-bounded SinglePartition exchange:\n${lines.slice(i - 3, i + 1).mkString("\n")}")
    }
  }

  test("t13: prefix-filtered pair build — sorted_dot verify, distributed dict, no data-sized funnel") {
    Caches.scoped { scope =>
      val p = plan(operators.TextAnalysis.tfidfCosinePairs(
        Tables.documents(spark, sf), scope))
      assert(p.contains("sorted_dot"), p) // verify is the codegen merge
      assert(!p.contains("CartesianProduct"), p)
      // dict ids assigned under range partitioning (d2's distributed
      // trick); suffix-mass window hashes on the doc key
      assert(p.contains("rangepartitioning"), p)
      assert(p.contains("hashpartitioning(doc_id"), p)
      // the ONLY single-partition exchanges may be the 1-row corpus
      // count (Input [count#L]); a data-sized funnel here = OOM at scale
      val lines = p.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("SinglePartition")).foreach {
        case (_, i) =>
          assert(lines(i - 1).matches(".*\\[count#\\d+L\\].*"),
            s"non-count SinglePartition exchange:\n${lines.slice(i - 3, i + 1).mkString("\n")}")
      }
    }
  }

  test("q87: part-count joins broadcast, top-25 is TakeOrdered, no cartesian") {
    val p = plan(operators.Analytics.q87SeqRules(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the pair count aggregates map-side before the (ante,cons) exchange
    assert(p.contains("partial_count"), p)
  }

  test("p13: one range exchange for the running sum, offsets broadcast, no sort-merge join") {
    val p = plan(operators.Sampling.p13WeightedSample(spark, sf))
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p14: quality argmax is a two-phase aggregate (map-side partial max)") {
    val p = plan(operators.Dedup.p14KeepBest(spark, sf))
    assert(p.contains("partial_max"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q89: assortativity stats reduce two-phase with no cartesian") {
    val p = plan(operators.Graph.q89Assortativity(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q91: one user-keyed window then a two-phase weekly aggregate") {
    val p = plan(operators.Analytics.q91ConversionLag(spark, sf))
    assert(p.contains("Window"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t16: shingle min-agg is map-side partial; no cartesian") {
    val p = plan(operators.TextAnalysis.t16Novelty(spark, sf))
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("z3: probe-side joins broadcast; only the exact count is a data join") {
    val p = plan(operators.Layout.z3BloomSkip(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s11: label filter rides the candidate join as a hash key; top-k is partial topk_agg") {
    val p = plan(operators.Similarity.s11FilteredAnn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_topk_agg"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s14: projection is the single jl_project loop expression — no unrolled Generate tree") {
    val df = operators.Similarity.s14JlProjection(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("jl_project"), p.take(2000))
    // the Generate stage must sit inside a whole-stage-codegen span
    // (the `*(n)` marker) — the unrolled form silently interpreted it
    assert(p.linesIterator.exists(l =>
      l.contains("Generate") && l.contains("*(")), p.take(2000))
  }

  test("d10: within-cluster pairing is a cluster-keyed equi-join; no cartesian anywhere") {
    val df = operators.Similarity.d10SemDedup(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("array_dot"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d11: candidate generation is a (band, bh) equi-join with sorted-merge verify; no cartesian") {
    val df = operators.Dedup.d11IncrementalDedup(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("sorted_intersect_size"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mm5: pair-finding is the pigeonhole chunk equi-join; no cartesian") {
    val df = graft.multimodal.Multimodal.mm5PhashPairs(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t19: model join is a hash equi-join; the only nested-loop joins are the bounded broadcast widenings") {
    val df = operators.TextAnalysis.t19NbLangId(spark, sf)
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    // (lang, tok) model lookup must hash, never loop
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q100: label joins are equi-joins and the community agg is map-side partial") {
    // audit the DISTRIBUTED kernel — under the round-14 local gate the
    // registry entry returns a driver-computed table at spec SFs
    // (parity spec'd in OptR14Spec); the shape contract here is the
    // beyond-gate path's
    val df = operators.GraphLocal.withGates(operators.GraphLocal.Gates(graph = 0L))(
      operators.Graph.q100Modularity(spark, sf))
    df.collect() // force AQE final plan
    val p = df.queryExecution.executedPlan.toString
    // edge×label scoring must key on the node ids, never loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("s15: the serve stage runs topk_agg off the checkpointed beam; the graph build never loops") {
    val df = operators.Similarity.s15GraphAnn(spark, sf)
    df.collect() // force AQE final plan
    // the hops themselves execute at checkpoint time (checkpointFresh
    // truncates lineage per hop); the final serve stage must be the
    // bounded-slate agg, with no join re-materialization
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("topk_agg"), p)
    // the serving-graph artifact: candidate generation is the
    // cluster-keyed equi-join (s9's shape), never an all-pairs loop
    val g = operators.Similarity.knnGraphIndex(spark, sf)
    val gp = g.queryExecution.executedPlan.toString
    assert(!gp.contains("BroadcastNestedLoopJoin"), gp)
    assert(!gp.contains("CartesianProduct"), gp)
  }
}
