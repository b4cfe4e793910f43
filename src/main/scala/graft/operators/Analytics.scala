package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.Scope

/** Analytic-SQL surface beyond the relational core: explicit grouping
  * sets, the ranking-distribution window family, value-range frames,
  * regex field extraction, and cohort retention — the dashboard-layer
  * queries an analytics engine serves daily. All declarative single
  * DataFrame plans: Catalyst keeps aggregates two-phase and windows
  * hash-partitioned on their keys, so every one of these scales the
  * same way the core q1–q35 set does.
  */
object Analytics {

  /** Q36: explicit GROUPING SETS — the (status, priority) detail grid
    * plus per-status subtotals and the grand total in ONE pass (a
    * single Expand over the scan, like q11's rollup but user-chosen
    * sets), with `grouping()` disambiguating real NULLs from
    * subtotal rows. */
  def q36GroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_priority"),
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
      .select($"o_orderstatus", $"o_orderpriority", $"g_status", $"g_priority",
        $"n_orders", $"revenue")
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Q37: the statistical-aggregate family — corr / covar / stddev /
    * variance per return flag, the moment statistics a BI layer exposes
    * next to sums and averages. All five are single-pass mergeable
    * aggregates (Spark keeps the co-moment accumulators partial-agg
    * map-side, same two-phase shape as q1), so the shuffle carries one
    * accumulator row per (flag, partition) regardless of fact size. */
  def q37StatsSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(stddev_samp($"l_extendedprice"), 2).as("sd_price"),
        round(var_samp($"l_quantity"), 4).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_discount"), 6).as("cov_qty_disc"))
      .orderBy($"l_returnflag")
  }

  /** Q41: calendar arithmetic — per order month, the order→ship lag
    * distribution (mean days and the slow-shipment ratio). Month keys
    * are integer `year`/`month` parts (exact across engines); the lag
    * is an integer day difference; the two ratios are exact rationals
    * floor-quantized (the t2/t5 discipline — round() would disagree
    * between engines exactly ON .5e-4 boundaries, which rationals can
    * hit). One shuffle join orders⋈lineitem + one two-phase agg. */
  def q41ShipDelay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey")
      .select(year($"o_orderdate").as("o_year"), month($"o_orderdate").as("o_month"),
        datediff($"l_shipdate", $"o_orderdate").as("lag_days"))
      .groupBy($"o_year", $"o_month")
      .agg(count(lit(1)).as("n_items"),
        (floor(avg($"lag_days") * 10000) / 10000.0).as("avg_lag_days"),
        (floor(avg(when($"lag_days" > 60, 1.0).otherwise(0.0)) * 10000) / 10000.0)
          .as("slow_ratio"))
      .orderBy($"o_year", $"o_month")
  }

  /** Q38: the ranking-distribution window family — quartile bucket
    * (ntile), percent_rank and cume_dist of every customer's balance
    * within its market segment. One hash-partitioned window sort on
    * the segment key serves all three functions. */
  def q38WindowSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // total order inside each partition (balance ties broken by key)
    // so ntile assignment is engine-reproducible
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey")
    Tables.customer(s, dir)
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy($"c_mktsegment", $"c_custkey")
  }

  /** Q39: value-RANGE window frame — each order's trailing-30-day
    * revenue within its customer. The frame is defined by the ORDER BY
    * VALUE (epoch-day), not row offsets, so gaps and same-day bursts
    * are handled by semantics, not data luck. Epoch-day stays integer
    * (exact across engines); the frame sort is the window operator's
    * spillable external sort, partitioned per customer. */
  def q39RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_day")
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        datediff($"o_orderdate", to_date(lit("1990-01-01"))).as("o_day"))
      .withColumn("trailing_30d", round(sum($"o_totalprice").over(w), 2))
      .select($"o_orderkey", $"o_custkey", $"o_day", $"trailing_30d")
      .orderBy($"o_orderkey")
  }

  /** Q40: regex field extraction — split the composite priority code
    * ('5-LOW') into its numeric level and word with `regexp_extract`
    * (codegen scalar, pushdown-friendly), then aggregate per part.
    * The pattern stays in the RE2-compatible subset both engines
    * (Java regex, DuckDB's RE2) interpret identically. */
  def q40RegexpExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(
        regexp_extract($"o_orderpriority", "^([0-9]+)", 1).cast("int").as("prio_level"),
        regexp_extract($"o_orderpriority", "([A-Z]+)$", 1).as("prio_word"),
        $"o_totalprice")
      .groupBy($"prio_level", $"prio_word")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
      .orderBy($"prio_level", $"prio_word")
  }

  /** The shared co-purchase pair artifact for the market-basket family
    * (q43 co-occurrence, q50 association rules, q53 PageRank edges):
    * (pa < pb, n_orders) from a self-join of the distinct
    * (order, part) frame on the order key, memoized per dataset.
    *
    * This REPLACED a basket-array formulation (collect_list per order
    * + nested-transform pair expansion) after a measured inversion at
    * the 20× fact corpus (12M lineitems): the expansion's nested
    * higher-order lambdas allocate a struct per pair OUTSIDE
    * whole-stage codegen and ran 65.7 s, a plain two-step explode
    * 39.5 s, while this self-join — both sides the SAME frame, so one
    * exchange feeds both via ReuseExchange, and the co-partitioned
    * join + pair count are fully codegen'd — ran 12.8 s, identical
    * 1,196,000-pair output. At sf0.1 the array expansion had won
    * (~1.6 s vs join overhead); scale flipped the verdict, so the
    * family standardizes on the shape that wins where it matters. */
  private[graft] def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("copurchase_pairs", dir) { _ =>
      val pp = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey").distinct()
      pp.as("a").join(pp.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" &&
            $"a.l_partkey" < $"b.l_partkey")
        .groupBy($"a.l_partkey".as("pa"), $"b.l_partkey".as("pb"))
        .agg(count(lit(1)).as("n_orders"))
    }
  }

  /** Q43: market-basket co-occurrence — the top co-purchased part
    * pairs across all orders, the classic association-mining head a
    * recommender serves as "customers also bought". The pair join fans
    * out per order as C(parts-per-order, 2) — basket-bounded quadratic,
    * never catalog-quadratic — and the top-20 presentation is a
    * deterministic total order, TakeOrderedAndProject-able. */
  def q43Cooccur(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    copurchasePairs(s, dir)
      .select($"pa".as("part_a"), $"pb".as("part_b"), $"n_orders")
      .orderBy($"n_orders".desc, $"part_a", $"part_b")
      .limit(20)
  }

  /** Q44: time-series gap filling — every user's event timeline
    * densified onto a daily spine between its first and last active
    * day, with zero-filled daily counts, a running cumulative count,
    * and an explicit gap flag. The spine is `sequence` + `explode` off
    * each user's (min, max) day pair, so spine size is span-bounded per
    * user and generated WHERE the user's rows already live (no global
    * calendar broadcast, no driver loop); the left join back to the
    * daily counts and the cumulative window both key on user_id, which
    * the rows already hash by. Day keys are integer epoch-days (exact
    * across engines). */
  def q44GapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.eventsWithMs(s, dir)
      .select($"user_id", expr("ms div 86400000L").as("day"))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_events"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id", $"day",
        coalesce($"n_events", lit(0L)).as("n_events"),
        ($"n_events".isNull).cast("int").as("is_gap"))
      .withColumn("cum_events", sum($"n_events")
        .over(Window.partitionBy($"user_id").orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"day", $"n_events", $"cum_events", $"is_gap")
      .orderBy($"user_id", $"day")
  }

  /** Q45: fixed-width histogram — the value-distribution summary every
    * BI layer draws. Bucket assignment is a per-row floor division
    * (integer-exact across engines, top bucket clamps the tail), so
    * the whole query is one scan + one partial-aggregated shuffle on a
    * bounded bucket key; shares are exact rationals floor-quantized. */
  def q45Histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val width = 5000.0
    val nBuckets = 20
    val counts = Tables.lineitem(s, dir)
      .select(least(floor($"l_extendedprice" / width), lit(nBuckets - 1))
        .cast("int").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_items"))
    // share denominator via a broadcast one-row total over the
    // K-bounded bucket table (the p6 pattern), not a global window
    val total = counts.agg(sum($"n_items").as("t"))
    counts.crossJoin(broadcast(total))
      .select($"bucket", ($"bucket" * width).as("lo"), $"n_items",
        (floor($"n_items" * 1000000L / $"t") / 1000000.0).as("share"))
      .orderBy($"bucket")
  }

  /** Q46: first/last-touch attribution — per user, the event type that
    * opened and the one that closed their journey, plus volume counts:
    * the marketing-attribution query every event warehouse serves. Two
    * ranked windows over ONE partition key (user_id) with a total
    * order (ms, event_id) so both touches are engine-reproducible;
    * the final aggregate rides the same user-partitioned shuffle. */
  def q46Attribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_id", $"event_type")
    val asc = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
    val desc = Window.partitionBy($"user_id").orderBy($"ms".desc, $"event_id".desc)
    e.withColumn("rn_first", row_number().over(asc))
      .withColumn("rn_last", row_number().over(desc))
      .groupBy($"user_id")
      .agg(
        max(when($"rn_first" === 1, $"event_type")).as("first_touch"),
        max(when($"rn_last" === 1, $"event_type")).as("last_touch"),
        count(lit(1)).as("n_events"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .orderBy($"user_id")
  }

  /** Q48: year-over-year growth — revenue per (nation, year) with the
    * YoY ratio, the trend table behind every exec dashboard. One
    * broadcast dim chain (customer→nation), one partial-aggregated
    * shuffle to the (nation, year) grain, then the lag window runs
    * over the AGGREGATED frame — a few rows per nation, partitioned on
    * the nation key, so the window costs nothing regardless of fact
    * size. Ratio is computed on the already-rounded yearly sums and
    * floor-quantized, so both engines divide identical IEEE doubles. */
  def q48YoyGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .select($"o_custkey", $"o_totalprice", year($"o_orderdate").as("o_year"))
      .join(Tables.customer(s, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir).select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", $"o_year")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"))
    val w = Window.partitionBy($"n_name").orderBy($"o_year")
    rev.withColumn("prev", lag($"revenue", 1).over(w))
      .select($"n_name", $"o_year", $"revenue",
        when($"prev".isNotNull,
          floor($"revenue" / $"prev" * 10000) / 10000.0).as("yoy_ratio"))
      .orderBy($"n_name", $"o_year")
  }

  /** Q47: share-of-total decomposition — each nation's revenue as a
    * share of its region and of the world, plus its rank within the
    * region: the market-share dashboard head. Everything downstream of
    * ONE (region, nation) partial aggregate: the region total and the
    * grand total are window sums over the ~25-row aggregated frame
    * (the q48 lesson — windows cost nothing after aggregation, never
    * run them over the fact table), so the fact scan is one shuffle.
    * Shares floor-quantize at 1e-4; revenue rounds at 2dp BEFORE the
    * ratios so both engines divide identical doubles. */
  def q47ShareOfTotal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .select($"o_custkey", $"o_totalprice")
      .join(Tables.customer(s, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)
        .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir).select($"r_regionkey", $"r_name")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(round(sum($"o_totalprice"), 2).as("revenue"))
    val wr = Window.partitionBy($"r_name")
    rev
      .withColumn("region_rev", sum($"revenue").over(wr))
      .withColumn("world_rev", sum($"revenue").over(Window.partitionBy()))
      .withColumn("region_rank", rank().over(
        wr.orderBy($"revenue".desc, $"n_name")))
      .select($"r_name", $"n_name", $"revenue", $"region_rank",
        (floor($"revenue" / $"region_rev" * 10000) / 10000.0).as("region_share"),
        (floor($"revenue" / $"world_rev" * 10000) / 10000.0).as("world_share"))
      .orderBy($"r_name", $"n_name")
  }

  /** Exact PER-GROUP rank under a total `sort` order within each
    * group — withGlobalRunningSum's partitioned sibling, for "rank within
    * source" shapes where a plain
    * `row_number().over(partitionBy(group))` funnels each group's
    * ENTIRE population through one task (the p16/p18 100 TB killer:
    * group cardinality is small by construction — that's the point
    * of a per-source cap — so group partitions are data-sized).
    * Range-partition on (group, sort): each group spans a contiguous
    * run of partitions and every partition holds sorted group
    * segments, so a per-(partition, group) row_number plus exclusive
    * per-group offsets over the (partition, group) COUNTS — a bounded
    * artifact, ≤ shuffle-partitions · |groups| rows — reassembles the
    * exact per-group rank. Offsets broadcast back; the offset window
    * partitions BY GROUP over the artifact frame (bounded).
    *
    * CONTRACT: `group` must be driver-bounded cardinality (≲10⁵ —
    * sources, arms, buckets), because the offsets frame is collected
    * for broadcast. For high-cardinality groups use a plain
    * `row_number().over(partitionBy(group))` instead — with many
    * groups the per-group populations are small and the window does
    * NOT funnel the data through one task; this helper exists for the
    * OPPOSITE regime (few groups, data-sized populations). */
  private[graft] def withGroupRank(df: DataFrame, group: String,
      out: String, scope: Scope,
      sort: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val n = s.sessionState.conf.numShufflePartitions
    // kept for the withGlobalRunningSum reason: one shuffle, both branches
    val local = scope.keep(df.repartitionByRange(n, (col(group) +: sort): _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(
        Window.partitionBy($"__pid", col(group)).orderBy(sort: _*))))
    val offs = local.groupBy($"__pid", col(group))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum($"__c").over(
        Window.partitionBy(col(group)).orderBy($"__pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"__pid", col(group), $"__off")
    local.join(broadcast(offs), Seq("__pid", group))
      .withColumn(out, $"__off" + $"__lr")
      .drop("__pid", "__lr", "__off")
  }

  /** Exact global RUNNING SUM of `value` under a total `sort` order,
    * as a long column `out`; the exact global rank is the running sum
    * of `lit(1L)` (p9, q68). A partitionBy-less `Window.orderBy(...)`
    * would plan Exchange SinglePartition over the whole frame (the
    * trap p5/d2 exist to avoid). Instead: range-partition on the sort
    * key (ascending pids = ascending ranges), per-partition prefix
    * sums, then one bounded window over ≤ numShufflePartitions
    * partition TOTALS broadcast back as exclusive offsets (the q45
    * broadcast-total pattern). The global-order primitive behind
    * sweep-line analytics (q59).
    *
    * The range-partitioned frame is kept in `scope`: the offsets
    * branch and the main branch must observe the SAME physical
    * partitioning — uncached, each read re-executes the range shuffle
    * and AQE may coalesce the two executions differently, silently
    * skewing every offset (found by the q49 oracle: 28 of 1500 tiles
    * off by one). */
  private[graft] def withGlobalRunningSum(df: DataFrame,
      value: org.apache.spark.sql.Column, out: String, scope: Scope,
      sort: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val n = s.sessionState.conf.numShufflePartitions
    val local = scope.keep(df.repartitionByRange(n, sort: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lrs", sum(value).over(Window.partitionBy($"__pid")
        .orderBy(sort: _*).rowsBetween(Window.unboundedPreceding, 0))))
    val offs = local.groupBy($"__pid").agg(sum(value).as("__c"))
      .withColumn("__off", coalesce(sum($"__c").over(
        Window.orderBy($"__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select($"__pid", $"__off")
    local.join(broadcast(offs), "__pid")
      .withColumn(out, $"__off" + $"__lrs")
      .drop("__pid", "__lrs", "__off")
  }

  /** Exact global ntile(k) BOUNDARY rows — selection, not ranking
    * (round 15): a tile code needs only the k−1 boundary TUPLES of
    * the total order, so ranking every row and joining the rank back
    * onto the data-scale frame (three wide range shuffles + three
    * broadcast join-backs for q49) overpays by the data size. Here
    * only the NARROW sort projection range-shuffles once; the
    * per-partition counts are the same ≤ numShufflePartitions bounded
    * artifact withGlobalRunningSum uses, each boundary rank resolves to a
    * (partition, local index) driver-side, and ONE partition-local
    * row_number over just the target partitions extracts the rows.
    * Tile assignment downstream is a broadcast comparison against the
    * returned tuples — tile(x) = 1 + #{boundaries strictly before x},
    * exactly SQL ntile (boundary ranks are the cumulative tile sizes
    * c_j = j·floor(N/k) + min(j, N mod k); duplicates when N < k keep
    * their multiplicity). Returns the boundary rows in `ranks` order,
    * with the columns of `df`; k = 1 has no boundaries. */
  private[graft] def ntileBoundaries(df: DataFrame, k: Int, scope: Scope,
      sort: org.apache.spark.sql.Column*): Seq[org.apache.spark.sql.Row] = {
    require(k >= 1, s"ntileBoundaries: k must be >= 1, got $k")
    if (k == 1) return Seq.empty
    val s = df.sparkSession
    import s.implicits._
    val outCols = df.columns
    val n = s.sessionState.conf.numShufflePartitions
    // counts and extraction must observe ONE physical partitioning —
    // the withGlobalRunningSum cache caveat; callers may run several
    // axes' selections concurrently on one scope (q49)
    val local = scope.keep(df.repartitionByRange(n, sort: _*)
      .withColumn("__pid", spark_partition_id()))
    val cnts = local.groupBy($"__pid").agg(count(lit(1)).as("__c"))
      .orderBy($"__pid").as[(Int, Long)].collect()
    val total = cnts.map(_._2).sum
    if (total == 0L) return Seq.empty
    val size = total / k
    val rem = total % k
    val ranks = (1 until k).map(j => j * size + math.min(j.toLong, rem))
    val targets = ranks.map { r =>
      var i = 0; var cum = 0L
      while (cum + cnts(i)._2 < r) { cum += cnts(i)._2; i += 1 }
      (cnts(i)._1, r - cum) // (pid, 1-based local index)
    }
    val byPid = targets.groupBy(_._1)
    val pred = byPid.map { case (p, ts) =>
      $"__pid" === p &&
        $"__lr".cast("long").isInCollection(ts.map(_._2).distinct)
    }.reduce(_ || _)
    val picked = local
      .filter($"__pid".isInCollection(byPid.keys.toSeq))
      .withColumn("__lr", row_number().over(
        Window.partitionBy($"__pid").orderBy(sort: _*)))
      .filter(pred)
      .collect()
    val rowOf = picked.map { r =>
      ((r.getAs[Int]("__pid"), r.getAs[Int]("__lr").toLong),
        org.apache.spark.sql.Row.fromSeq(r.toSeq.take(outCols.length)))
    }.toMap
    targets.map(rowOf(_))
  }

  /** SQL ntile(k) from an exact global rank: bucket sizes differ by at
    * most one with the larger buckets first — `tile(r) =
    * ceil(r/(size+1))` inside the first (N mod k) oversized buckets,
    * then `rem + ceil((r − (size+1)·rem)/size)`. Exact integer
    * arithmetic (positive operands), so it matches both engines'
    * ntile bit-for-bit. */
  private[graft] def tileOf(rank: org.apache.spark.sql.Column,
      total: org.apache.spark.sql.Column, k: Long) =
    tileOfDyn(rank, total, lit(k))

  /** Column-k generalization (the PropertySpec exercises arbitrary k;
    * operators pass a literal). */
  private[graft] def tileOfDyn(rank: org.apache.spark.sql.Column,
      total: org.apache.spark.sql.Column, k: org.apache.spark.sql.Column) = {
    val size = floor(total / k).cast("long")
    val rem = total % k
    val big = (size + lit(1L)) * rem
    when(rank <= big, floor((rank + size) / (size + lit(1L))).cast("long"))
      .otherwise(rem + floor((rank - big + size - lit(1L)) / size).cast("long"))
  }

  /** Q49: RFM customer segmentation — the classic marketing cut:
    * per-customer Recency (days from last order to the corpus's last
    * date), Frequency (order count), Monetary (total spend), each
    * quartiled and concatenated into the segment code ("1-4-4" =
    * recent heavy spender; tile 1 is always "best"). One partial
    * aggregate over orders; then each axis's quartiles come from the
    * 3 BOUNDARY tuples of the (value, custkey) total order
    * (`ntileBoundaries` — selection, not ranking: only the NARROW
    * two-column projection range-shuffles, never a single-partition
    * ntile window, which at a billion customers is the OOM point),
    * and the segment code is one broadcast-literal comparison pass
    * over the customer frame — no rank column ever joins back. Tie-
    * breaks on custkey keep the boundaries engine-reproducible; the
    * corpus max date is a one-row broadcast. The oracle's plain
    * `ntile(4)` windows hash-match, proving boundary-compare IS SQL
    * ntile (tile = 1 + #boundaries strictly before the row). */
  def q49Rfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q49_rfm", dir) { sc =>
      val per = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("last_dt"),
          count(lit(1)).as("frequency"),
          round(sum($"o_totalprice"), 2).as("monetary"))
      val maxDt = Tables.orders(s, dir).agg(max($"o_orderdate").as("corpus_max"))
      val rfm = sc.keep(per.join(broadcast(maxDt))
        .select($"o_custkey", $"frequency", $"monetary",
          datediff($"corpus_max", $"last_dt").as("recency_days")))
      rfm.count() // warm the cache once before the concurrent scans
      // the three axis selections are independent — submit them from
      // three threads (guide §2.6: job submission is thread-local) so
      // their bounded collect round-trips overlap instead of chaining
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContextExecutorService =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val Seq(rB, fB, mB) =
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(Seq(
            scala.concurrent.Future(ntileBoundaries(
              rfm.select($"recency_days", $"o_custkey"), 4,
              sc, $"recency_days", $"o_custkey")),
            scala.concurrent.Future(ntileBoundaries(
              rfm.select($"frequency", $"o_custkey"), 4,
              sc, $"frequency".desc, $"o_custkey")),
            scala.concurrent.Future(ntileBoundaries(
              rfm.select($"monetary", $"o_custkey"), 4,
              sc, $"monetary".desc, $"o_custkey")))),
          scala.concurrent.duration.Duration.Inf)
        finally {
          // stop and wait out every axis before the scope releases:
          // after one axis fails, another still running would keep its
          // range-partitioned frame after the release
          pool.shutdownNow()
          pool.awaitTermination(Long.MaxValue,
            java.util.concurrent.TimeUnit.NANOSECONDS)
        }
      // tile = 1 + #{boundaries strictly before the row} under each
      // axis's total order (asc: v > bv; desc: v < bv; ties on key)
      def tile(v: org.apache.spark.sql.Column, desc: Boolean,
          bs: Seq[org.apache.spark.sql.Row]) =
        bs.map { b =>
          val bv = lit(b.get(0)); val bk = lit(b.getLong(1))
          val after = if (desc) v < bv else v > bv
          when(after || (v === bv && $"o_custkey" > bk), 1L).otherwise(0L)
        }.foldLeft(lit(1L))(_ + _)
      rfm.select($"o_custkey", $"recency_days", $"frequency", $"monetary",
        concat_ws("-", tile($"recency_days", desc = false, rB),
          tile($"frequency", desc = true, fB),
          tile($"monetary", desc = true, mB)).as("rfm_segment"))
        .orderBy($"o_custkey")
    }
  }

  /** Q42: cohort retention — users bucketed by first-seen epoch-week,
    * distinct actives per (cohort, week offset): the standard product
    * retention triangle. Week indexes are integer epoch arithmetic
    * (exact in both engines). Two shuffles total: the per-user min
    * (partial-aggregated map-side) and the cohort-cell distinct count;
    * the cohort frame re-joins on user_id, the key both sides already
    * hash by. */
  def q42CohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weekMs = 7L * 24 * 3600 * 1000
    val e = Tables.eventsWithMs(s, dir)
      .select($"user_id", expr(s"ms div ${weekMs}L").as("wk"))
    val cohorts = e.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    e.join(cohorts, "user_id")
      .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("wk_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_wk", $"wk_offset")
  }

  /** Q50: association rules over order baskets — support, confidence,
    * and lift for directed part→part rules, min pair support 3, top 25
    * by lift. Pair counts come from the family's shared memoized
    * `copurchasePairs` artifact — the distinct-(order, part) self-join
    * on the order key, where ONE exchange feeds both join sides via
    * ReuseExchange and the join + pair count stay fully codegen'd (the
    * formulation that beat the basket-array lambda expansion 12.8 s vs
    * 65.7 s at the 20× probe — §6.11 inversion note). Item supports are
    * a grouped count on the same distinct (order, part) frame, and the
    * basket total rides in as a one-row broadcast. Item supports are
    * part-cardinality-sized — tiny
    * next to lineitem at any scale — so both direction joins broadcast.
    * Ratios are floor-quantized at 4dp (engine-independent, unlike
    * round) and ordering tie-breaks on the rule key, so the top-k
    * frontier is exact across engines. */
  /** Q87: SEQUENTIAL association rules — q50's same-basket rules
    * extended along the time axis (the SPADE/AprioriAll family,
    * Agrawal & Srikant ICDE'95): "customers who buy A LATER buy B",
    * mined from each customer's first-purchase dates. Anchoring on
    * the FIRST purchase of each (customer, part) makes the pair
    * relation a pure function of the input (no multi-order ambiguity)
    * and caps the per-customer fan-out at C(distinct parts, 2) — the
    * copurchase bound keyed by customer instead of order. Same-date
    * pairs are excluded (strict '<'), so the relation is
    * antisymmetric and engine-replayable. Confidence = n_seq /
    * customers(ante); sequential lift = confidence / P(cons) — both
    * floor-quantized (q4). Top-25 under a total order.
    *
    * Shape at scale: one join keyed on the customer (both sides
    * pre-aggregated to first-purchase rows), one pair-keyed count
    * with map-side partials, two broadcast part-count joins, one
    * TakeOrdered(25) — no global sort materialization. */
  def q87SeqRules(s: SparkSession, dir: String,
      minSupport: Long = 3L): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.q4
    graft.Caches.memo("q87_seq_rules", dir) { sc =>
      val cp = sc.keep(Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
        .join(Tables.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey".as("c"), $"l_partkey".as("p"))
        .agg(min($"o_orderdate").as("d")))
      // the self-join must SHUFFLE on the customer key: cp is
      // customer×part-scale (billions of rows at 100 TB) and the
      // cache's tiny estimated stats otherwise flip the planner to
      // broadcasting it — the m10/t12 defect (round 15); both sides
      // hash the key they already carry, ReuseExchange shares the one
      // shuffle
      val seq = cp.as("a").join(cp.as("b").hint("SHUFFLE_HASH"),
          $"a.c" === $"b.c" && $"a.d" < $"b.d")
        .groupBy($"a.p".as("ante"), $"b.p".as("cons"))
        .agg(count(lit(1)).as("n_seq"))
        .filter($"n_seq" >= minSupport)
      val custs = cp.groupBy($"p").agg(count(lit(1)).as("n_cust"))
      val tot = cp.agg(countDistinct($"c").as("n_all"))
      seq
        .join(broadcast(custs.select($"p".as("ante"), $"n_cust".as("n_ante"))), "ante")
        .join(broadcast(custs.select($"p".as("cons"), $"n_cust".as("n_cons"))), "cons")
        .join(broadcast(tot))
        .select($"ante", $"cons", $"n_seq",
          q4($"n_seq".cast("double") / $"n_ante").as("confidence"),
          // slift's cast/multiply/divide SEQUENCE mirrors the oracle
          // token-for-token (CAST(n_all AS DOUBLE) * n_seq / (n_ante *
          // n_cons)): rounding at the double multiply, integer product
          // only in the denominator — identical IEEE ops both engines,
          // with no exact Long numerator product to outgrow 2^63
          // (denominator headroom: n_ante·n_cust ≤ customers², ~2e16
          // at 100 TB — inside Long; ANSI raises loudly beyond)
          q4($"n_all".cast("double") * $"n_seq" /
            ($"n_ante" * $"n_cons")).as("slift"))
        .orderBy($"n_seq".desc, $"confidence".desc, $"ante", $"cons")
        .limit(25)
    }
  }

  def q50AssocRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.q4
    val pairs = copurchasePairs(s, dir)
      .select($"pa", $"pb", $"n_orders".as("n_ab"))
      .filter($"n_ab" >= 3)
    val pp = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
    val items = pp.groupBy($"l_partkey".as("p"))
      .agg(count(lit(1)).as("n_p"))
    val total = pp.agg(countDistinct($"l_orderkey").as("n_baskets"))
    // each undirected pair yields both directed rules; confidence is
    // direction-specific, lift is symmetric
    val directed = pairs.select($"pa".as("ante"), $"pb".as("cons"), $"n_ab")
      .unionAll(pairs.select($"pb".as("ante"), $"pa".as("cons"), $"n_ab"))
    directed
      .join(broadcast(items.withColumnRenamed("p", "ante")
        .withColumnRenamed("n_p", "n_ante")), "ante")
      .join(broadcast(items.withColumnRenamed("p", "cons")
        .withColumnRenamed("n_p", "n_cons")), "cons")
      .join(broadcast(total))
      .select($"ante", $"cons", $"n_ab",
        q4($"n_ab" / $"n_ante").as("confidence"),
        q4($"n_baskets" * $"n_ab" / ($"n_ante" * $"n_cons")).as("lift"))
      .orderBy($"lift".desc, $"confidence".desc, $"ante", $"cons")
      .limit(25)
  }

  /** Q51: cumulative-distinct user growth — per epoch-hour, how many
    * NEW users appeared and the running total of distinct users ever
    * seen. Computed as first-seen-hour per user (one map-side-combined
    * shuffle over events) then an hour-grain rollup; the running sum's
    * window runs over the HOUR-GRAIN frame only (corpus span in hours
    * — tens of thousands of rows for years of data, at any corpus
    * size), so the single-partition window is bounded by calendar
    * time, not data volume. */
  def q51UserGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firstSeen = Tables.eventsWithMs(s, dir)
      .select($"user_id", expr("ms div 3600000L").as("hr"))
      .groupBy($"user_id").agg(min($"hr").as("first_hr"))
    val w = Window.orderBy($"first_hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen.groupBy($"first_hr")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum($"new_users").over(w))
      .select($"first_hr".as("hr"), $"new_users", $"cum_users")
      .orderBy($"hr")
  }

  /** Q52: per-user activity anomalies — days whose event count sits
    * ≥ 2 sample-stddevs above that user's own daily mean. The daily
    * counts aggregate once on (user, day); the per-user moments run as
    * a window partitioned by user_id over the AGGREGATED day-grain
    * frame (rows per partition = that user's active-day span, never
    * the raw event count), so a hot user costs days, not events.
    * Users with < 3 active days or zero variance are excluded (a
    * z-score needs a non-degenerate baseline); the z itself is
    * floor-quantized for engine-exact comparison. */
  def q52OutlierDays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions.q4
    val daily = Tables.eventsWithMs(s, dir)
      .select($"user_id", expr("ms div 86400000L").as("day"))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"user_id")
    // z from EXACT integer sufficient statistics (n is a count):
    // S1 = Σn, S2 = Σn², D = days — engine-native avg/stddev_samp
    // accumulate in floats with implementation-specific order, and a z
    // landing exactly on a quantization boundary (measured: z = 2.7 at
    // sf0.1) floors differently across engines. From exact integers,
    // the one shared closed-form IEEE expression
    //   z = A / (D · √(B / (D·(D−1)))),  A = n·D − S1, B = D·S2 − S1²
    // evaluates bit-identically in Spark and DuckDB, and sd > 0 ⟺
    // B > 0 becomes an INTEGER comparison.
    daily
      .withColumn("s1", sum($"n").over(w))
      .withColumn("s2", sum($"n" * $"n").over(w))
      .withColumn("n_days", count(lit(1)).over(w))
      .filter($"n_days" >= 3 &&
        $"n_days" * $"s2" - $"s1" * $"s1" > 0L)
      .withColumn("z", q4(
        ($"n" * $"n_days" - $"s1").cast("double") /
          ($"n_days".cast("double") *
            sqrt(($"n_days" * $"s2" - $"s1" * $"s1").cast("double") /
              ($"n_days" * ($"n_days" - 1L)).cast("double")))))
      .filter($"z" >= 2.0)
      .select($"user_id", $"day", $"n", $"z")
      .orderBy($"user_id", $"day")
  }

  /** Q56: first-order Markov transition matrix over event types — the
    * per-user clickstream grammar (what follows what, with maximum-
    * likelihood transition probabilities). The navigation-model /
    * next-action-prediction base table.
    *
    * Plan shape: ONE lead window partitioned on the user key the
    * event rows already hash by (per-user cost = that user's events,
    * embarrassingly parallel), then two grouped counts at the
    * (src, dst) grain — a frame bounded by |event types|², not data.
    * The source totals re-derive from the PAIR counts (no second
    * corpus pass) and broadcast. Total order within a user is
    * (ms, event_id) — the q46 tiebreak, engine-reproducible under
    * same-timestamp bursts. p = n/n_src is an exact integer ratio,
    * floor-quantized. */
  def q56Transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
    val tr = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_id", $"event_type")
      .withColumn("dst", lead($"event_type", 1).over(w))
      .filter($"dst".isNotNull)
    val cnt = tr.groupBy($"event_type".as("src"), $"dst")
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy($"src").agg(sum($"n").as("n_src"))
    cnt.join(broadcast(tot), "src")
      .select($"src", $"dst", $"n",
        (floor($"n" / $"n_src".cast("double") * 10000) / 10000.0).as("p"))
      .orderBy($"src", $"dst")
  }

  /** Q55: classical seasonal decomposition of daily revenue —
    * trend (centered 7-row moving average), day-of-week seasonal
    * component (mean detrended value per weekday), residual. The
    * time-series health view behind anomaly dashboards (q52 flags
    * point outliers; this separates the structural weekly cycle).
    *
    * Plan shape: ONE day-grain pre-aggregation first, so every window
    * downstream runs over the aggregated frame — the trend window is
    * a global-order rows-frame over day rows, CALENDAR-bounded (a
    * century is ~36.5 k rows in one task), never data-bounded; the
    * q51/q52 justification. Edge days without a full 7-row window are
    * excluded from the fit (textbook centered-MA behavior).
    *
    * Determinism: daily revenue rounds at 2 dp BEFORE any derivation;
    * trend/seasonal/residual floor-quantize at 1e-4, so each engine
    * derives from identical IEEE doubles (group-sum order ulp at the
    * floor boundary is the same accepted class as t9). Weekday is
    * `datediff(epoch) mod 7` — engine-neutral, no locale. */
  def q55Seasonal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q4c = (c: org.apache.spark.sql.Column) => floor(c * 10000) / 10000.0
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(round(sum($"o_totalprice"), 2).as("revenue"))
    val w = Window.orderBy($"day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("trend", q4c(avg($"revenue").over(w)))
      .filter($"n_win" === 7)
      .withColumn("detr", $"revenue" - $"trend")
      .withColumn("dow", pmod(datediff($"day", to_date(lit("1970-01-01"))), lit(7)))
    val seasonal = trended.groupBy($"dow")
      .agg(q4c(avg($"detr")).as("seasonal"))
    trended.join(broadcast(seasonal), "dow")
      // day keys leave as integer epoch-days (q44/q52 convention: the
      // driver's hash compare needs engine-neutral key types)
      .select(datediff($"day", to_date(lit("1970-01-01"))).cast("long").as("day"),
        $"revenue", $"trend", $"seasonal",
        q4c($"detr" - $"seasonal").as("residual"))
      .orderBy($"day")
  }

  /** Q58: rolling 7-day active users per epoch day (the WAU curve) —
    * EXACT distinct-count over a sliding window, the op a naive
    * `approx_count_distinct OVER (RANGE 6 PRECEDING)` gets wrong and
    * an exact window can't express (count(distinct) isn't a window
    * function). Standard expansion trick: dedupe to (user, active-day)
    * grain, fan each row out to the 7 windows it contributes to
    * (`sequence(day, day+6)` — codegen, no join), dedupe to
    * (user, window-day), count. Every shuffle keys on columns the
    * rows carry; fan-out is a fixed 7× of the user-day frame, and the
    * user-day frame is already the distinct-compressed grain — at
    * 100 TB of raw events the first distinct is the big win and it
    * map-side combines. Windows past the last observed day are
    * clipped by a 1-row broadcast bound. */
  def q58RollingActives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables.eventsWithMs(s, dir)
      .select($"user_id", expr("ms div 86400000L").as("day"))
      .distinct()
    val bounds = ud.agg(max($"day").as("hi"))
    ud.select($"user_id", explode(sequence($"day", $"day" + 6)).as("d"))
      .distinct()
      .join(broadcast(bounds))
      .filter($"d" <= $"hi")
      .groupBy($"d").agg(count(lit(1)).as("wau"))
      .orderBy($"d")
  }

  /** Q59: peak session concurrency per day — an exact interval
    * sweep-line over q14's 30-min-gap sessions. Sessions reduce to
    * per-INSTANT endpoint counts first (`groupBy(ms)` → starts/ends):
    * that makes the sweep key unique, so the running sum has no tie
    * groups (ROWS and RANGE window semantics coincide — the property
    * the DuckDB oracle parity rests on) and the sweep frame shrinks
    * from 2·sessions rows to distinct endpoint instants. One
    * DISTRIBUTED global running sum ([[withGlobalRunningSum]] — never
    * a single-partition `Window.orderBy`) carries concurrency across
    * day boundaries; the peak AT an instant counts that instant's
    * starts before its ends (closed intervals: a session starting the
    * moment another ends overlaps it), i.e. `net + n_end`. Reported
    * at endpoint grain: each day's max over its own instants — a day
    * whose concurrency never changes inherits no row, which is the
    * sweep-line contract. */
  def q59Concurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q59_concurrency", dir) { sc =>
      val byUser = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val sessions = Tables.eventsWithMs(s, dir)
        .select($"user_id", $"event_id", $"ms")
        .withColumn("prev_ms", lag($"ms", 1).over(byUser))
        .withColumn("new_session",
          when($"prev_ms".isNull || $"ms" - $"prev_ms" > Sessionize.SessionGapMs,
            1L).otherwise(0L))
        .withColumn("session_id",
          sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id", $"session_id")
        .agg(min($"ms").as("start_ms"), max($"ms").as("end_ms"))
      val endpoints = sessions
        .select($"start_ms".as("ms"), lit(1L).as("st"), lit(0L).as("en"))
        .unionAll(sessions.select($"end_ms".as("ms"), lit(0L).as("st"), lit(1L).as("en")))
        .groupBy($"ms")
        .agg(sum($"st").as("n_start"), sum($"en").as("n_end"))
      withGlobalRunningSum(endpoints, $"n_start" - $"n_end", "net", sc, $"ms")
        .groupBy(expr("ms div 86400000L").as("day"))
        .agg(max($"net" + $"n_end").as("peak_concurrency"),
             sum($"n_start").as("n_sessions_started"))
        .orderBy($"day")
    }
  }

  /** Q60: autocorrelation of the daily-revenue series at lags 1–7 —
    * the seasonality detector behind q55 (a weekly cycle shows as a
    * local maximum at lag 7).
    *
    * Exactness contract, stronger than the usual round-the-floats:
    * the series is built in integer CENTS (`floor(o_totalprice*100)`
    * per row is one IEEE multiply + floor, identical in any engine;
    * the daily sum is then bigint, order-independent), the mean is the
    * integer-div quantized mean (a defined statistic, not an FP
    * approximation), and the lag products accumulate in DECIMAL(38,0)
    * (Σ d² ~ 1e20 overflows bigint). The only float op is the final
    * num/den division of exactly-agreed integers, floor-quantized —
    * bit-identical cross-engine with no summation-order exposure.
    *
    * Shape at 100 TB: everything after the first groupBy is
    * calendar-sized (one row per day), so the lead window's single
    * partition holds years-of-days rows — the q48/q55 aggregated-frame
    * convention, bounded by time, not data. */
  /** Q63: Holt linear-trend smoothing over the daily-revenue series
    * with one-step-ahead forecasts — exact INTEGER fixed point (the
    * q53 PageRank discipline applied to forecasting: float smoothing
    * is addition-order-dependent; milli-cent fixed point with explicit
    * floor division is bit-identical on any engine). α = 0.2,
    * β = 0.1 as integer thousandths; level/trend carry in milli-cents
    * (y·1000 ≈ 1e12, ×800 stays far inside bigint).
    *
    * Quantization is TRUNCATING integer division on both engines —
    * Spark's `div` and DuckDB's `//` both truncate toward zero
    * (verified on negatives: -7//1000 = 0 in DuckDB), so the NEGATIVE
    * trend numerators quantize identically with the plain operators;
    * a floor-division formulation (pmod-based) diverged by one
    * milli-cent at the first negative numerator — measured, then
    * matched.
    *
    * Shape at scale: the heavy work is the daily aggregate; the
    * recursion is inherently sequential, so it folds over ONE
    * calendar-sized array (the q29 `aggregate` shape, q48/q55
    * aggregated-frame convention) — thousands of entries for years of
    * data, regardless of corpus size. The oracle replays the same
    * recursion as a recursive CTE. */
  def q63HoltForecast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("y"))
      .select(datediff($"d", to_date(lit("1970-01-01"))).cast("long").as("day"), $"y")
    val series = daily
      .agg(array_sort(collect_list(struct($"day", $"y"))).as("s"))
    def fdiv(x: String) = s"($x) div 1000L"
    val newL = fdiv("200L * e.y * 1000L + 800L * (acc.l + acc.b)")
    val newB = fdiv(s"100L * (($newL) - acc.l) + 900L * acc.b")
    val folded = series.select(expr(s"""
      aggregate(
        slice(s, 3, greatest(size(s) - 2, 0)),
        named_struct(
          'l', s[0].y * 1000L,
          'b', (s[1].y - s[0].y) * 1000L,
          'out', cast(array() as array<struct<day:bigint,y_cents:bigint,fc_cents:bigint>>)),
        (acc, e) -> named_struct(
          'l', $newL,
          'b', $newB,
          'out', concat(acc.out, array(named_struct(
            'day', e.day, 'y_cents', e.y,
            'fc_cents', ${fdiv("acc.l + acc.b")})))),
        acc -> acc.out)""").as("out"))
    folded.select(explode($"out").as("e"))
      .select($"e.day", $"e.y_cents", $"e.fc_cents")
      .orderBy($"day")
  }

  /** Q65: A/B-test readout — the experimentation-analytics surface:
    * users split into two arms by id parity (the deterministic stand-in
    * for an assignment log; swap in the real assignment column and
    * nothing else changes), per-arm purchase conversion, absolute and
    * relative lift, and the pooled two-proportion z-statistic.
    *
    * Exactness: arm populations and conversions are exact integer
    * counts; every ratio (rates, lift, z) is derived from those exact
    * integers with the same IEEE operations in both engines, then
    * floor-quantized — the q37/q41 discipline. One events scan → one
    * distinct-user-grain aggregate → a 2-row frame; everything after
    * is constant-sized. */
  def q65AbTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // "converted" = a HEAVY purchaser (>= 15 purchase events): every
    // synthetic user purchases at least once, so raw conversion
    // saturates at 1.0 and the pooled z denominator degenerates —
    // the threshold restores a real split at every SF
    val perUser = Tables.events(s, dir)
      .select($"user_id", ($"event_type" === "purchase").cast("long").as("p"))
      .groupBy($"user_id")
      .agg((sum($"p") >= 15L).cast("long").as("converted"))
      .select(pmod($"user_id", lit(2L)).as("arm"), $"converted")
    val arms = perUser.groupBy($"arm")
      .agg(count(lit(1)).as("n_users"), sum($"converted").as("n_conv"))
    val q4c = (c: org.apache.spark.sql.Column) => floor(c * 10000) / 10000.0
    val wide = arms.filter($"arm" === 0)
      .select($"n_users".as("n_a"), $"n_conv".as("conv_a"))
      .crossJoin(arms.filter($"arm" === 1)
        .select($"n_users".as("n_b"), $"n_conv".as("conv_b")))
    val pa = $"conv_a".cast("double") / $"n_a"
    val pb = $"conv_b".cast("double") / $"n_b"
    val pool = ($"conv_a" + $"conv_b").cast("double") / ($"n_a" + $"n_b")
    wide.select($"n_a", $"conv_a", q4c(pa).as("rate_a"),
      $"n_b", $"conv_b", q4c(pb).as("rate_b"),
      q4c(pb - pa).as("abs_lift"),
      // zero-conversion arm A: relative lift is undefined — report 0
      // (the z_stat degenerate-pool convention; unguarded, Spark's
      // LongType floor maps the Inf/NaN to 0/Long.MaxValue while
      // DuckDB's floor keeps it — a cross-engine oracle divergence)
      when($"conv_a" === 0L, 0.0)
        .otherwise(q4c((pb - pa) / pa)).as("rel_lift"),
      // degenerate pooled rate (0 or 1) has zero variance — report 0
      // rather than raising ANSI division-by-zero
      when(pool === 0.0 || pool === 1.0, 0.0)
        .otherwise(q4c((pb - pa) /
          sqrt(pool * (lit(1.0) - pool) *
            (lit(1.0) / $"n_a" + lit(1.0) / $"n_b")))).as("z_stat"))
  }

  /** Q65 CUPED: variance-reduced A/B readout (Deng, Xu, Kohavi &
    * Walker WSDM'13 — the industry-standard experimentation upgrade):
    * each user's PRE-period activity predicts their post-period
    * outcome, so Y_adj = Y − θ(X − X̄) removes the predictable
    * between-user variance and the same experiment reads with tighter
    * error bars. X = pre-midpoint purchase count, Y = post-midpoint
    * purchase count (corpus time midpoint — a deterministic stand-in
    * for the experiment start), θ = cov(X,Y)/var(X) POOLED (the
    * assignment-independent covariate rule that keeps the adjustment
    * unbiased), arms by id parity (q65's convention).
    *
    * Exactness: the ENTIRE readout derives from six BIGINT sufficient
    * statistics per arm (n, Σx, Σy, Σx², Σy², Σxy — exact integer
    * aggregates); every double (θ, adjusted means, lift, the ρ²
    * variance-reduction share) is computed from those integers in the
    * same IEEE sequence both engines replay, then floor-quantized to
    * 1e6 micro-units (floor, not div — θ and lifts go negative).
    * n·Σx²-class products run in DECIMAL(38,0) — exact for any pair
    * of in-range BIGINT counters (≤38 digits), so no silent wrap at
    * web scale where the DuckDB oracle can't replay the check.
    * Degenerate var(X) = 0 → θ = 0 (the q65 degenerate-pool
    * convention). ρ² = cov²/(var(X)·var(Y)) is the measured share of
    * outcome variance CUPED removes.
    *
    * Shape at scale: one events scan → one user-grain aggregate
    * (map-side partials) → a 2-row arm frame + 1-row pooled totals;
    * everything after is constant-sized driver-scale algebra. */
  def q65Cuped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms",
        ($"event_type" === "purchase").cast("long").as("p"))
    val mid = e.agg(expr("(min(ms) + max(ms)) div 2")).as[Long].head()
    val perUser = e.groupBy($"user_id")
      .agg(sum(when($"ms" < mid, $"p").otherwise(0L)).as("x"),
        sum(when($"ms" >= mid, $"p").otherwise(0L)).as("y"))
      .select(pmod($"user_id", lit(2L)).as("arm"), $"x", $"y")
    def stats(df: DataFrame) = df.agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"x" * $"y").as("sxy"))
    val pooled = stats(perUser)
    val a = stats(perUser.filter($"arm" === 0))
      .select($"n".as("n_a"), $"sx".as("sx_a"), $"sy".as("sy_a"))
    val b = stats(perUser.filter($"arm" === 1))
      .select($"n".as("n_b"), $"sx".as("sx_b"), $"sy".as("sy_b"))
    // n·Σxy-class products in DECIMAL(38,0): two ≤19-digit longs fit
    // a 38-digit product EXACTLY, so no silent BIGINT wrap at any
    // scale the counters themselves can reach (Spark nulls on
    // decimal overflow rather than wrapping; DuckDB raises).
    // Edge: the SUBTRACTION is also decimal(38,0)-capped — if both
    // products near 10^38, |n·sxy − sx·sy| can itself overflow and
    // Spark nulls THAT too (a silent null lift instead of a wrapped
    // one). That needs ~10^19 user-rows with ~10^19-scale counters —
    // beyond any real deployment — but a web-scale run should fail
    // visibly, so each difference is null-guarded with raise_error
    // below rather than flowing a null into theta/rho2/lifts.
    // decimal→double is correctly rounded, same IEEE value as the
    // long→double path for every in-range input, so the oracle hash
    // is unchanged.
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def loud(c: org.apache.spark.sql.Column, what: String) = when(c.isNull,
      raise_error(lit(s"q65_cuped: decimal(38,0) overflow in $what — " +
        "counter magnitudes exceed the exact range"))).otherwise(c)
    val num = loud((d38($"n") * d38($"sxy") - d38($"sx") * d38($"sy"))
      .cast("double"), "n*sxy - sx*sy")
    val denX = loud((d38($"n") * d38($"sxx") - d38($"sx") * d38($"sx"))
      .cast("double"), "n*sxx - sx*sx")
    val denY = loud((d38($"n") * d38($"syy") - d38($"sy") * d38($"sy"))
      .cast("double"), "n*syy - sy*sy")
    val theta = when(denX === 0.0, 0.0).otherwise(num / denX)
    val rho2 = when(denX === 0.0 || denY === 0.0, 0.0)
      .otherwise(num * num / (denX * denY))
    val xbar = $"sx".cast("double") / $"n".cast("double")
    def m(sc: org.apache.spark.sql.Column,
        nc: org.apache.spark.sql.Column) = sc.cast("double") / nc.cast("double")
    val adjA = m($"sy_a", $"n_a") - theta * (m($"sx_a", $"n_a") - xbar)
    val adjB = m($"sy_b", $"n_b") - theta * (m($"sx_b", $"n_b") - xbar)
    val q6 = (c: org.apache.spark.sql.Column) =>
      floor(c * 1000000).cast("long")
    a.crossJoin(b).crossJoin(broadcast(pooled))
      .select($"n_a", $"n_b",
        q6(theta).as("theta_1e6"),
        q6(m($"sy_b", $"n_b") - m($"sy_a", $"n_a")).as("lift_raw_1e6"),
        q6(adjB - adjA).as("lift_adj_1e6"),
        q6(rho2).as("var_red_1e6"))
  }

  private[graft] def cupedOracleSql: String =
    """WITH e AS (
         SELECT user_id, epoch_ms(ts) AS ms,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
         FROM events),
       mx AS (SELECT (min(ms) + max(ms)) // 2 AS mid FROM e),
       pu AS (
         SELECT user_id % 2 AS arm,
           CAST(sum(CASE WHEN ms < mx.mid THEN p ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN ms >= mx.mid THEN p ELSE 0 END) AS BIGINT) AS y
         FROM e CROSS JOIN mx GROUP BY user_id),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
         FROM pu),
       sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
           CAST(sum(x) AS BIGINT) AS sx_a, CAST(sum(y) AS BIGINT) AS sy_a
         FROM pu WHERE arm = 0),
       sb AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
           CAST(sum(x) AS BIGINT) AS sx_b, CAST(sum(y) AS BIGINT) AS sy_b
         FROM pu WHERE arm = 1),
       alg AS (
         SELECT n_a, n_b,
           CAST(n * sxy - sx * sy AS DOUBLE) AS num,
           CAST(n * sxx - sx * sx AS DOUBLE) AS den_x,
           CAST(n * syy - sy * sy AS DOUBLE) AS den_y,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
           CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS my_a,
           CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS my_b,
           CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mx_a,
           CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mx_b
         FROM sa CROSS JOIN sb CROSS JOIN st),
       th AS (
         SELECT *, CASE WHEN den_x = 0.0 THEN 0.0
             ELSE num / den_x END AS theta,
           CASE WHEN den_x = 0.0 OR den_y = 0.0 THEN 0.0
             ELSE num * num / (den_x * den_y) END AS rho2
         FROM alg)
       SELECT n_a, n_b,
         CAST(floor(theta * 1000000) AS BIGINT) AS theta_1e6,
         CAST(floor((my_b - my_a) * 1000000) AS BIGINT) AS lift_raw_1e6,
         CAST(floor(((my_b - theta * (mx_b - xbar))
           - (my_a - theta * (mx_a - xbar))) * 1000000) AS BIGINT)
           AS lift_adj_1e6,
         CAST(floor(rho2 * 1000000) AS BIGINT) AS var_red_1e6
       FROM th"""

  /** Q64: CUSUM changepoint scan over the daily-revenue series — the
    * classic mean-shift detector (Page 1954): S_t = Σ_{i≤t}(x_i − μ̂),
    * and the day maximizing |S_t| is the changepoint estimate. Exact
    * integer end-to-end: cents series (q60's construction), integer-div
    * quantized mean, bigint prefix sums (|S| ≤ n·max|x−μ| ≈ 2e15 —
    * far inside bigint) — cross-engine bit-identical, no CUSUM
    * "reset/threshold" float tuning. Reports the top-10 |S_t| days
    * (the argmax first), tie-broken on the day key.
    *
    * Shape at scale: daily aggregate (two-phase), then everything is
    * calendar-sized; the prefix window rides the aggregated frame
    * (q48/q55 convention) and the top-10 is a TakeOrdered. */
  def q64Cusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("cents"))
    val mu = daily.agg(expr("sum(cents) div count(1)").as("mu"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(mu))
      .select(datediff($"d", to_date(lit("1970-01-01"))).cast("long").as("day"),
        $"cents", ($"cents" - $"mu").as("dev"))
      .withColumn("s_cusum", sum($"dev").over(w))
      .select($"day", $"cents", $"s_cusum", abs($"s_cusum").as("abs_s"))
      .orderBy($"abs_s".desc, $"day")
      .limit(10)
  }

  def q60Acf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("cents"))
    // integer `div`, not `/` — true division would route the mean
    // through a double (the q54 lesson)
    val mu = daily.agg(expr("sum(cents) div count(1)").as("mu"))
    val d = daily.join(broadcast(mu))
      .select($"day", ($"cents" - $"mu").cast("decimal(19,0)").as("d"))
    val byDay = Window.orderBy($"day")
    val lagged = d.select($"day" +: $"d" +: (1 to 7).map(k =>
      lead($"d", k).over(byDay).as(s"d$k")): _*)
    val den = sum($"d" * $"d")
    lagged
      .agg(den.as("den"),
        (1 to 7).map(k => sum($"d" * col(s"d$k")).as(s"num$k")): _*)
      .select(explode(array((1 to 7).map(k =>
        struct(lit(k).cast("int").as("lag"),
          (floor(col(s"num$k").cast("double") / $"den".cast("double")
            * 10000) / 10000.0).as("acf"))): _*)).as("e"))
      .select($"e.lag", $"e.acf")
      .orderBy($"lag")
  }

  /** Q74: table PROFILING — the ANALYZE-style one-pass stats read
    * (null count, exact distinct count, canonical min/max per column)
    * every catalog/CBO and data-quality gate runs before trusting a
    * table. One wide aggregation over one scan; the long-form output
    * is a column-count-sized explode of the single stats row. Values
    * canonicalize to STRINGS deterministically per type (bigints
    * verbatim, dates as yyyy-MM-dd, money as integer cents) so the
    * DuckDB oracle matches byte-for-byte — no float formatting
    * exposure. Exact distinct counts here (oracle-able; they cost one
    * expand); at 100 TB swap `approx_count_distinct`/q72's HLL
    * sketches per column — same plan shape, sketch-sized state. */
  def q74Profile(s: SparkSession, dir: String): DataFrame =
    profileOf(s, dir, c => countDistinct(c), splitDistinct = true)

  /** Q75: q74's 100 TB twin — the same profile with `n_distinct`
    * served from a per-column Datasketches HLL sketch (q72's
    * machinery) instead of exact `count(DISTINCT …)`. The exact form
    * plans a 6-way Expand of the fact table (the measured 10.2 s at
    * the 20× probe); the sketch form is one pass with fixed
    * per-column state, and the sketches can persist beside the
    * table's partitions for incremental re-profiling (the q72
    * pattern). Estimates engine-specific → rows-only; the spec pins
    * nulls/min/max identical to q74 and every estimate inside the
    * lgK = 14 error band of the exact count. */
  def q75ProfileSketch(s: SparkSession, dir: String): DataFrame =
    // sketch input is the canonical STRING form (injective, so the
    // cardinality is the column's own) — HLL accepts int/long/string/
    // binary but not DATE
    profileOf(s, dir, c => hll_sketch_estimate(hll_sketch_agg(c.cast("string"), 14)),
      splitDistinct = false)

  private def profileOf(s: SparkSession, dir: String,
      distinctAgg: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      splitDistinct: Boolean)
      : DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    // (name, canonical NATIVE expression) per profiled column —
    // min/max aggregate in the native order (a string cast before the
    // aggregate would rank '99' above '149'); stringification happens
    // on the aggregated scalars only
    val cols: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "o_orderkey" -> $"o_orderkey",
      "o_custkey" -> $"o_custkey",
      "o_orderstatus" -> $"o_orderstatus",
      "o_totalprice" -> floor($"o_totalprice" * 100).cast("long"),
      "o_orderdate" -> to_date($"o_orderdate"),
      "o_orderpriority" -> $"o_orderpriority")
    // SPLIT (round 14, q74 only): mixing multi-column count(DISTINCT)
    // with string min/max in ONE aggregation plants the string agg
    // buffers on the 6-way Expand stream, and string buffers force
    // SortAggregate — a 7-key sort of rows×6 expanded rows (the r14
    // before-plan's dominant cost, 3.1 s self-median). Two aggregations
    // instead: the null/min/max stats are a GLOBAL agg over the raw
    // scan (empty grouping — no sort, no Expand), and the Expand
    // stream carries count-only buffers, so its dedup is a pure
    // HashAggregate. One extra scan, both sort-free; output identical.
    // q75's sketch aggregates are ordinary (no Expand) — it keeps the
    // single-pass form.
    val row = if (splitDistinct) {
      val statAggs = cols.flatMap { case (n, c) => Seq(
        (count(lit(1)) - count(c)).as(s"__nn_$n"),
        min(c).cast("string").as(s"__mn_$n"),
        max(c).cast("string").as(s"__mx_$n")) }
      val distAggs = cols.map { case (n, c) =>
        distinctAgg(c).cast("long").as(s"__nd_$n") }
      o.agg(statAggs.head, statAggs.tail: _*)
        .join(broadcast(o.agg(distAggs.head, distAggs.tail: _*)))
    } else {
      val aggs = cols.flatMap { case (n, c) => Seq(
        (count(lit(1)) - count(c)).as(s"__nn_$n"),
        distinctAgg(c).cast("long").as(s"__nd_$n"),
        min(c).cast("string").as(s"__mn_$n"),
        max(c).cast("string").as(s"__mx_$n")) }
      o.agg(aggs.head, aggs.tail: _*)
    }
    row.select(explode(array(cols.map { case (n, _) =>
        struct(lit(n).as("col_name"),
          col(s"__nn_$n").as("n_nulls"),
          col(s"__nd_$n").as("n_distinct"),
          col(s"__mn_$n").as("min_v"),
          col(s"__mx_$n").as("max_v"))
      }: _*)).as("e"))
      .select($"e.col_name", $"e.n_nulls", $"e.n_distinct",
        $"e.min_v", $"e.max_v")
      .orderBy($"col_name")
  }

  /** Q72: mergeable-sketch distinct rollup — the INCREMENTAL-VIEW
    * pattern behind every "daily uniques → weekly/monthly uniques"
    * dashboard at 100 TB: build one Datasketches HLL sketch of
    * user_id per day (a fixed-size binary, stored with the day's
    * partition), then answer the weekly distinct from
    * `hll_union_agg` over SEVEN sketches — no raw-data repass, ever.
    * The day that already shipped never gets rescanned; late data
    * unions in. Register-max merging makes the sketch ORDER- and
    * PARTITIONING-insensitive (deterministic), and merging per-day
    * sketches is identical to sketching the union — the spec pins
    * that identity plus the estimate's error vs exact.
    *
    * Output: per week, the day count, the sketch estimate, and the
    * exact distinct (computed here only to EXHIBIT the error — the
    * production path stores sketches, not users). Estimates are
    * engine-specific (Datasketches) → rows-only. */
  def q72HllRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsWithMs(s, dir)
      .select(expr("ms div 86400000L").as("day"), $"user_id")
    val daily = ev.groupBy($"day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val weeklyEst = daily.groupBy(expr("day div 7L").as("week"))
      .agg(count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est_uniques"))
    val weeklyExact = ev.groupBy(expr("day div 7L").as("week"))
      .agg(countDistinct($"user_id").as("exact_uniques"))
    weeklyEst.join(weeklyExact, "week")
      .select($"week", $"n_days", $"est_uniques", $"exact_uniques")
      .orderBy($"week")
  }

  /** Q69: Holt–Winters ADDITIVE SEASONAL forecasting over daily
    * revenue — q63's level+trend recursion extended with a weekly
    * (m = 7) seasonal state, in the same exact INTEGER fixed point
    * (milli-cent state, α/β/γ = 0.3/0.1/0.2 as integer thousandths,
    * truncating `div` on both engines — the q63-verified semantics):
    *   ŷ_t = l + b + s_head;  l' = (300(y_t·10³ − s_head) + 700(l+b)) div 10³
    *   b' = (100(l'−l) + 900b) div 10³;  s' queue = tail ++ [(200(y_t·10³ − l') + 800·s_head) div 10³]
    * The seasonal state is a 7-slot QUEUE rotated per step (head =
    * s_{t−m}), initialized classically from the first two weeks
    * (l₀ = week-1 mean, b₀ = (week-2 mean − week-1 mean)/7,
    * s_i = y_i − week-1 mean). Bit-identical cross-engine: the oracle
    * replays the recursion as a recursive CTE carrying the seasonal
    * LIST column.
    *
    * Shape at scale: identical to q63 — the one heavy step is the
    * daily aggregation (map-side partials); the recursion folds over
    * ONE calendar-sized array (time-bounded, not data-bounded). */
  def q69HoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("y"))
      .select(datediff($"d", to_date(lit("1970-01-01"))).cast("long").as("day"), $"y")
    val series = daily
      .agg(array_sort(collect_list(struct($"day", $"y"))).as("s"))
      .select($"s",
        expr("aggregate(slice(s, 1, 7), 0L, (a, e) -> a + e.y) div 7L").as("m1"),
        expr("aggregate(slice(s, 8, 7), 0L, (a, e) -> a + e.y) div 7L").as("m2"))
    def fdiv(x: String) = s"($x) div 1000L"
    val sm = "element_at(acc.seas, 1)"
    val newL = fdiv(s"300L * (e.y * 1000L - $sm) + 700L * (acc.l + acc.b)")
    val newB = fdiv(s"100L * (($newL) - acc.l) + 900L * acc.b")
    val newS = fdiv(s"200L * (e.y * 1000L - ($newL)) + 800L * $sm")
    val folded = series.select(expr(s"""
      aggregate(
        slice(s, 8, greatest(size(s) - 7, 0)),
        named_struct(
          'l', m1 * 1000L,
          'b', ((m2 - m1) * 1000L) div 7L,
          'seas', transform(slice(s, 1, 7), e -> (e.y - m1) * 1000L),
          'out', cast(array() as array<struct<day:bigint,y_cents:bigint,fc_cents:bigint>>)),
        (acc, e) -> named_struct(
          'l', $newL,
          'b', $newB,
          'seas', concat(slice(acc.seas, 2, 6), array($newS)),
          'out', concat(acc.out, array(named_struct(
            'day', e.day, 'y_cents', e.y,
            'fc_cents', ${fdiv(s"acc.l + acc.b + $sm")})))),
        acc -> acc.out)""").as("out"))
    folded.select(explode($"out").as("e"))
      .select($"e.day", $"e.y_cents", $"e.fc_cents")
      .orderBy($"day")
  }

  /** Q68: revenue concentration — the Lorenz-curve decile table plus
    * an exact Gini coefficient over per-customer lifetime spend (the
    * "what share of revenue do the top customers hold" readout every
    * commercial analytics stack serves). Deciles ascend by spend
    * (decile 1 = lightest spenders), so `cum_share` IS the Lorenz
    * curve sampled at tenths; Gini comes from the rank-weighted form
    * G = (2·Σ r·xᵣ − (n+1)·Σx) / (n·Σx) with x ascending — one exact
    * integer expression, no area approximation.
    *
    * Exactness: spend is integer cents; the global rank is the
    * DISTRIBUTED `withGlobalRunningSum` of 1 (never a single-partition window —
    * the q49 pattern, OOM-proof at a billion customers); decile
    * boundaries are `tileOf` (bit-exact SQL ntile); and every ratio is
    * a decimal(38,0) integer floor-division — Σ r·x reaches ~10²⁵ at
    * 100 TB scale, past a double's exact range and past bigint, so the
    * rank-weighted sum runs in decimal end-to-end (DuckDB mirrors it
    * in hugeint). Aggregation is one partial-aggregated groupBy over
    * orders, one rank exchange, one 10-row artifact. */
  def q68SpendConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("q68_gini", dir) { sc =>
      val spend = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(sum(expr("cast(floor(o_totalprice * 100) as bigint)")).as("cents"))
      val ranked = withGlobalRunningSum(spend, lit(1L), "r", sc, $"cents", $"o_custkey")
      val tot = ranked.agg(
        count(lit(1)).as("__n"),
        sum($"cents").cast("decimal(38,0)").as("__t"),
        sum($"r".cast("decimal(38,0)") * $"cents").as("__s"))
      val byDec = ranked.join(broadcast(tot))
        .groupBy(tileOf($"r", $"__n", 10).as("decile"))
        .agg(count(lit(1)).as("n_customers"), sum($"cents").as("cents"))
      // 10-row artifact: the cumulative window is bounded, not data-sized
      byDec.join(broadcast(tot))
        .withColumn("cum_cents", sum($"cents").over(
          Window.orderBy($"decile").rowsBetween(Window.unboundedPreceding, 0)))
        .select($"decile", $"n_customers", $"cents",
          (expr("(cast(cents as decimal(38,0)) * 10000) div __t") / 10000.0)
            .as("share"),
          (expr("(cast(cum_cents as decimal(38,0)) * 10000) div __t") / 10000.0)
            .as("cum_share"),
          (expr("((2 * __s - (__n + 1) * __t) * 10000) div " +
            "(cast(__n as decimal(38,0)) * __t)") / 10000.0).as("gini"))
        .orderBy($"decile")
    }
  }

  // ----------------------------------------------------------------
  // Q93: per-group OLS trend slope
  // ----------------------------------------------------------------

  /** Q93: revenue TREND SLOPE per nation — the least-squares line
    * through each nation's weekly revenue series, in cents/week: the
    * "which markets are actually growing, and how fast" number q48's
    * YoY ratio can't give (a ratio has no units and two points; a
    * fitted slope uses every week). slope = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²) over x = week index REBASED to the corpus minimum (keeps
    * every sufficient statistic well inside BIGINT: x ≤ ~350 here,
    * y = weekly cents), y from `round(o_totalprice·100)` — 2-dp
    * doubles land within 1e-9 of an integer, so round is
    * boundary-safe in both engines.
    *
    * Cross-engine exactness: all five sufficient statistics are
    * exact BIGINTs; the slope is the q89 discipline — ONE shared
    * IEEE ratio expression, floor-quantized at 1e2 (floor, not
    * integer division: `div` truncates toward zero while `//` floors,
    * and slopes go NEGATIVE — the mismatch class this repo's floor
    * convention exists to avoid).
    *
    * Shape at scale: broadcast dim chain customer→nation, ONE
    * two-phase aggregate to the (nation, week) grain, one more to
    * the nation grain — no window, no collect beyond the rebase
    * scalar. */
  def q93TrendSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderdate",
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
        expr("datediff(o_orderdate, date'1970-01-01') div 7").as("wk"))
    val minWk = o.agg(min($"wk")).as[Long].head()
    val weekly = o
      .join(Tables.customer(s, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", ($"wk" - minWk).as("x"))
      .agg(sum($"cents").as("y"))
    weekly.groupBy($"n_name")
      .agg(count(lit(1)).as("n_weeks"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sx2"))
      .select($"n_name", $"n_weeks", $"sx", $"sy", $"sxy", $"sx2",
        (floor(($"n_weeks" * $"sxy" - $"sx" * $"sy").cast("double") /
               ($"n_weeks" * $"sx2" - $"sx" * $"sx").cast("double")
          * 100) / 100.0).as("slope_cents_wk"))
      .orderBy($"n_name")
  }

  private[graft] def trendSlopeOracleSql: String =
    """WITH o AS (
         SELECT o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           date_diff('day', DATE '1970-01-01', o_orderdate) // 7 AS wk
         FROM orders),
       mw AS (SELECT min(wk) AS m FROM o),
       weekly AS (
         SELECT n.n_name, o.wk - mw.m AS x,
           CAST(sum(o.cents) AS BIGINT) AS y
         FROM o CROSS JOIN mw
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2),
       st AS (
         SELECT n_name, count(*) AS n_weeks,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sx2
         FROM weekly GROUP BY 1)
       SELECT n_name, n_weeks, sx, sy, sxy, sx2,
         floor(CAST(n_weeks * sxy - sx * sy AS DOUBLE) /
               CAST(n_weeks * sx2 - sx * sx AS DOUBLE) * 100) / 100.0
           AS slope_cents_wk
       FROM st ORDER BY n_name"""

  // ----------------------------------------------------------------
  // Q92: reliability ranking by Wilson lower bound
  // ----------------------------------------------------------------

  /** Q92: supplier RELIABILITY ranking by the WILSON score lower
    * bound (Wilson 1927; the "how not to sort by average rating"
    * estimator) — on-time rate (ship lag ≤ 60 days, q41's boundary)
    * per supplier, ranked by the z = 2 lower confidence bound instead
    * of the raw rate, so a 3-for-3 newcomer ranks below a 950-for-1000
    * veteran instead of above. Top-25 by bound, min-key ties.
    *
    * Cross-engine exactness: (n, k) are exact BIGINTs; the bound is
    * ONE shared IEEE expression — every operation (÷, ×, +, −, sqrt)
    * is correctly rounded and the expression structure is identical
    * in both engines, so the double result is bit-identical (the
    * q52-class discipline, with sqrt's 754 guarantee doing the work
    * p15 also leans on); floor-quantized at 1e6.
    *
    * Shape at scale: one orders⋈lineitem join (both sides hash on
    * the order key) + one supplier-keyed two-phase conditional count
    * + TakeOrdered top-25. The math is per-row scalar arithmetic on
    * the aggregated frame — supplier-cardinality-sized. */
  def q92Reliability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate")
      .join(Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey")
      .select($"l_suppkey",
        when(datediff($"l_shipdate", $"o_orderdate") <= 60, 1L)
          .otherwise(0L).as("ontime"))
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n"), sum($"ontime").as("k"))
    agg.select($"l_suppkey", $"n", $"k",
        expr("k * 10000 div n").as("rate_1e4"),
        expr(WilsonExpr).as("wilson_lb_1e6"))
      .orderBy($"wilson_lb_1e6".desc, $"l_suppkey").limit(25)
  }

  /** The z = 2 Wilson lower bound as one engine-shared expression
    * over BIGINT columns n, k — spelled identically in the oracle so
    * the IEEE evaluation sequence matches step for step. */
  private val WilsonExpr: String =
    """cast(floor(
         ((cast(k as double) / cast(n as double)) + 2.0 / cast(n as double)
          - 2.0 * sqrt((cast(k as double) / cast(n as double))
              * (1.0 - cast(k as double) / cast(n as double)) / cast(n as double)
              + 1.0 / (cast(n as double) * cast(n as double))))
         / (1.0 + 4.0 / cast(n as double)) * 1000000) as bigint)"""

  private[graft] def reliabilityOracleSql: String =
    s"""WITH a AS (
           SELECT l_suppkey, count(*) AS n,
             CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 60
               THEN 1 ELSE 0 END) AS BIGINT) AS k
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1)
         SELECT l_suppkey, n, k,
           (k * 10000) // n AS rate_1e4,
           CAST(floor(
             ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) + 2.0 / CAST(n AS DOUBLE)
              - 2.0 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                  + 1.0 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + 4.0 / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
             AS wilson_lb_1e6
         FROM a
         ORDER BY wilson_lb_1e6 DESC, l_suppkey LIMIT 25"""

  // ----------------------------------------------------------------
  // Q91: conversion-lag distribution
  // ----------------------------------------------------------------

  /** Q91: TIME-TO-CONVERT distribution — for every purchase with a
    * preceding view by the same user, the ms lag from that user's
    * LATEST prior view, summarized per week (q42's integer week
    * buckets — no calendar parity risk): conversion count, exact mean
    * lag, and interpolated quartiles. The funnel-latency view q29/q61
    * (did they convert) doesn't give: HOW LONG conversion takes, the
    * number an SLA or attribution window is tuned against.
    *
    * Cross-engine exactness: the lag is an exact BIGINT; the mean is
    * an exact rational via `div`; the quartiles use interpolation
    * factors 0.25/0.5/0.75 — exactly representable in binary, so
    * a + (b−a)·f over sub-2^50 integers is EXACT in IEEE double in
    * both engines (no q20-class floor-boundary risk) and the ×4
    * quantization is loss-free.
    *
    * Shape at scale: ONE user-keyed window (running last-view carry,
    * rows-frame — state is one value per user, not a buffer), one
    * filter, one two-phase weekly aggregate. The exact percentile
    * buffers one week's conversion lags per group — calendar-bounded
    * groups, the q55-class justification; the streaming funnel twins
    * carry the unbounded-horizon version. */
  /** q91's per-conversion lag intermediate (user, ms, wk, lag_ms) —
    * exposed so the streaming twin's emissions can be spec-compared
    * against the batch semantics row-for-row (see
    * `streaming.LagStream`). */
  private[graft] def q91Lags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weekMs = 7L * 24 * 3600 * 1000
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_id", $"event_type")
      .withColumn("last_view_ms",
        last(when($"event_type" === "view", $"ms"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase" && $"last_view_ms".isNotNull)
      .select($"user_id", $"ms", expr(s"ms div ${weekMs}L").as("wk"),
        ($"ms" - $"last_view_ms").as("lag_ms"))
  }

  def q91ConversionLag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q91Lags(s, dir)
      .groupBy($"wk")
      .agg(count(lit(1)).as("n_conv"),
        expr("sum(lag_ms) div count(1)").as("avg_lag_ms"),
        (floor(expr("percentile(lag_ms, 0.25)") * 4) / 4.0).as("p25_lag_ms"),
        (floor(expr("percentile(lag_ms, 0.5)") * 4) / 4.0).as("p50_lag_ms"),
        (floor(expr("percentile(lag_ms, 0.75)") * 4) / 4.0).as("p75_lag_ms"))
      .orderBy($"wk")
  }

  private[graft] def conversionLagOracleSql: String =
    """WITH e AS (
         SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
           last_value(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END
               IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS last_view_ms
         FROM events),
       lags AS (
         SELECT ms // 604800000 AS wk, ms - last_view_ms AS lag_ms
         FROM e WHERE event_type = 'purchase' AND last_view_ms IS NOT NULL)
       SELECT wk, count(*) AS n_conv,
         CAST(sum(lag_ms) // count(*) AS BIGINT) AS avg_lag_ms,
         floor(quantile_cont(lag_ms, 0.25) * 4) / 4.0 AS p25_lag_ms,
         floor(quantile_cont(lag_ms, 0.5) * 4) / 4.0 AS p50_lag_ms,
         floor(quantile_cont(lag_ms, 0.75) * 4) / 4.0 AS p75_lag_ms
       FROM lags GROUP BY 1 ORDER BY 1"""

  // ----------------------------------------------------------------
  // Q90: Markov removal-effect attribution
  // ----------------------------------------------------------------

  /** Value-iteration budget for q90 — the monotone integer iteration
    * reaches its exact fixed point well inside this (measured: base
    * run stabilizes at round 60/62 at sf0.01/sf0.001, removal runs by
    * 30; the rounds == rounds+1 spec pins it), so the oracle's
    * unrolled tail CTEs are the identity. */
  val AttributionRounds = 80

  /** Micro-unit scale for q90's conversion probabilities. */
  val AttributionScale = 1000000L

  /** Q90: MARKOV removal-effect attribution (Anderl et al. 2014's
    * data-driven alternative to q46's first/last-touch): model each
    * user's event stream as an absorbing Markov chain — states = event
    * types plus START, absorbing CONV (purchase) and NULL (journey end
    * without purchase) — and credit each channel c by its REMOVAL
    * EFFECT: how much the START→CONV absorption probability drops when
    * every walk through c is voided. The question first/last touch
    * can't answer: which touchpoint actually carries the conversion
    * mass.
    *
    * Journeys: a user's history splits at purchases (START → the
    * event after each conversion); the last event of an unconverted
    * journey transitions to NULL. Absorption probabilities by T
    * rounds of value iteration in integer micro-units with per-state
    * floors — V_{t+1}(s) = ⌊Σ_d n(s→d)·V_t(d) / n_s⌋, monotone
    * nondecreasing from 0 and bounded, so it reaches an EXACT integer
    * fixed point (spec-pinned rounds-invariant); the removal run for
    * c pins V(c) = 0. Both engines replay the identical estimator —
    * the oracle unrolls all removal runs as ONE (channel × state)
    * chain. Integer headroom: Σ n·V ≤ n_src·Scale ≤ 1e18 at 1e12
    * transitions per source state; DECIMAL(38) beyond.
    *
    * Shape at scale: the 100 TB work is the transition count — one
    * user-keyed window (lag/lead) + one two-phase (src,dst) aggregate.
    * The chain itself is VOCABULARY-bounded (|event types|+1 states,
    * ≤ K² matrix rows — K-bounded like centroids/pivots), so the
    * solve is a driver-side exact-integer loop on a collected matrix,
    * never a distributed iteration over data-sized state. */
  def q90MarkovAttribution(s: SparkSession, dir: String,
      rounds: Int = AttributionRounds): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
    val e = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .withColumn("nxt", lead($"event_type", 1).over(w))
    val outT = e.filter($"event_type" =!= "purchase")
      .select($"event_type".as("src"),
        when($"nxt".isNull, lit("NULL"))
          .when($"nxt" === "purchase", lit("CONV"))
          .otherwise($"nxt").as("dst"))
    val startT = e.filter($"prev".isNull || $"prev" === "purchase")
      .select(lit("START").as("src"),
        when($"event_type" === "purchase", lit("CONV"))
          .otherwise($"event_type").as("dst"))
    // K-bounded collect: the matrix is |event types|²-sized metadata
    val matrix = outT.unionAll(startT).groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    markovRemovalEffects(s, matrix, rounds)
  }

  /** The q90 solve over a collected transition-count matrix: exact
    * Long value iteration, one base run + one per removable channel. */
  private[graft] def markovRemovalEffects(s: SparkSession,
      matrix: Array[(String, String, Long)], rounds: Int): DataFrame = {
    import s.implicits._
    val bySrc = matrix.groupBy(_._1)
    val nSrc = bySrc.map { case (k, rows) => k -> rows.map(_._3).sum }
    val states = nSrc.keys.toSeq.sorted
    def absorb(removed: Option[String]): Long = {
      var v = states.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        v = states.map { st =>
          st -> (if (removed.contains(st)) 0L
          else bySrc(st).map { case (_, d, n) =>
            n * (d match {
              case "CONV" => AttributionScale
              case "NULL" => 0L
              case dd if removed.contains(dd) => 0L
              case dd => v.getOrElse(dd, 0L)
            })
          }.sum / nSrc(st))
        }.toMap
      }
      v("START")
    }
    val base = absorb(None)
    val rows = states.filter(_ != "START")
      .map(c => (c, base, absorb(Some(c))))
    val tot = rows.map { case (_, b, r) => b - r }.sum
    rows.map { case (c, b, r) =>
      val eff = b - r
      (c, b, r, eff, if (tot == 0) 0L else eff * AttributionScale / tot)
    }.toDF("channel", "conv_base", "conv_removed", "removal_effect",
      "share_1e6").orderBy($"channel")
  }

  private[graft] def markovOracleSql(rounds: Int = AttributionRounds): String = {
    val base = """WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS nxt
           FROM events),
         tr AS (
           SELECT event_type AS src,
             CASE WHEN nxt IS NULL THEN 'NULL'
                  WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END AS dst
           FROM e WHERE event_type <> 'purchase'
           UNION ALL
           SELECT 'START' AS src,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS dst
           FROM e WHERE prev IS NULL OR prev = 'purchase'),
         m AS MATERIALIZED (SELECT src, dst, count(*) AS n FROM tr GROUP BY 1, 2),
         ns AS MATERIALIZED (SELECT src, sum(n) AS n_src FROM m GROUP BY 1),
         st AS (SELECT DISTINCT src AS state FROM m),
         runs AS (SELECT state AS rm FROM st WHERE state <> 'START'
                  UNION ALL SELECT '(none)'),
         v0 AS (SELECT r.rm, s.state, CAST(0 AS BIGINT) AS v
                FROM runs r CROSS JOIN st s)"""
    val iters = (1 to rounds).map { t =>
      s""",
         v$t AS MATERIALIZED (SELECT p.rm, p.state,
           CAST(CASE WHEN p.state = p.rm THEN 0 ELSE
             sum(m.n * (CASE WHEN m.dst = 'CONV' THEN 1000000
                             WHEN m.dst = 'NULL' THEN 0
                             WHEN m.dst = p.rm THEN 0
                             ELSE coalesce(q.v, 0) END)) // max(ns.n_src)
             END AS BIGINT) AS v
           FROM v${t - 1} p
           JOIN m ON m.src = p.state
           JOIN ns ON ns.src = p.state
           LEFT JOIN v${t - 1} q ON q.rm = p.rm AND q.state = m.dst
           GROUP BY p.rm, p.state)"""
    }.mkString
    base + iters + s""",
         eff AS (SELECT r.rm AS channel, b.v AS conv_base,
                   r.v AS conv_removed, b.v - r.v AS removal_effect
                 FROM v$rounds r JOIN v$rounds b
                   ON b.rm = '(none)' AND b.state = 'START'
                 WHERE r.state = 'START' AND r.rm <> '(none)'),
         tot AS (SELECT sum(removal_effect) AS t FROM eff)
         SELECT channel, conv_base, conv_removed, removal_effect,
           CAST(CASE WHEN tot.t = 0 THEN 0
                ELSE (removal_effect * 1000000) // tot.t END AS BIGINT)
             AS share_1e6
         FROM eff CROSS JOIN tot ORDER BY channel"""
  }

  /** Micro-unit scale for q96's coalition conversion rates. */
  val ShapleyScale = 1000000L

  /** Permutation-sample size for the q96 sampled estimator. */
  val ShapleySamples = 64

  /** Q96: SHAPLEY-VALUE attribution (Shapley 1953 via Zhao et al.
    * 2018's coalition formulation) — the game-theoretic upgrade of
    * q90's removal effect: channels are players, a coalition S's
    * value v(S) is the observed conversion rate of journeys whose
    * touched-channel set is exactly S (v(∅) ≡ 0, unobserved sets 0),
    * and channel i is credited its Shapley value
    * φ_i = Σ_{S⊆C\i} |S|!·(K−1−|S|)!/K! · (v(S∪i) − v(S)).
    * Unlike removal effect, φ satisfies the fairness axioms
    * (symmetry, dummy, additivity) — two channels that always appear
    * together get equal credit instead of double-counted drops.
    *
    * Cross-engine exactness: v quantizes to 1e6 micro-units by floor
    * division; φ is carried UN-normalized as φ·K! (every term
    * |S|!·(K−1−|S|)!·Δv is an exact Long product), so both engines
    * replay identical integer algebra — no factorial fractions.
    * Shares are floor-division of the same integers (floorDiv,
    * matching DuckDB's `//` on possibly-negative φ).
    *
    * Shape at scale: the 100 TB work is journey construction — one
    * user-keyed window (running purchase count = journey id) + one
    * (user, journey) aggregate + one coalition-set aggregate. The
    * coalition table is 2^K rows (K = |channels|, VOCABULARY-bounded
    * like q90's transition matrix), so the 2^K subset sum is exact
    * driver-side metadata work. For K beyond ~20 the subset
    * enumeration explodes — that regime is `q96_shapley_sampled`'s
    * seeded permutation estimator (unbiased, m11's pattern). */
  def q96Shapley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val co = shapleyCoalitions(s, dir)
    val chans = co.flatMap(_._1).distinct.sorted
    shapleyExact(s, co, chans)
  }

  /** Coalition stats: for each observed touched-channel SET (sorted),
    * the journey count and conversion count. ≤ 2^K rows collected. */
  private[graft] def shapleyCoalitions(s: SparkSession,
      dir: String): Array[(Seq[String], Long, Long)] = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_id", $"event_type")
      .withColumn("jid",
        count(when($"event_type" === "purchase", 1)).over(w))
    e.groupBy($"user_id", $"jid")
      .agg(
        sort_array(collect_set(
          when($"event_type" =!= "purchase", $"event_type"))).as("chans"),
        max(($"event_type" === "purchase").cast("long")).as("conv"))
      .groupBy($"chans")
      .agg(count(lit(1)).as("n"), sum($"conv").as("c"))
      .as[(Seq[String], Long, Long)].collect()
  }

  /** Floor division over BigInt — DuckDB `//` semantics (floors
    * toward −∞ on mixed signs, where BigInt's `/` truncates toward
    * zero). The driver-side twin of the Spark-side floorDiv. */
  private def bigFloorDiv(a: BigInt, b: BigInt): BigInt = {
    val q = a / b
    if ((a % b).signum != 0 && (a.signum != b.signum)) q - 1 else q
  }

  /** Convert a driver-side BigInt result to the Long the output
    * schema carries — LOUDLY, never a silent wrap (the q86 SigmaGuard
    * discipline applied to plain JVM arithmetic: φ·K! units outgrow
    * Long around K ≈ 14 even when every per-term product is exact). */
  private def bigToLongLoud(x: BigInt, what: String): Long = {
    require(x.isValidLong,
      s"$what = $x exceeds Long — φ·K! units overflow at this K; " +
        "rescale (drop the K! carrying) or report in BigInt/decimal")
    x.toLong
  }

  /** The exact subset-sum Shapley solve over collected coalition
    * stats — 2^K integer driver work, the q90 solve's sibling.
    * φ accumulates in BigInt: fact(sz)·fact(k−1−sz)·Δv wraps Long
    * silently from K ≈ 14 (and φ·Scale from K ≈ 11) — driver-side
    * JVM arithmetic has none of the ANSI-SQL overflow raises, so the
    * exact algebra runs unbounded and only the final Long conversion
    * is guarded (loud, not wrapped). */
  private[graft] def shapleyExact(s: SparkSession,
      co: Array[(Seq[String], Long, Long)],
      chans: Seq[String]): DataFrame = {
    import s.implicits._
    val k = chans.length
    require(k <= 20, s"exact Shapley needs 2^K enumeration; K=$k — use the sampled estimator")
    val bit = chans.zipWithIndex.toMap
    val byMask = co.map { case (set, n, c) =>
      (set.map(ch => 1 << bit(ch)).sum, (n, c))
    }.toMap
    // v(∅) ≡ 0 (Zhao et al.'s grounding); unobserved coalitions 0
    val v: Map[Int, Long] = byMask.collect {
      case (m, (n, c)) if m != 0 => m -> c * ShapleyScale / n
    }
    def fact(n: Int): BigInt = (1 to n).foldLeft(BigInt(1))(_ * _)
    val phis = chans.map { ch =>
      val b = 1 << bit(ch)
      var acc = BigInt(0)
      var sMask = 0
      while (sMask < (1 << k)) {
        if ((sMask & b) == 0) {
          val sz = Integer.bitCount(sMask)
          acc += fact(sz) * fact(k - 1 - sz) *
            BigInt(v.getOrElse(sMask | b, 0L) - v.getOrElse(sMask, 0L))
        }
        sMask += 1
      }
      val nJourneys = byMask.collect {
        case (m, (n, _)) if (m & b) != 0 => n }.sum
      (ch, nJourneys, acc)
    }
    val tot = phis.map(_._3).sum
    phis.map { case (ch, nj, p) =>
      (ch, nj, bigToLongLoud(p, s"phi_kfact($ch)"),
        if (tot.signum == 0) 0L
        else bigToLongLoud(bigFloorDiv(p * ShapleyScale, tot),
          s"share_1e6($ch)"))
    }.toDF("channel", "n_journeys", "phi_kfact", "share_1e6")
      .orderBy($"channel")
  }

  /** Q96 SAMPLED: the permutation-sample Shapley estimator — for K
    * where 2^K enumeration is off the table, φ_i is estimated as the
    * mean marginal contribution of i over M seeded uniform channel
    * permutations (Castro et al. 2009). Deterministic given the seed
    * (splittable counter-based draws, the m11 discipline); UNBIASED:
    * each permutation's marginal term has expectation φ_i exactly,
    * spec-pinned by mean-over-seeds convergence to the exact table.
    * Output is scaled to φ·K! units so the two entries are directly
    * comparable. Rows-only by design (seeded RNG). */
  def q96ShapleySampled(s: SparkSession, dir: String,
      samples: Int = ShapleySamples, seed: Long = 42L): DataFrame = {
    import s.implicits._
    val co = shapleyCoalitions(s, dir)
    val chans = co.flatMap(_._1).distinct.sorted
    shapleySampled(s, co, chans, samples, seed)
  }

  private[graft] def shapleySampled(s: SparkSession,
      co: Array[(Seq[String], Long, Long)], chans: Seq[String],
      samples: Int, seed: Long): DataFrame = {
    import s.implicits._
    val k = chans.length
    val bit = chans.zipWithIndex.toMap
    val byMask = co.map { case (set, n, c) =>
      (set.map(ch => 1 << bit(ch)).sum, (n, c))
    }.toMap
    val v: Map[Int, Long] = byMask.collect {
      case (m, (n, c)) if m != 0 => m -> c * ShapleyScale / n
    }
    def fact(n: Int): BigInt = (1 to n).foldLeft(BigInt(1))(_ * _)
    // splitmix64 finalizer (Steele et al., JDK SplittableRandom): the
    // per-permutation stream seed MUST be avalanche-mixed — a bare
    // linear derivation (seed*c + i) hands java.util.Random
    // sequential internal states whose first few outputs are heavily
    // correlated, which BIASES the permutation distribution (measured:
    // ~20% persistent phi drift on the 4-channel corpus at 3200
    // permutations, vanishing once mixed — counter-based draws, the
    // m11 discipline done properly)
    def mix64(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // marginal sums per channel over M seeded permutations
    val acc = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for (i <- 0 until samples) {
      val rng = new scala.util.Random(mix64(seed * 1000003L + i))
      val perm = rng.shuffle(chans.toVector)
      var m = 0
      perm.foreach { ch =>
        val b = 1 << bit(ch)
        acc(ch) += v.getOrElse(m | b, 0L) - v.getOrElse(m, 0L)
        m |= b
      }
    }
    // scale the mean marginal to φ·K! units: φ̂·K! = (Σ marginals)·K!/M
    // — the ·K! product through BigInt (wraps Long from K ≈ 14, same
    // silent-JVM-arithmetic class as the exact solve's terms)
    val phis = chans.map { ch =>
      val nJourneys = byMask.collect {
        case (m, (n, _)) if (m & (1 << bit(ch))) != 0 => n }.sum
      (ch, nJourneys, bigFloorDiv(BigInt(acc(ch)) * fact(k), BigInt(samples)))
    }
    val tot = phis.map(_._3).sum
    phis.map { case (ch, nj, p) =>
      (ch, nj, bigToLongLoud(p, s"phi_kfact($ch)"),
        if (tot.signum == 0) 0L
        else bigToLongLoud(bigFloorDiv(p * ShapleyScale, tot),
          s"share_1e6($ch)"))
    }.toDF("channel", "n_journeys", "phi_kfact", "share_1e6")
      .orderBy($"channel")
  }

  private[graft] def shapleyOracleSql: String =
    s"""WITH e AS (
           SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
             count(*) FILTER (WHERE event_type = 'purchase') OVER (
               PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS jid
           FROM events),
         chan AS MATERIALIZED (
           SELECT c, CAST(row_number() OVER (ORDER BY c) - 1 AS INTEGER) AS bit
           FROM (SELECT DISTINCT event_type AS c FROM events
                 WHERE event_type <> 'purchase')),
         j AS MATERIALIZED (
           SELECT e.user_id, e.jid,
             coalesce(sum(DISTINCT CASE WHEN ch.bit IS NULL THEN NULL
               ELSE (1 << ch.bit) END), 0) AS mask,
             max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM e LEFT JOIN chan ch ON e.event_type = ch.c
           GROUP BY e.user_id, e.jid),
         vt AS MATERIALIZED (
           SELECT mask, count(*) AS n, sum(conv) AS c,
             CASE WHEN mask = 0 THEN 0
               ELSE (sum(conv) * ${ShapleyScale}) // count(*) END AS vint
           FROM j GROUP BY mask),
         kk AS (SELECT count(*) AS k FROM chan),
         subs AS (SELECT range AS m FROM range(0, 1048576), kk
                  WHERE range >> kk.k = 0),
         sz AS (SELECT subs.m,
             (SELECT count(*) FROM chan ch
              WHERE (subs.m >> ch.bit) & 1 = 1) AS sz
           FROM subs),
         f AS (SELECT * FROM (VALUES (0,1),(1,1),(2,2),(3,6),(4,24),
               (5,120),(6,720),(7,5040),(8,40320),(9,362880),
               (10,3628800)) AS t(n, fct)),
         shap AS (
           SELECT ch.c AS channel,
             sum(f1.fct * f2.fct *
               (coalesce(v1.vint, 0) - coalesce(v0.vint, 0))) AS phi
           FROM chan ch
           JOIN sz ON (sz.m >> ch.bit) & 1 = 0
           CROSS JOIN kk
           JOIN f f1 ON f1.n = sz.sz
           JOIN f f2 ON f2.n = kk.k - 1 - sz.sz
           LEFT JOIN vt v1 ON v1.mask = sz.m | (1 << ch.bit)
           LEFT JOIN vt v0 ON v0.mask = sz.m
           GROUP BY ch.c),
         nj AS (
           SELECT ch.c AS channel, coalesce(sum(vt.n), 0) AS n_journeys
           FROM chan ch LEFT JOIN vt ON (vt.mask >> ch.bit) & 1 = 1
           GROUP BY ch.c),
         tot AS (SELECT sum(phi) AS t FROM shap)
         SELECT shap.channel,
           CAST(nj.n_journeys AS BIGINT) AS n_journeys,
           CAST(shap.phi AS BIGINT) AS phi_kfact,
           CAST(CASE WHEN tot.t = 0 THEN 0
             ELSE (shap.phi * ${ShapleyScale}) // tot.t END AS BIGINT)
             AS share_1e6
         FROM shap JOIN nj ON nj.channel = shap.channel CROSS JOIN tot
         ORDER BY shap.channel"""
}
