package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Advanced relational operators: as-of join, bucketed range join,
  * semi-structured (JSON) extraction, cube, exact percentiles.
  *
  * The as-of and range joins are deliberately NOT nested-loop
  * per-row lookups:
  *  - as-of uses the union+ordered-window formulation — one shuffle on
  *    the key, one sort per partition, last_value(ignoreNulls) carries
  *    the most recent right-side row forward. O(n log n) per key
  *    partition and fully streaming, the standard scale formulation.
  *  - range join buckets time into tolerance-sized cells and probes
  *    only the 3 adjacent cells, turning an inequality join into an
  *    equi-join the planner shuffles on (user, cell) — no per-user
  *    quadratic blowup beyond genuinely-close pairs.
  */
object Advanced {

  /** Q16: as-of join — for every purchase, the user's most recent
    * click at-or-before it. Right side deduped to one row per
    * (user, ms) so the at-boundary pick is deterministic. */
  def q16AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsWithMs(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ms", lit(1).as("side"),
        $"event_id", lit(null).cast("long").as("c_ms_in"),
        lit(null).cast("long").as("c_event_id_in"))
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ms")
      .agg(max($"event_id").as("c_event_id"))
      .select($"user_id", $"ms", lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        $"ms".as("c_ms_in"), $"c_event_id".as("c_event_id_in"))
    // right rows sort before left at equal ms (side 0 < 1) → "<=" match
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"side")
      .rowsBetween(Window.unboundedPreceding, 0)
    purchases.unionAll(clicks)
      .withColumn("c_ms", last($"c_ms_in", ignoreNulls = true).over(w))
      .withColumn("c_event_id", last($"c_event_id_in", ignoreNulls = true).over(w))
      .filter($"side" === 1 && $"c_ms".isNotNull)
      .select($"event_id", $"user_id", $"ms", $"c_ms", $"c_event_id")
      .orderBy($"event_id")
  }

  /** Q16 through the custom AsOfJoinExec (plans/AsOfJoinPlan.scala) —
    * same semantics and oracle as the union+window composition, but a
    * single streaming merge per key-partition with O(1) state instead
    * of a union sort + window frame. Both stay in the suite; the bench
    * arbitrates (SURVEY §7). */
  def q16AsofJoinExec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsWithMs(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ms", $"event_id")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ms")
      .agg(max($"event_id").as("c_event_id"))
      .select($"user_id".as("c_user"), $"ms".as("c_ms"), $"c_event_id")
    org.apache.spark.sql.graft.AsOfJoinOps
      .asofJoin(purchases, clicks, "user_id", "c_user", "ms", "c_ms")
      .filter($"c_ms".isNotNull)
      .select($"event_id", $"user_id", $"ms", $"c_ms", $"c_event_id")
      .orderBy($"event_id")
  }

  val RangeToleranceMs: Long = 5L * 60 * 1000

  /** Q17: range self-join — per user, count event pairs within 5
    * minutes of each other, via tolerance-cell bucketing (each left
    * row probes its cell ±1; every qualifying pair matches exactly
    * once because the right row lives in exactly one cell). */
  def q17RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"event_id", $"ms",
        expr(s"ms div ${RangeToleranceMs}L").as("cell"))
    val probes = ev.select($"user_id", $"event_id", $"ms",
      explode(array($"cell" - 1, $"cell", $"cell" + 1)).as("cell"))
    probes.as("a").join(ev.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.cell" === $"b.cell" &&
        $"a.event_id" < $"b.event_id" &&
        abs($"a.ms" - $"b.ms") <= RangeToleranceMs)
      .groupBy($"a.user_id".as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"user_id")
  }

  /** Q26: CORRELATED scalar subquery — orders priced above 1.5× their
    * own customer's average. Written in SQL so Catalyst's
    * decorrelation rewrites the per-row subquery into a grouped
    * aggregate + join (the only shape that runs at scale; a per-row
    * subquery would be an O(n) re-scan per row). The plan audit
    * asserts the decorrelated form. */
  def q26CorrSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders_v o
      WHERE o_totalprice > 1.5 * (
        SELECT avg(o_totalprice) FROM orders_v i WHERE i.o_custkey = o.o_custkey)
      ORDER BY o_orderkey""")
  }

  /** Q27: set operations — customers ordering in both 1995 and 1996
    * (INTERSECT), minus those also ordering in 2001 (EXCEPT). Both
    * plan as hash-dedup joins on the shuffled key, not materialized
    * intermediate sets. */
  def q27SetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def buyers(year: Int) = Tables.orders(s, dir)
      .filter(org.apache.spark.sql.functions.year($"o_orderdate") === year)
      .select($"o_custkey")
    buyers(1995).intersect(buyers(1996)).except(buyers(2001))
      .orderBy($"o_custkey")
  }

  /** Q28: UNPIVOT — wide measure columns to (measure, value) rows,
    * then aggregate. Plans as a single Expand (each input row emits k
    * rows in-task) + one shuffle for the aggregate — no self-union
    * re-scanning the table k times. */
  def q28Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice", $"l_discount")
      .unpivot(Array($"l_returnflag"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        "measure", "value")
      .groupBy($"l_returnflag", $"measure")
      .agg(round(sum($"value"), 2).as("total"))
      .orderBy($"l_returnflag", $"measure")
  }

  /** Q29: funnel analysis — how far each SESSION progresses through
    * the view → click → purchase sequence (in event-time order),
    * counted per reached stage. Composes the q14 session assignment
    * (lag + running sum) with a per-session ordered event-type list;
    * the subsequence match is then a per-row `aggregate` fold over
    * that array — no joins, no self-windows, per-session state is one
    * int. Funnel-per-whole-history saturates (every active user
    * eventually does everything); per-session is the form analysts
    * actually gate on. */
  def q29Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
    val sess = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"event_id", $"ms", $"event_type")
      .withColumn("prev_ms", lag($"ms", 1).over(byUser))
      .withColumn("new_session",
        when($"prev_ms".isNull || $"ms" - $"prev_ms" > Sessionize.SessionGapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    val perSession = sess.groupBy($"user_id", $"session_id")
      .agg(array_sort(collect_list(struct($"ms", $"event_id", $"event_type"))).as("es"))
    val types = transform($"es", _.getField("event_type"))
    val stage = aggregate(types, lit(0), (acc, t) =>
      when(acc === 0 && t === "view", 1)
        .when(acc === 1 && t === "click", 2)
        .when(acc === 2 && t === "purchase", 3)
        .otherwise(acc))
    perSession.select(stage.as("funnel_stage"))
      .groupBy($"funnel_stage")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"funnel_stage")
  }

  /** Q61: time-bounded ordered funnel (the windowFunnel shape): per
    * user, the deepest view → click → purchase chain whose EVERY step
    * falls within six hours of the anchoring view — q29's session
    * funnel counts prefix order inside a gap-defined session; this one
    * is anchored wall-clock attribution (any view can open a window,
    * the chain must close inside it).
    *
    * Exact, collect-free ladder: each level is a user-keyed equi-join
    * with the range condition as a post-join filter — views⋈clicks
    * builds the (user, v_ms, c_ms) chain frame, purchases semi-join
    * against it, and user sets dedupe level by level. Fan-out is
    * per-user views×clicks — bounded by single-user activity (the
    * q30/q43 class), never corpus-sized, and every exchange keys on
    * user_id. A bot user with 10⁵ views and 10⁵ clicks would fan out
    * 10¹⁰ rows inside one join group, which is why the production
    * path is `q61FunnelFold` below: the same answer as a LINEAR
    * per-user state-machine fold. This ladder stays as the oracle-shaped
    * formulation; both entries hash-check against the same SQL. */
  def q61WindowFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 21600000L
    val e = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_type")
    val views = e.filter($"event_type" === "view")
      .select($"user_id", $"ms".as("v_ms"))
    val clicks = e.filter($"event_type" === "click")
      .select($"user_id", $"ms".as("c_ms"))
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ms".as("p_ms"))
    val vc = views.join(clicks, Seq("user_id"))
      .filter($"c_ms" > $"v_ms" && $"c_ms" <= $"v_ms" + w)
    val l1 = views.select($"user_id").distinct()
    val l2 = vc.select($"user_id").distinct()
    val l3 = vc.join(purchases, Seq("user_id"))
      .filter($"p_ms" > $"c_ms" && $"p_ms" <= $"v_ms" + w)
      .select($"user_id").distinct()
    val level = e.select($"user_id").distinct()
      .join(l1.withColumn("l1", lit(1)), Seq("user_id"), "left")
      .join(l2.withColumn("l2", lit(1)), Seq("user_id"), "left")
      .join(l3.withColumn("l3", lit(1)), Seq("user_id"), "left")
      .select($"user_id",
        (coalesce($"l1", lit(0)) + coalesce($"l2", lit(0)) +
         coalesce($"l3", lit(0))).as("funnel_level"))
    level.groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  /** Q61-FOLD: the same windowed funnel as a per-user LINEAR state
    * machine — the production path for the hot-key regime where q61's
    * join ladder would materialize a views×clicks product inside one
    * join group. `flatMapSortedGroups` hands each user's events in
    * (ms, views-last, event_id) order straight off the shuffle sort
    * (no per-user buffer), and the fold carries O(frontier) state:
    * latest view anchor + the Pareto frontier of open (view, click)
    * chains — see graft.streaming.FunnelLogic for the dominance
    * argument. A 30%-one-user stream costs that user's event count,
    * not its views×clicks square. Deterministic
    * and exact: hash-checks against the SAME oracle SQL as q61, and
    * the streaming twin (FunnelStream.funnelUpgrades) folds the
    * identical step function per micro-batch. */
  def q61FunnelFold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.FunnelLogic
    Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_type", $"event_id")
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(
        $"ms", when($"event_type" === "view", 1).otherwise(0), $"event_id") {
        (user: Long, it: Iterator[(Long, Long, String, Long)]) =>
          Iterator.single(
            (user, FunnelLogic.foldLevel(it.map(r => (r._3, r._2)))))
      }
      .toDF("user_id", "funnel_level")
      .groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  /** Q31: string aggregation — the LISTAGG/STRING_AGG shape: per
    * region, the alphabetized nation list as one delimited string.
    * `array_sort(collect_list(...))` keeps it deterministic (a bare
    * string_agg is ordering-dependent and irreproducible). */
  def q31StringAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(concat_ws(",", array_sort(collect_list($"n_name"))).as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy($"r_name")
  }

  /** Q32: calendar grouping — revenue by (year, quarter) of the order
    * date. date_trunc-style parts are codegen scalar functions; the
    * group key stays integer-exact across engines. */
  def q32DateParts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy(year($"o_orderdate").as("o_year"),
        quarter($"o_orderdate").as("o_quarter"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
      .orderBy($"o_year", $"o_quarter")
  }

  val EwmaAlpha = 0.25

  /** Per-user event horizon for the EWMA fold. An event `h` steps back
    * contributes (1−α)^h of its value; at α=0.25 and h=256 that is
    * ~10⁻³², 28 orders of magnitude below the output's 1e-4
    * quantization — the windowed fold is numerically indistinguishable
    * from the full-history one for any bounded value range. */
  val EwmaHorizon = 256

  /** Q30: exponentially-weighted moving average of each user's event
    * values in time order — the time-decay aggregate monitoring
    * pipelines use, folded over the most recent `EwmaHorizon` events.
    *
    * The horizon is what makes this safe on a hot user: the per-user
    * sort happens inside the window operator (a spillable external
    * sort), and only the ≤256-row suffix ever reaches a collect_list
    * buffer or an array value — an unbounded collect_list of the full
    * history would put one hot user's millions of events in one
    * aggregation buffer. The fold itself (`aggregate` seeded with the
    * suffix's first value) is replicated verbatim in the DuckDB oracle
    * over the same suffix, so the result is bit-comparable before the
    * final floor-quantization. */
  def q30Ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recency = Window.partitionBy($"user_id").orderBy($"ms".desc, $"event_id".desc)
    val perUserAll = Window.partitionBy($"user_id")
    val recent = Tables.eventsWithMs(s, dir)
      .select($"user_id", $"ms", $"event_id", $"value")
      .withColumn("rn", row_number().over(recency))
      .withColumn("n_total", count(lit(1)).over(perUserAll))
      .filter($"rn" <= EwmaHorizon)
    val perUser = recent
      .select($"user_id", $"n_total", struct($"ms", $"event_id", $"value").as("e"))
      .groupBy($"user_id")
      .agg(max($"n_total").cast("int").as("n_events"),
        array_sort(collect_list($"e")).as("es"))
      .select($"user_id", $"n_events", transform($"es", _.getField("value")).as("vals"))
    val rest = slice($"vals", lit(2), size($"vals") - 1)
    val ew = aggregate(rest, element_at($"vals", 1),
      (acc, x) => lit(EwmaAlpha) * x + lit(1 - EwmaAlpha) * acc)
    perUser.select($"user_id", $"n_events",
        (floor(ew * 10000) / 10000.0).as("ewma"))
      .orderBy($"user_id")
  }

  /** Q18: semi-structured extraction — pull a typed field out of the
    * JSON `props` column and aggregate on it. get_json_object is a
    * per-row codegen'd path evaluation; no parse-to-struct shuffle. */
  def q18JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(get_json_object($"props", "$.k").cast("int").as("k"), $"value")
      .select(expr("k div 10").as("k_decile"), $"value")
      .groupBy($"k_decile")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
      .orderBy($"k_decile")
  }

  /** Q19: full cube over region × market segment (Expand + one
    * shuffle, grand totals included). */
  def q19Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .cube($"r_name", $"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), round(sum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"r_name".asc_nulls_first, $"c_mktsegment".asc_nulls_first)
  }

  /** Q21: approximate distinct counting (HyperLogLog++) — the
    * constant-memory sketch you use instead of countDistinct when the
    * key cardinality itself is huge. Sketches merge map-side, so the
    * shuffle carries one sketch per group, not the keys. Approximate →
    * rows-only; the spec bounds its error against the exact count. */
  def q21ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
           approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"))
      .orderBy($"l_returnflag")
  }

  /** Q22: moving average — per-user 4-row sliding window over event
    * time. One shuffle on the partition key, streaming frame eval. */
  def q22MovingAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      .rowsBetween(-3, 0)
    // per-row 4-dp pre-quantize, then EXACT integer window sums — an
    // engine-native float window avg accumulates in implementation
    // order (DuckDB slides a subtract-on-exit frame, Spark re-folds),
    // and a result landing on the quantization boundary floors
    // differently (the q52 class of cross-engine flake). Per-row
    // floor() of identical IEEE doubles is engine-identical; integer
    // div of two exact longs is too.
    Tables.eventsWithMs(s, dir)
      .select($"user_id", $"event_id", $"ms", $"value")
      .withColumn("vq", floor($"value" * 10000).cast("long"))
      .withColumn("sq", sum($"vq").over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("mov_avg", expr("sq div cnt") / 10000.0)
      .select($"user_id", $"event_id", $"mov_avg")
      .orderBy($"user_id", $"event_id")
  }

  /** Q23: top-N per group — top-2 parts by revenue within each brand
    * (grouped agg + ranked window + filter, the scalable top-N shape:
    * never a global sort). */
  def q23TopPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .select($"l_partkey", ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("r"))
      .groupBy($"l_partkey").agg(round(sum($"r"), 2).as("revenue"))
      .join(Tables.part(s, dir).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
    val w = Window.partitionBy($"p_brand").orderBy($"revenue".desc, $"p_partkey")
    rev.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 2)
      .select($"p_brand", $"rnk", $"p_partkey", $"revenue")
      .orderBy($"p_brand", $"rnk")
  }

  /** Q25: string-function suite — LIKE pushdown, case/substring
    * manipulation, edit distance. All per-row codegen'd expressions;
    * the LIKE predicates push into the scan as StringContains. */
  def q25StringOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_name".like("%blue%") || $"p_name".like("%red%"))
      .select($"p_partkey",
        upper(substring($"p_name", 1, 8)).as("name8"),
        levenshtein($"p_brand", lit("Brand#13")).as("brand_dist"),
        length($"p_name").as("name_len"),
        concat_ws("/", $"p_brand", $"p_type").as("brand_type"))
      .orderBy($"p_partkey")
  }

  /** Q24: approximate percentiles (Greenwald-Khanna sketch) — the
    * constant-memory alternative to q20's sort when the column is
    * too big to sort per group; sketches merge map-side. The spec
    * bounds error against the exact q20. */
  def q24ApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        expr("approx_percentile(value, 0.25, 1000)").as("p25"),
        expr("approx_percentile(value, 0.5, 1000)").as("p50"),
        expr("approx_percentile(value, 0.9, 1000)").as("p90"))
      .orderBy($"event_type")
  }

  /** Q20: exact percentiles (sort-based, linear interpolation) of
    * event values per type. */
  def q20Percentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        (floor(expr("percentile(value, 0.25)") * 10000) / 10000.0).as("p25"),
        (floor(expr("percentile(value, 0.5)") * 10000) / 10000.0).as("p50"),
        (floor(expr("percentile(value, 0.9)") * 10000) / 10000.0).as("p90"))
      .orderBy($"event_type")
  }
}
