package graft

import org.apache.spark.sql.functions._

/** Structural invariants for the analytic-SQL surface (q36–q42); the
  * DuckDB hash compare is the value-level gate. */
class AnalyticsSpec extends GraftSpecBase {
  import spark.implicits._
  import graft.operators.Analytics

  test("q36: grand total row aggregates every order; grouping flags label levels") {
    val rows = Analytics.q36GroupingSets(spark, sf).cache()
    val total = Tables.orders(spark, sf).count()
    val grand = rows.filter($"g_status" === 1 && $"g_priority" === 1).collect()
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") == total)
    // per-status subtotals sum to the grand total
    val subSum = rows.filter($"g_status" === 0 && $"g_priority" === 1)
      .agg(sum($"n_orders")).as[Long].head()
    assert(subSum == total)
    // detail rows carry real (non-null) keys
    assert(rows.filter($"g_priority" === 0 && $"o_orderpriority".isNull).count() == 0)
    rows.unpersist()
  }

  test("q38: quartiles in 1..4, distributions in [0,1], cume reaches 1 per segment") {
    val rows = Analytics.q38WindowSuite(spark, sf).cache()
    assert(rows.filter($"quartile" < 1 || $"quartile" > 4).count() == 0)
    assert(rows.filter($"pct_rank" < 0.0 || $"pct_rank" > 1.0).count() == 0)
    val maxCume = rows.groupBy($"c_mktsegment").agg(max($"cume").as("m"))
    assert(maxCume.filter($"m" =!= 1.0).count() == 0)
    rows.unpersist()
  }

  test("q39: trailing-30d window always contains the row's own order") {
    val rows = graft.operators.Analytics.q39RangeFrame(spark, sf)
      .join(Tables.orders(spark, sf), Seq("o_orderkey"))
    assert(rows.filter($"trailing_30d" < $"o_totalprice" - 0.01).count() == 0)
  }

  test("q40: extracted priority fields partition all orders") {
    val rows = Analytics.q40RegexpExtract(spark, sf).cache()
    assert(rows.agg(sum($"n_orders")).as[Long].head() == Tables.orders(spark, sf).count())
    assert(rows.filter($"prio_level".isNull || $"prio_word" === "").count() == 0)
    rows.unpersist()
  }

  test("q37: moment statistics agree with their first-principles forms") {
    val rows = Analytics.q37StatsSuite(spark, sf).cache()
    // every flag present, counts partition the table
    assert(rows.agg(sum($"n_rows")).as[Long].head() == Tables.lineitem(spark, sf).count())
    // corr bounded; variance and stddev non-negative
    assert(rows.filter($"corr_qty_price" < -1.0 || $"corr_qty_price" > 1.0).count() == 0)
    assert(rows.filter($"var_qty" < 0.0 || $"sd_price" < 0.0).count() == 0)
    // spot-check one group against the naive two-pass formula
    import org.apache.spark.sql.Row
    val li = Tables.lineitem(spark, sf).filter($"l_returnflag" === "N")
      .select($"l_quantity").as[Double].collect()
    val mean = li.sum / li.length
    val varNaive = li.map(q => (q - mean) * (q - mean)).sum / (li.length - 1)
    val varSpark = rows.filter($"l_returnflag" === "N").select($"var_qty").as[Double].head()
    assert(math.abs(varNaive - varSpark) < 1e-3, s"$varNaive vs $varSpark")
    rows.unpersist()
  }

  test("q41: ship lag is positive-mean and slow ratio is a proper fraction") {
    val rows = Analytics.q41ShipDelay(spark, sf).cache()
    assert(rows.agg(sum($"n_items")).as[Long].head() == Tables.lineitem(spark, sf).count())
    assert(rows.filter($"slow_ratio" < 0.0 || $"slow_ratio" > 1.0).count() == 0)
    assert(rows.filter($"o_month" < 1 || $"o_month" > 12).count() == 0)
    rows.unpersist()
  }

  test("q43: pairs are canonical-ordered and a spot pair's count matches a direct recount") {
    val rows = graft.operators.Analytics.q43Cooccur(spark, sf).cache()
    assert(rows.count() <= 20)
    assert(rows.filter($"part_a" >= $"part_b").count() == 0)
    // counts are non-increasing in presentation order
    val ns = rows.select($"n_orders").as[Long].collect()
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // recount the top pair from the raw table
    val top = rows.head()
    val (pa, pb) = (top.getAs[Long]("part_a"), top.getAs[Long]("part_b"))
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct()
    val direct = li.filter($"l_partkey" === pa).select($"l_orderkey")
      .intersect(li.filter($"l_partkey" === pb).select($"l_orderkey")).count()
    assert(direct == top.getAs[Long]("n_orders"))
    rows.unpersist()
  }

  test("q44: spine is dense per user, cum matches totals, gaps flag exactly the zero days") {
    val rows = graft.operators.Analytics.q44GapFill(spark, sf).cache()
    // dense spine: per user, rows == max(day)-min(day)+1 and all days distinct
    val span = rows.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), (max($"day") - min($"day") + 1).as("expect"),
        countDistinct($"day").as("nd"), max($"cum_events").as("cum_last"),
        sum($"n_events").as("tot"))
    assert(span.filter($"n" =!= $"expect" || $"nd" =!= $"n").count() == 0)
    // cumulative sum ends at the user's total
    assert(span.filter($"cum_last" =!= $"tot").count() == 0)
    // zero-filled rows are exactly the flagged gaps
    assert(rows.filter(($"n_events" === 0) =!= ($"is_gap" === 1)).count() == 0)
    // every original event lands: totals match the raw table
    val total = rows.agg(sum($"n_events")).as[Long].head()
    assert(total == Tables.events(spark, sf).count())
    rows.unpersist()
  }

  test("p6: allocation spends the budget exactly and stays within one token of proportional") {
    val rows = graft.operators.Sampling.p6MixAllocate(spark, sf).cache()
    val budget = graft.operators.Sampling.MixBudget
    assert(rows.agg(sum($"alloc_tokens")).as[Long].head() == budget)
    val t = rows.agg(sum($"n_tok")).as[Long].head().toDouble
    val off = rows.select($"alloc_tokens".cast("double") -
        lit(budget.toDouble) * $"n_tok".cast("double") / lit(t)).as[Double].collect()
    assert(off.forall(d => d > -1.0 && d < 1.0), off.mkString(","))
    rows.unpersist()
  }

  test("q45: buckets partition the table and shares are a sub-unit fraction") {
    val rows = graft.operators.Analytics.q45Histogram(spark, sf).cache()
    assert(rows.agg(sum($"n_items")).as[Long].head() ==
      Tables.lineitem(spark, sf).count())
    assert(rows.filter($"bucket" < 0 || $"bucket" > 19).count() == 0)
    val shareSum = rows.agg(sum($"share")).as[Double].head()
    assert(shareSum > 0.99 && shareSum <= 1.0 + 1e-9, s"share sum $shareSum")
    rows.unpersist()
  }

  test("q46: one row per user; touches are real event types; counts partition events") {
    val rows = graft.operators.Analytics.q46Attribution(spark, sf).cache()
    val users = Tables.events(spark, sf).select($"user_id").distinct().count()
    assert(rows.count() == users)
    assert(rows.filter($"first_touch".isNull || $"last_touch".isNull).count() == 0)
    assert(rows.agg(sum($"n_events")).as[Long].head() ==
      Tables.events(spark, sf).count())
    assert(rows.filter($"n_purchases" > $"n_events").count() == 0)
    // single-event users must have first == last
    assert(rows.filter($"n_events" === 1 && $"first_touch" =!= $"last_touch").count() == 0)
    rows.unpersist()
  }

  test("q49: distributed rfm tiles equal single-window ntile exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the whole point of ntileBoundaries is replacing the
    // single-partition ntile window WITHOUT changing one tile
    val got = operators.Analytics.q49Rfm(spark, sf)
      .select($"o_custkey", $"rfm_segment").as[(Long, String)].collect().toMap
    val per = Tables.orders(spark, sf)
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate").as("last_dt"), count(lit(1)).as("frequency"),
        round(sum($"o_totalprice"), 2).as("monetary"))
      .join(broadcast(Tables.orders(spark, sf)
        .agg(max($"o_orderdate").as("corpus_max"))))
      .select($"o_custkey", $"frequency", $"monetary",
        datediff($"corpus_max", $"last_dt").as("recency_days"))
    val want = per
      .withColumn("rt", ntile(4).over(Window.orderBy($"recency_days", $"o_custkey")))
      .withColumn("ft", ntile(4).over(Window.orderBy($"frequency".desc, $"o_custkey")))
      .withColumn("mt", ntile(4).over(Window.orderBy($"monetary".desc, $"o_custkey")))
      .select($"o_custkey", concat_ws("-", $"rt", $"ft", $"mt").as("seg"))
      .as[(Long, String)].collect().toMap
    assert(got.nonEmpty && got == want)
  }

  test("q48: yoy ratios start null per nation and revenues partition total sales") {
    val rows = graft.operators.Analytics.q48YoyGrowth(spark, sf).cache()
    // exactly one null-ratio row (the first year) per nation
    val firsts = rows.filter($"yoy_ratio".isNull).groupBy($"n_name").count()
    assert(firsts.filter($"count" =!= 1).count() == 0)
    // yearly revenues sum back to the total order book (rounding-scale tolerance)
    val total = rows.agg(sum($"revenue")).as[Double].head()
    val expect = Tables.orders(spark, sf).agg(sum($"o_totalprice")).as[Double].head()
    assert(math.abs(total - expect) < 1.0, s"$total vs $expect")
    // a spot nation-year recomputes: ratio == revenue / previous year
    val one = rows.filter($"yoy_ratio".isNotNull).head()
    val (nm, yr) = (one.getAs[String]("n_name"), one.getAs[Int]("o_year"))
    val prev = rows.filter($"n_name" === nm && $"o_year" === yr - 1)
      .select($"revenue").as[Double].head()
    val expect2 = math.floor(one.getAs[Double]("revenue") / prev * 10000) / 10000.0
    assert(one.getAs[Double]("yoy_ratio") == expect2)
    rows.unpersist()
  }

  test("q42: every cohort starts at offset 0 and offsets are non-negative") {
    val rows = Analytics.q42CohortRetention(spark, sf).cache()
    assert(rows.filter($"wk_offset" < 0).count() == 0)
    val cohorts = rows.select($"cohort_wk").distinct().count()
    val starts = rows.filter($"wk_offset" === 0).count()
    assert(starts == cohorts)
    rows.unpersist()
  }
}
