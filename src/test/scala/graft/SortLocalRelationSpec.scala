package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

import graft.plans.SortLocalRelation

/** `SortLocalRelation`: a global sort over driver-local rows folds into
  * the relation at optimize time, row for row what the distributed
  * sort returns, so a driver-local result runs as one local scan. */
class SortLocalRelationSpec extends GraftSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("k", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType)))

  // every ordering below ends on the unique id, so it is total: rows
  // that tie on the tested keys (−0.0 and 0.0, two NaNs, nulls, equal
  // strings) must come out in the same order from both plans
  private val rows = Seq(
    Row(1, 2, 0.0, "b"), Row(2, null, -0.0, "a"), Row(3, 1, Double.NaN, null),
    Row(4, 2, Double.NegativeInfinity, "ab"), Row(5, null, null, "B"),
    Row(6, 1, 1.5, ""), Row(7, 3, Double.NaN, "b"), Row(8, 2, -1.5, "é"),
    Row(9, 1, Double.PositiveInfinity, "a"), Row(10, 3, null, "aa"),
    Row(11, null, 0.0, null), Row(12, 2, -0.0, "b"))

  private def local: DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // the same rows in three partitions: the sort runs distributed
  private def distributed: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private val orderings: Seq[(String, Seq[Column])] = Seq(
    "multi-key asc" -> Seq($"k", $"d", $"id"),
    "desc, nulls first and last" -> Seq($"k".desc_nulls_first, $"d".asc_nulls_last, $"id"),
    "doubles desc: NaN greatest, -0.0 == 0.0" -> Seq($"d".desc, $"id"),
    "doubles asc, nulls first" -> Seq($"d".asc_nulls_first, $"id".desc),
    "strings" -> Seq($"s".asc_nulls_last, $"id"),
    "strings desc, then keys" -> Seq($"s".desc_nulls_first, $"k".desc, $"id"))

  test("a global sort over local rows folds into the relation, rows as the distributed sort") {
    orderings.foreach { case (name, order) =>
      val folded = local.orderBy(order: _*)
      val plan = folded.queryExecution.optimizedPlan
      assert(plan.isInstanceOf[LocalRelation], s"$name: not folded\n$plan")
      val expected = distributed.orderBy(order: _*)
      assert(expected.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]), name)
      val (got, want) = (folded.collect().toSeq, expected.collect().toSeq)
      // ids first: Row equality cannot tell -0.0 from 0.0
      assert(got.map(_.getInt(0)) == want.map(_.getInt(0)), name)
      assert(got == want, name)
    }
  }

  test("a per-partition sort, a streaming relation, a non-deterministic or a subquery key are left alone") {
    val within = local.sortWithinPartitions($"k").queryExecution.optimizedPlan
    assert(within.collectFirst { case s: Sort => s }.exists(!_.global), within.toString)
    val r = local.queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    def sorted(rel: LocalRelation, key: SortOrder) = Sort(Seq(key), global = true, rel)
    val byK = SortOrder(r.output(1), Ascending)
    // the rule fires on the batch relation and is a no-op on its twins
    assert(SortLocalRelation(sorted(r, byK)).isInstanceOf[LocalRelation])
    val streaming = sorted(r.copy(isStreaming = true), byK)
    assert(SortLocalRelation(streaming) == streaming)
    val random = sorted(r, SortOrder(Rand(Literal(7L)), Ascending))
    assert(SortLocalRelation(random) == random)
    // a scalar subquery has no value until the plan runs
    local.createOrReplaceTempView("slr_rows")
    val bySub = spark.sql(
      "SELECT id FROM slr_rows ORDER BY k + (SELECT max(id) FROM range(3)) NULLS LAST, id")
    assert(bySub.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]))
    assert(bySub.as[Int].collect().toSeq ==
      local.orderBy($"k".asc_nulls_last, $"id").select($"id").as[Int].collect().toSeq)
    spark.catalog.dropTempView("slr_rows")
  }

  test("q53_pagerank at sf0.001 executes with no exchange and no sort") {
    val df = SparkEntry.queries("q53_pagerank")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(collect(p) { case e: Exchange => e }.isEmpty, p.toString)
    assert(collect(p) { case s: SortExec => s }.isEmpty, p.toString)
  }

  test("with the gated pair list memoized, each local graph entry runs as one job") {
    Caches.clear()
    assert(operators.GraphLocal.halfPairsUnderGate(spark, sf).isDefined,
      "sf0.001 must take the local endgame")
    Seq("q53_pagerank", "q66_kcore", "q76_core_numbers", "q80_weighted_pagerank",
        "q81_label_prop", "q85_sssp").foreach { name =>
      val jobs = jobsDuring(SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save())
      assert(jobs == 1, s"$name launched $jobs jobs")
    }
    Caches.clear()
    Caches.drainBuildLog()
  }
}
