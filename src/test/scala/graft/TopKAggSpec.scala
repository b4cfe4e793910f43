package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKAggSpec extends GraftSpecBase {

  test("topk_agg equals window row_number top-k, including ties") {
    import spark.implicits._
    // deterministic synthetic groups with repeated scores (tie cases)
    val df = spark.range(0, 5000)
      .select(($"id" % 37).as("g"), (pmod(xxhash64($"id"), lit(50)) / 10.0).as("score"),
        $"id".as("item"))
      .cache()
    val agg = df.groupBy($"g")
      .agg(call_function("topk_agg", $"score", $"item", lit(5)).as("top"))
      .select($"g", posexplode($"top").as(Seq("pos", "rec")))
      .select($"g", ($"pos" + 1).as("rnk"), $"rec.id".as("item"), $"rec.score".as("score"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"item")
    val win = df.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"g", $"rnk", $"item", $"score")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(agg == win)
    df.unpersist()
  }

  test("topk_agg ranks NaN scores first, matching the window's descending order") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 10L), (1L, Double.NaN, 11L), (1L, 2.0, 12L), (1L, 0.5, 13L))
      .toDF("g", "score", "item")
    val agg = df.groupBy($"g")
      .agg(call_function("topk_agg", $"score", $"item", lit(2)).as("top"))
      .select(posexplode($"top").as(Seq("pos", "rec")))
      .select($"rec.id").as[Long].collect().toSeq
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"item")
    val win = df.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 2)
      .orderBy($"rnk").select($"item").as[Long].collect().toSeq
    assert(agg == win && agg.head == 11L)
  }

  test("topk_agg treats -0.0 and 0.0 as equal scores, tie-breaking by id") {
    import spark.implicits._
    // raw Double.compare orders -0.0 < 0.0; Spark's sort comparator
    // treats them equal and the window tie-breaks by id — the id with
    // the -0.0 score must still win rank 1 when its id is smaller
    val df = Seq((1L, 0.0, 20L), (1L, -0.0, 10L), (1L, -1.0, 30L))
      .toDF("g", "score", "item")
    val agg = df.groupBy($"g")
      .agg(call_function("topk_agg", $"score", $"item", lit(2)).as("top"))
      .select(posexplode($"top").as(Seq("pos", "rec")))
      .select($"rec.id").as[Long].collect().toSeq
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"item")
    val win = df.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 2)
      .orderBy($"rnk").select($"item").as[Long].collect().toSeq
    assert(agg == win && agg == Seq(10L, 20L))
  }

  test("topk_agg rejects a wrong arity or a k that is not a positive INT literal at analysis") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 10L, 2)).toDF("g", "score", "item", "k")
    def err(args: org.apache.spark.sql.Column*): String = intercept[AnalysisException] {
      df.groupBy($"g").agg(call_function("topk_agg", args: _*))
    }.getMessage
    val arity = err($"score", $"item")
    assert(arity.contains("topk_agg(score, id, k) takes 3 arguments, got 2"), arity)
    val column = err($"score", $"item", $"k")
    assert(column.contains("topk_agg: k must be an INT literal"), column)
    val zero = err($"score", $"item", lit(0))
    assert(zero.contains("topk_agg: k must be in [1,"), zero)
  }

  test("topk_agg with k larger than the group returns the whole group ranked") {
    import spark.implicits._
    val df = Seq((1L, 3.0, 10L), (1L, 1.0, 11L), (2L, 2.0, 12L)).toDF("g", "score", "item")
    val got = df.groupBy($"g")
      .agg(call_function("topk_agg", $"score", $"item", lit(5)).as("top"))
      .select($"g", posexplode($"top").as(Seq("pos", "rec")))
      .select($"g", $"rec.id", $"rec.score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 10L, 3.0), (1L, 11L, 1.0), (2L, 12L, 2.0)))
  }
}
