package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{ArrayDot, DotTopK, GramAgg, HilbertIndex, JlProject, MaxRunLength, MinHashAgg, MisraGriesAgg, PqAdcTopK, PqEncode, SimHashAgg, SortedDot, SortedIntersectSize, TopKAgg}

/** Session extensions: registers graft's native Catalyst expressions
  * so they resolve in both the Column DSL (`call_function`) and SQL.
  * Wired by `GraftSession.builder` via `withExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.{arity, intLit}

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, cls: Class[_], build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // own runtime row-level filtering but does NOT register them in the
    // FunctionRegistry — expose them so d9's explicit scan-side bloom
    // prefilter can be written declaratively (same binary format as
    // the optimizer's injected filters).
    register("bloom_filter_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      c => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        c(0), c(1), c(2)).toAggregateExpression())
    register("might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      c => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(c(0), c(1)))
    register("array_dot", classOf[ArrayDot], c => ArrayDot(c(0), c(1)))
    // jl_project(arr, inDim, outDim): seeded ±1 projection as ONE
    // loop-codegen expression (the s14 64 KB-fallback fix); the md5
    // sign matrix is built at plan time from the two dims.
    register("jl_project", classOf[JlProject], c => {
      arity("jl_project(arr, inDim, outDim)", c)
      def dim(i: Int, name: String): Int = intLit("jl_project", name,
        "the sign matrix is built at plan time", 1, Int.MaxValue, c(i))
      JlProject(c(0), JlProject.signs(dim(1, "inDim"), dim(2, "outDim")))
    })
    // hilbert_xy2d(x, y, bits): 2-D Hilbert-curve index as one
    // loop-codegen expression (z4's layout key); bits sizes the
    // generated loop at plan time.
    register("hilbert_xy2d", classOf[HilbertIndex], c => {
      arity("hilbert_xy2d(x, y, bits)", c)
      HilbertIndex(c(0), c(1), intLit("hilbert_xy2d", "bits",
        "it sizes the generated loop at plan time", 1, 31, c(2)))
    })
    register("simhash_agg", classOf[SimHashAgg], c => SimHashAgg(c.head).toAggregateExpression())
    register("topk_agg", classOf[TopKAgg], c => {
      arity("topk_agg(score, id, k)", c)
      intLit("topk_agg", "k", "it sizes the aggregation buffer", 1, Int.MaxValue, c(2))
      TopKAgg(c(0), c(1), c(2)).toAggregateExpression()
    })
    register("misra_gries_agg", classOf[MisraGriesAgg],
      c => MisraGriesAgg(c(0), c(1)).toAggregateExpression())
    register("minhash_agg", classOf[MinHashAgg], c => MinHashAgg(c.head).toAggregateExpression())
    register("sorted_intersect_size", classOf[SortedIntersectSize],
      c => SortedIntersectSize(c(0), c(1)))
    register("sorted_dot", classOf[SortedDot], c => SortedDot(c(0), c(1), c(2), c(3)))
    register("dot_topk", classOf[DotTopK], c => {
      arity("dot_topk(q, ids, flat, k)", c)
      DotTopK(c(0), c(1), c(2),
        intLit("dot_topk", "k", "it sizes the result at plan time", 1, Int.MaxValue, c(3)))
    })
    register("pq_encode", classOf[PqEncode], c => {
      arity("pq_encode(v, codebook, m, k)", c)
      def size(i: Int, name: String): Int = intLit("pq_encode", name,
        "the codebook layout is fixed at plan time", 1, Int.MaxValue, c(i))
      PqEncode(c(0), c(1), size(2, "m"), size(3, "k"))
    })
    register("pq_adc_topk", classOf[PqAdcTopK], c => {
      arity("pq_adc_topk(q, ids, codes, codebook, m, k, topk)", c)
      def size(i: Int, name: String): Int = intLit("pq_adc_topk", name,
        "the codebook layout and result size are fixed at plan time", 1, Int.MaxValue, c(i))
      PqAdcTopK(c(0), c(1), c(2), c(3), size(4, "m"), size(5, "k"), size(6, "topk"))
    })
    // gram_agg(qv, d): upper-triangular Σ q·qᵀ in one buffer; d sizes
    // the aggregation buffer at plan time
    register("gram_agg", classOf[GramAgg], c => {
      arity("gram_agg(qv, d)", c)
      GramAgg(c(0), intLit("gram_agg", "d",
        "it sizes the aggregation buffer at plan time", 1, 4096, c(1))).toAggregateExpression()
    })
    register("max_run_length", classOf[MaxRunLength], c => MaxRunLength(c.head))
    ext.injectOptimizerRule(_ => FuseArrayDot)
    ext.injectOptimizerRule(_ => SortLocalRelation)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** The one argument check of the registered functions whose trailing
  * arguments size generated code, buffers or results: the builder
  * checks the call's arity and that each such argument is a non-NULL
  * INT literal in its domain, so a bad call fails analysis with an
  * `AnalysisException` naming the argument — never an
  * IndexOutOfBoundsException, a ClassCastException or an internal
  * "cannot evaluate" error at execution. */
object GraftExtensions {
  private def fail(msg: String): Nothing = throw new AnalysisException(
    "_LEGACY_ERROR_TEMP_2273", Map("message" -> msg))

  /** `children` has as many arguments as `signature` ("f(a, b)") names. */
  private[plans] def arity(signature: String, children: Seq[Expression]): Unit = {
    val n = signature.count(_ == ',') + 1
    if (children.length != n)
      fail(s"$signature takes $n arguments, got ${children.length}")
  }

  /** The value of `c`, argument `name` of `fn`, which must be an INT
    * literal in [lo, hi]; `why` says what the value fixes. */
  private[plans] def intLit(fn: String, name: String, why: String, lo: Int, hi: Int,
      c: Expression): Int = {
    if (!c.foldable || c.dataType != IntegerType)
      fail(s"$fn: $name must be an INT literal ($why), got ${c.sql}: ${c.dataType.sql}")
    val v = c.eval()
    if (v == null) fail(s"$fn: $name must not be NULL")
    val i = v.asInstanceOf[Int]
    if (i < lo || i > hi) fail(s"$fn: $name must be in [$lo, $hi], got $i")
    i
  }
}
