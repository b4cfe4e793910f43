package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `array<float>` embeddings.
  *
  * All math is promoted to double and accumulated in list order
  * (`aggregate` folds left-to-right), which keeps results IEEE-exact
  * and engine-reproducible. Pure `functions._` compositions — no UDF,
  * no serialization; the whole dot product stays in codegen.
  */
object VectorFunctions {

  /** Cast array<float> → array<double> (exact). */
  def toDoubles(v: Column): Column = transform(v, _.cast("double"))

  /** Index-ordered dot product of two double arrays — the native
    * `ArrayDot` codegen expression (registered by GraftExtensions);
    * bit-identical to a left-fold `aggregate(zip_with(...))` but with
    * no per-row array allocation. */
  def dot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  /** The composition-based dot product (reference implementation —
    * the spec asserts `dot` matches it bitwise). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** `v / nrm` elementwise, with a zero-norm guard: dividing by 1 keeps
    * the zero vector the zero vector instead of NaN (one NaN would
    * poison every max/sum it reaches). `nrm` is a materialized norm
    * column, so the lambda never re-evaluates a dot per element. */
  def unitScaled(v: Column, nrm: Column): Column =
    transform(v, x => x / when(nrm === 0.0, 1.0).otherwise(nrm))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, 0.0).otherwise(d / nn)
  }

  /** Engine-independent 4-decimal quantization (see TextAnalysis
    * quality note: floor of identical IEEE doubles, unlike round, is
    * implementation-independent). */
  def q4(c: Column): Column = floor(c * 10000) / 10000.0

  /** Indices of the top-`n` values of a double-array column,
    * descending — the probe selector for IVF-style search. */
  def topIndicesDesc(arr: Column, n: Int): Column = {
    val paired = zip_with(arr, sequence(lit(0), size(arr) - 1),
      (v, i) => struct(v.as("v"), i.as("i")))
    slice(reverse(array_sort(paired)), 1, n).getField("i")
  }
}
