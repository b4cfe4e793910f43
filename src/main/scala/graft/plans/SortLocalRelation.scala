package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, RowOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: a global `Sort` over rows already on the driver
  * becomes those rows, sorted. Spark's `ConvertToLocalRelation` folds
  * `Project`, `Filter` and `Limit` over a `LocalRelation` the same way
  * but leaves `Sort`, so a `Seq(...).toDF(...).orderBy(...)` result
  * of a few dozen rows plans as a range-partition sample, a shuffle
  * and a sort — three jobs — instead of one local scan.
  *
  * Sound because `RowOrdering` is the ordering `SortExec` compares by
  * (nulls first/last, NaN greatest, −0.0 == 0.0); rows that tie keep
  * their input order, which a distributed sort does not promise
  * either. Left alone: a per-partition sort (`global = false`), a
  * streaming relation, and any order with a non-deterministic or
  * unevaluable key. Injected by GraftExtensions.
  */
object SortLocalRelation extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Sort(order, true, r: LocalRelation, _)
      if !r.isStreaming && order.forall(o => o.deterministic &&
        !o.child.exists(e => e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference])) =>
      r.copy(data = r.data.sorted(RowOrdering.create(order, r.output)))
  }
}
