package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InterpretedOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Sorts driver-local rows on the driver: `Sort` over a `LocalRelation`
  * becomes a `LocalRelation` of the sorted rows, and the same pass runs
  * Spark's `ConvertToLocalRelation`, so a `Limit` or `Project` above the
  * sort folds away too. Spark folds `Filter`, `Project` and `Limit` over
  * local rows but not `Sort`; without this rule an `orderBy … limit` over
  * the store's driver-read files ([[graft.ingest.TableStore]]) plans a
  * `TakeOrderedAndProject` that runs a Spark job to sort a few hundred
  * rows. With it, such a read collects without scheduling any job.
  *
  * Only global sorts of batch relations are folded, and only orderings
  * whose expressions can be evaluated row by row. A partition-local sort
  * (`sortWithinPartitions`, or the one a partitioned file write plans
  * before its writer) is left to Spark: sorting the whole relation would
  * change which rows each write task receives.
  */
object LocalSortFold extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = ConvertToLocalRelation(plan transformUp {
    case Sort(order, true, LocalRelation(output, data, false, stream), _)
        if order.forall(o => o.child.deterministic &&
          !o.child.exists(e => e.isInstanceOf[Unevaluable] && !e.isInstanceOf[AttributeReference])) =>
      LocalRelation(output, data.sorted(new InterpretedOrdering(order, output)), false, stream)
  })

  /** Add the rule to the session's extra optimizations once (idempotent,
    * the way [[TxidIndexPruneRule.install]] is). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(LocalSortFold))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ LocalSortFold
}
