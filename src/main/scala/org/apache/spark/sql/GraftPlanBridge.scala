package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}

/** Access to the private[sql] factories between the public API and
  * catalyst: a DataFrame from a rewritten logical plan
  * (`classic.Dataset.ofRows`), and a Column from a hand-built expression
  * (`classic.ExpressionUtils`). */
object GraftPlanBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` without its top-level global sort, for consumers that do not
    * depend on row order (aggregates, grouped pivots). Looks through
    * deterministic `Project`/`Filter` nodes above the sort; any other
    * node, or no sort at all, returns `df` unchanged. A sort that only
    * feeds an order-insensitive consumer still plans a range exchange,
    * and each range exchange runs its own sampling job over the input. */
  def unordered(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
      case s: Sort if s.global => Some(s.child)
      case _: Project | _: Filter if p.expressions.forall(_.deterministic) =>
        strip(p.children.head).map(c => p.withNewChildren(Seq(c)))
      case _ => None
    }
    strip(ds.queryExecution.analyzed).fold(df)(classic.Dataset.ofRows(ds.sparkSession, _))
  }
}
