package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Build-time extension entry point:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or: spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Installs the binned-range-join operator (marker function +
  * optimizer rule) and the small-sort planner strategy.
  * [[graft.plans.RangeJoin.register]] and
  * [[graft.plans.SmallSort.register]] are the equivalent runtime hooks
  * for sessions built elsewhere.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_range_join"),
      new ExpressionInfo(classOf[plans.RangeJoinCond].getName, "graft_range_join"),
      (exprs: Seq[Expression]) =>
        plans.RangeJoinCond(exprs(0), exprs(1), exprs(2), exprs(3))))
    ext.injectOptimizerRule(_ => plans.BinnedRangeJoinRule)
    ext.injectPlannerStrategy(_ => plans.SmallSort)
  }
}
