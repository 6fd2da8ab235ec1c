package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Session-extensions installer, and the only way graft installs into
  * a session: makes graft's SQL functions (the native expressions,
  * q93's `bloom_agg_1m` and the `img_*` image UDFs) resolvable, graft's
  * custom physical operators plannable and its optimizer rules active
  * (TopOnePerKeyRule and RangeJoinRule in the optimizer, SmallSortRule
  * in AQE's runtime optimizer),
  * on any session built with `spark.sql.extensions=graft.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`, as [[GraftSession.builder]]
  * does). A session built without it resolves none of graft's SQL
  * functions and plans no `AsOfJoinPlan.asof`; one that rebinds a name
  * (a UDF or temp function of its own) keeps its own binding.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopOnePerKeyRule)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    e.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortRule)
  }
}
