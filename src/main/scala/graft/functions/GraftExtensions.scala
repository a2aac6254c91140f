package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's one install path for its native functions, planner
  * strategy and optimizer rules. [[graft.core.Session]] sets
  * `spark.sql.extensions=graft.functions.GraftExtensions` on every
  * session it builds, so SQL and the Column API resolve the same
  * functions from construction, and each rule runs once, in the
  * operator-optimization fixed point.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator tier: the native as-of join's planner strategy
    // plus the pushdown rule that lets Catalyst optimize across the
    // custom node (injected into the operator-optimization fixed
    // point, so moved filters keep sinking toward the scan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // optimizer-rule tier: marked interval joins rewrite to binned
    // equi-joins (see graft.plans.BinRangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.BinRangeJoinRule)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** Every native function the engine installs. */
  val functions: Seq[SparkSessionExtensions#FunctionDescription] =
    VectorFunctions.injections ++ Seq(
      HashFunctions.injection,
      TextFunctions.injection,
      TextFunctions.charInjection,
      TextFunctions.gramStatsInjection,
      SetFunctions.injection,
      TopKFunctions.injection,
      BloomFunctions.injection,
      BarrierFunctions.injection)
}
