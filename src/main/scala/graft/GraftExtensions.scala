package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions hook: install graft's native functions and
  * optimizer rules at session build time
  * (`spark.sql.extensions=graft.GraftExtensions`), for users who want them
  * available in plain SQL from the first query. The functions are the
  * same table `GraftFunctions.register` installs at run time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.SqlFunctions.foreach(ext.injectFunction)
    // binned range join (opt-in via spark.graft.rangeJoin.binWidth):
    // rewrites point-in-interval joins to an equi-join on a bin key so
    // they shuffle instead of nested-looping — see plans/BinnedRangeJoin
    ext.injectOptimizerRule(plans.BinRangeJoinRule.apply)
    // native as-of join (logical node + merge exec) — see plans/AsOfJoin
    ext.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
  }
}
