package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, PushProbeFilterThroughAsOfJoin}

/** SparkSessionExtensions entry point: registers the engine's custom
  * functions, planner strategies, and optimizer rules at session build
  * time — `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  * (For an existing session use [[functions.GraftFunctions.register]] and
  * [[plans.AsOf.ensureRegistered]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), new ExpressionInfo(f.impl, f.name), f.build))
    }
    e.injectPlannerStrategy(_ => new AsOfJoinStrategy)
    e.injectOptimizerRule(_ => PushProbeFilterThroughAsOfJoin)
  }
}
