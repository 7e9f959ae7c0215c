package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, ExperimentalMethods, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 moved `Dataset.ofRows` and the analyzed-plan accessor into the
  * `classic` implementation module (`private[sql]`); this shim re-exports
  * the entry points graft's custom logical plans need — the same
  * extension-library pattern as [[ColumnBridge]]. No Spark internals are
  * modified.
  */
object PlanBridge {
  /** Wrap an already-resolved logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** `df.localCheckpoint()` carrying `sizeOf`'s size estimate instead of
    * the one Spark copies from `df`'s plan. A loop that joins its
    * checkpoint to itself every round would otherwise square that
    * estimate per round (a join's estimate is the product of its
    * sides'), and within about 25 rounds planning one round's BigInt
    * product stalls the driver for minutes. Loops whose rounds keep one
    * row per input row pass their input as `sizeOf`. */
  def localCheckpoint(df: DataFrame, sizeOf: DataFrame): DataFrame = {
    val size = sizeOf.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan.stats.sizeInBytes
    analyzed(df.localCheckpoint()) match {
      case r: LogicalRDD =>
        ofRows(df.sparkSession, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
          r.outputOrdering, r.isStreaming)(df.sparkSession.asInstanceOf[classic.SparkSession],
          Some(Statistics(sizeInBytes = size))))
    }
  }

  /** Public per-session registry for extra planner strategies /
    * optimizer rules (`spark.experimental`).
    */
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental
}
