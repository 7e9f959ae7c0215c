package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so the
  * job and task records a traced span reads are complete. The listener
  * bus is private to Spark; this shim is the only reason the benchmark
  * has a class in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
