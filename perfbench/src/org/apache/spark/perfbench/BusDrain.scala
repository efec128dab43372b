package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so a query's jobs, stages and tasks are all counted
  * before the next query starts. The listener bus is private to Spark,
  * hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
