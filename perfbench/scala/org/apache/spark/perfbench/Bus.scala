package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a traced pass is complete before it is analysed.
  * `LiveListenerBus` is private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
