package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener delivery is asynchronous. The traced run drains the bus
  * between operations so every job, plan and progress event is seen
  * before the next operation starts. The bus is private to Spark, hence
  * this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
