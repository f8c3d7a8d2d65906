package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, so that a traced run's listener has seen
  * every event before the run's figures are read. `waitUntilEmpty` is
  * `private[spark]`, hence this accessor under `org.apache.spark`.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
