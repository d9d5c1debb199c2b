package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches Spark's listener bus, which is private to the `spark`
  * package, so counters are read only after every event posted so far
  * has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
