package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's `private[spark]` listener bus, so the benchmark can
  * read its listeners only after every event of the measured run has
  * been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
