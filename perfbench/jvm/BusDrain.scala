// Spark keeps the listener bus `private[spark]`; the harness must wait for
// it to drain before it reads counters at a pass boundary, so this one
// forwarder lives inside that package and holds no other logic.
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
