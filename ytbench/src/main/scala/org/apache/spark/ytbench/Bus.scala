package org.apache.spark.ytbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`, so the benchmark reaches it from a
  * file of its own under the `org.apache.spark` namespace. */
object Bus {

  /** Block until every event posted so far has reached every listener, so
    * counters read afterwards are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
