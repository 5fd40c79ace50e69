package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer. Lives under
  * `org.apache.spark` because `SparkContext.listenerBus` is
  * `private[spark]`. */
object Bus {
  /** Block until every event posted so far has reached every listener,
    * so records can be attributed to the gate that caused them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
