package org.apache.spark

/** Listener-bus access the public API does not offer, for specs that
  * count Spark jobs. Lives under `org.apache.spark` because
  * `SparkContext.listenerBus` is `private[spark]`. */
object GraftTestBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
