package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * `listenerBus` is `private[spark]`, hence this shim in an
  * `org.apache.spark` subpackage. Only traced runs call it, after each
  * operation, so events land on the operation that caused them. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
