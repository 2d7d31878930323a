package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim, compiled inside the
  * `org.apache.spark` package, lets the tracer wait until every event
  * posted so far has been delivered, so a span's events land in that span. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
