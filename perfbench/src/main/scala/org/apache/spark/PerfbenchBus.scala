package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** A marker posted behind everything already on the listener bus: when a
  * listener sees it, every event posted before it has been delivered. */
final case class PerfbenchMarker(id: Long) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

/** Bridge to the package-private listener bus (SparkContext.listenerBus). */
object PerfbenchBus {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}
