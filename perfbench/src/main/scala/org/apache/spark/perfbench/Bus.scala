package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Access to the driver's listener bus, which Spark keeps package
  * private. The benchmark posts its span boundaries onto the same bus
  * that carries job, stage and task events, so every listener sees them
  * in submission order: a job started between a span's open and close
  * marks belongs to that span, whichever driver thread submitted it. */
object Bus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
