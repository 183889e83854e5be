package org.apache.spark.perfbench

import org.apache.spark.scheduler.SparkListenerEvent

/** A span opening or closing, posted on the listener bus between the
  * Spark events it brackets. Kept out of the event log. */
final case class SpanMark(id: Int, open: Boolean) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}
