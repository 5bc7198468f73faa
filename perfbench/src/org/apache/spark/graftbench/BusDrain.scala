package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is private to the `org.apache.spark` package;
  * the tracer drains it at every span boundary so each listener event is
  * handled while the span that caused it is still the current one. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
