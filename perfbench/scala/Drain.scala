package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to the `org.apache.spark` package, so
  * the benchmark reaches it from here. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
