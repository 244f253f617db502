package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; specs that read
  * what a QueryExecutionListener saw need every event delivered first. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
