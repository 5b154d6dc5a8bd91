package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued
  * event, so listener-fed counters are complete when an op's numbers are
  * read. The bus is Spark-internal, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
