package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener delivery is asynchronous; the tracer drains the bus before
  * it reads what the listeners recorded. The bus is Spark-private, so
  * this one call lives in Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
