package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-private; the tracer needs it so that
  * every event of a traced call is handled before the call's span closes. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
