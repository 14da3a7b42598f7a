package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus drain is Spark-internal; this shim exposes it so the
  * benchmark reads its counters only after every event was delivered. */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
