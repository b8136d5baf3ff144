package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Bridge to the `private[spark]` listener bus. Listener callbacks run
  * asynchronously on the bus thread, so counters read between two
  * benchmark phases are only complete once the bus has drained; waiting
  * on the bus itself makes the phase split deterministic instead of
  * sleeping and hoping. */
object PerfbenchBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
