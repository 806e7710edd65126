package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * execution counters read after an op include all of that op's jobs,
  * stages and tasks. The listener bus is package-private to Spark. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
