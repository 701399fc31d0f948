package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so the
  * traced run reads complete counts. The bus is package-private to
  * Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
