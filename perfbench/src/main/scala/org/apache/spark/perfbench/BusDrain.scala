package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener queue has delivered its events. The traced
  * run reads its listener totals only after a drain, so no event of a
  * pass is counted in the next one. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
