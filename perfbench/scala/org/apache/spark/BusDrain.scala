package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * trace read right after a job ends sees that job's task and stage events. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
