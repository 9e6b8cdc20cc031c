package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The benchmark reads its SparkListener and StreamingQueryListener
  * aggregates only after this, so no job or progress event is lost to
  * the asynchronous listener bus.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
