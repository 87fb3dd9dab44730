package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The traced run drains the bus before it switches recording on or off,
  * so each event is recorded under the flag of the pass that caused it.
  * (`listenerBus` is package-private to Spark, hence this package.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
