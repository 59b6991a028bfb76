package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so a spec's listener has seen every job submitted before the call.
  * The bus is private to Spark, hence this object's package.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
