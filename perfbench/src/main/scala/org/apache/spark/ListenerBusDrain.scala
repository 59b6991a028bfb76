package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so a traced run reads complete job and task records. The bus is
  * private to Spark, hence this object's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
