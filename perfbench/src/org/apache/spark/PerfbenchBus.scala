package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete job, stage and task records. The bus is
  * private to Spark's package, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
