package org.apache.spark

/** Drains Spark's listener bus so a traced run reads complete job,
  * stage and streaming-progress records before it reports. The bus
  * is package-private; this is its only use. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
