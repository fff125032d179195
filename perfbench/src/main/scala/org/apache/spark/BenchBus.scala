package org.apache.spark

/** Lets the traced run wait until every listener event posted so far
  * has been delivered, so the events of one op are attributed to it
  * before the next op starts. The bus is private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
