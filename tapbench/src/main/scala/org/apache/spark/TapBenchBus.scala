package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it after a traced sync so that every job and task
  * event of that sync has reached its listener before the ledger is read.
  */
object TapBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
