package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * A traced operation waits here until every event it caused has been
  * delivered, so the events attribute to that operation and no other. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
