package org.apache.spark

/** The one package-private hook the harness needs: block until every event
  * posted so far has reached the registered listeners, so a traced
  * iteration's counters are complete before they are read and the listeners
  * are removed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
