// Lives under org.apache.spark because the listener bus is private[spark].
package org.apache.spark

object PerfbenchBus {
  /** Block until every posted listener event has been delivered, so that a
    * pass's task, query and stream events are all counted before it is
    * summed.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
