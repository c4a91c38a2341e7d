package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run waits for every queued listener event before it reads
  * the recorded jobs, tasks and query executions. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
