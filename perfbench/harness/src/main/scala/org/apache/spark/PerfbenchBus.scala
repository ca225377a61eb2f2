package org.apache.spark

/** Lets the harness wait until every listener event posted so far has
  * been delivered, so the job, task and progress records it reads after
  * a run are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
