package org.apache.spark

/** Two package-private Spark facts the harness's tracer needs. */
object PerfbenchBus {
  /** Waits until every queued listener event has been delivered, so a
    * traced unit of work sees all of its own events before the next starts.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whether a stage writes shuffle output, i.e. runs one exchange's map side. */
  def isShuffleMap(i: scheduler.StageInfo): Boolean = i.shuffleDepId.isDefined
}
