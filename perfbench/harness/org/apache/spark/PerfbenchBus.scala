package org.apache.spark

/** Spark internals the benchmark needs, which are package-private. */
object PerfbenchBus {
  /** Local property holding the job group of the submitting thread. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Wait for the asynchronous listener bus, so every job, stage and task
    * event of a run is counted before the run's counters are written out.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
