package org.apache.spark

/** Spark internals the traced run needs and Spark keeps package-private:
  * the job-group property key, and the listener bus, which the traced run
  * drains before it reads its counters. */
object PerfbenchBridge {
  /** Local property holding the job group a job was started under. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
