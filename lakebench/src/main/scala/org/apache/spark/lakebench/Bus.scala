package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The two listener-side facts the benchmark's trace needs that Spark
  * keeps package-private: draining the listener bus, and the status
  * store's own job and task counts (an accounting independent of the
  * benchmark's listener). */
object Bus {

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (jobs, completed tasks) of jobs with id ≥ `fromJob`, per the status
    * store. */
  def jobsAndTasks(sc: SparkContext, fromJob: Int): (Long, Long) = {
    val jobs = sc.statusStore.jobsList(null).filter(_.jobId >= fromJob)
    (jobs.size.toLong, jobs.map(_.numCompletedTasks.toLong).sum)
  }
}
