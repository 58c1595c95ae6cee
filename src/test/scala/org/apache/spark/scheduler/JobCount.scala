package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Jobs the DAG scheduler has started on a context so far. Exact and
  * synchronous — job ids are allocated at submission, map-stage jobs of
  * adaptive execution included — unlike a listener-bus count, which
  * arrives asynchronously. */
object JobCount {
  def started(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
