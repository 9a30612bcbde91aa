package org.apache.spark.scheduler.graft

import org.apache.spark.SparkContext

/** Jobs the context's DAG scheduler has handed out ids to so far. The id is
  * taken on the submitting thread before the job runs, so comparing two
  * readings tells synchronously whether a block launched any job — a
  * listener event may arrive after the block returns. */
object JobCount {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
