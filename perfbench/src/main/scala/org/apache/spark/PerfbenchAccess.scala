package org.apache.spark

/** The benchmark's reads of `private[spark]` state: the listener bus
  * (to wait for queued events) and the status store that Spark's own
  * status listener keeps, so untraced runs register no listener. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id the next job will get (all earlier jobs are in the store). */
  def nextJobId(sc: SparkContext): Int = {
    val jobs = sc.statusStore.jobsList(null)
    if (jobs.isEmpty) 0 else jobs.map(_.jobId).max + 1
  }

  /** Input and output bytes and rows over every stage of the jobs
    * numbered `firstJob` and up. */
  def stageIo(sc: SparkContext, firstJob: Int): Map[String, Any] = {
    val store = sc.statusStore
    val stages = store.jobsList(null).filter(_.jobId >= firstJob)
      .flatMap(_.stageIds).distinct
      .flatMap(id => store.stageData(id, false, null, false, Array.empty[Double]))
    Map("input_bytes" -> stages.map(_.inputBytes).sum,
      "input_rows" -> stages.map(_.inputRecords).sum,
      "output_bytes" -> stages.map(_.outputBytes).sum,
      "output_rows" -> stages.map(_.outputRecords).sum)
  }
}
