package graft.functions

import org.apache.spark.sql.DataFrame

/** The localCheckpoint lifecycle rule shared by the iterative
  * operators (connected-components closure, BPE training, IVF-PQ
  * index build) and the guarded pair operators: a pinned
  * generation's blocks are freed EXPLICITLY the moment a successor
  * (or a smaller derived pin) supersedes it — never while anything
  * live still reads it, since a truncated lineage cannot be
  * recomputed after unpersisting.
  *
  * PUBLIC because long-lived sessions need the other half of the
  * contract: operators that return a DataFrame riding a pinned
  * lineage (the guarded pair family, `verifyPairs`, the tf pins —
  * each documents it) cannot free their own blocks, and waiting for
  * ContextCleaner GC lets pins accumulate across hundreds of calls
  * (exactly the pattern that grew the sf1 bench heap until
  * `Bench.scala` started unpersisting between queries). A library
  * caller that has CONSUMED such a result (collected it, written it
  * out) should hand it to [[drop]] — or sweep
  * `spark.sparkContext.getPersistentRDDs` between pipeline stages
  * the way the bench harness does.
  */
object Checkpoints {

  /** Free a superseded or fully-consumed localCheckpoint
    * generation's blocks. No-op on a DataFrame that is not a
    * checkpoint root (safe to call unconditionally). Do NOT call
    * while any un-materialized plan still reads the checkpoint: the
    * truncated lineage cannot be recomputed.
    */
  def drop(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
