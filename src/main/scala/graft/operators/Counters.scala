package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Job counters (reference: src/mapred/org/apache/hadoop/mapred/
  * Counters.java:53,135,370 — named counters aggregated from tasks,
  * the engine's only global-aggregate side channel).
  *
  * Spark-native form: `Dataset.observe` metrics — aggregated on the
  * fly during the job with no extra pass. Use for row counts /
  * quarantine counts / bytes tallies alongside the main result,
  * exactly what MR counters were for.
  */
object Counters {

  /** Attach named observed metrics to a DataFrame. Returns the frame
    * and its `Observation`, whose `get` blocks until the first
    * action on that frame has finished and then holds that action's
    * metrics: each call gets its own, whatever the name.
    */
  def observed(df: DataFrame, name: String,
               metrics: (String, Column)*): (DataFrame, Observation) = {
    val obs = Observation(name)
    val cols = metrics.map { case (n, c) => c.as(n) }
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }
}
