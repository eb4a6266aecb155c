package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: `run` builds its result from a session and an sf
  * directory, and `oracle` is the DuckDB SQL over the same tables that
  * the result must match.
  */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** Run `write`, an on-disk artifact build, charging its time to
    * [[SparkEntry.artifactWriteNanos]].
    */
  private[queries] def artifactWrite(write: => Unit): Unit = {
    val t0 = System.nanoTime()
    write
    SparkEntry.artifactWriteNanos.addAndGet(System.nanoTime() - t0): Unit
  }
}
