package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.DataStreamWriter

/** One graded query: `run` builds its result from a session and an sf
  * directory, and `oracle` is the DuckDB SQL over the same tables that
  * the result must match. A stream query also carries its declaration.
  */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracle: String,
                       stream: Option[(SparkSession, String) => Streamed] = None) {

  /** The formatted plan `run` executes; a stream's is unstarted. */
  def plan(s: SparkSession, dir: String): String =
    stream.fold(Query.formatted(run(s, dir)))(_(s, dir).explain)
}

object Query {
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** A stream query, run into a memory sink named after it. */
  def stream(name: String, declare: (SparkSession, String) => Streamed,
             oracle: String): Query =
    Query(name, (s, dir) => declare(s, dir).run(s"${name}_sink"), oracle,
      Some(declare))

  private[queries] def formatted(ds: Dataset[_]): String =
    ds.queryExecution.explainString(FormattedMode)

  /** Run `write`, an on-disk artifact build, charging its time to
    * [[SparkEntry.artifactWriteNanos]].
    */
  private[queries] def artifactWrite(write: => Unit): Unit = {
    val t0 = System.nanoTime()
    write
    SparkEntry.artifactWriteNanos.addAndGet(System.nanoTime() - t0): Unit
  }
}

/** A stream query, declared once: `batch` replayed ([[graft.Replay]],
  * ordered on `order` in `nFiles` slices, or unordered), the `stateful`
  * plan over the replay's stream, its output `mode`, and `finish` over
  * the drained rows. The drivers [[run]], [[resumed]] and [[explain]]
  * each stage their own replay, inside [[Replay.withStateWidth]].
  */
final case class Streamed(batch: DataFrame, mode: String,
                          stateful: DataFrame => Dataset[_],
                          finish: DataFrame => DataFrame = identity,
                          order: Option[Column] = None,
                          nFiles: Int = Replay.Slices) {
  private def s: SparkSession = batch.sparkSession

  private def replay(held: Boolean): Replay.Staged = order.fold(
    Replay.unordered(s, batch, held))(Replay.ordered(s, batch, _, nFiles, held))

  // run `stateful` over what `r` has released into the sink `to` sets
  private def drain(r: Replay.Staged)(
      to: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val q = to(stateful(r.stream).toDF().writeStream.outputMode(mode)).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Drain an unheld replay into the memory sink `sink` and finish. */
  def run(sink: String): DataFrame = Replay.withStateWidth(s) {
    drain(replay(held = false))(_.format("memory").queryName(sink))
    finish(s.table(sink))
  }

  /** Run the first `k` slices of a held replay to a checkpointed file
    * sink (appended, or overwritten in complete mode) and stop, `atStop`,
    * then resume over every slice from the same checkpoint and finish.
    */
  def resumed(k: Int, atStop: Replay.Staged => Unit = _ => ()): DataFrame =
    Replay.withStateWidth(s) {
      val r = replay(held = true)
      val write = if (mode == "complete") "overwrite" else "append"
      def upTo(n: Int): Unit = {
        r.release(n)
        drain(r)(_.option("checkpointLocation", r.checkpoint)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode(write).parquet(r.sink); ()
          })
      }
      upTo(k); atStop(r); upTo(r.slices)
      finish(s.read.parquet(r.sink))
    }

  /** The unstarted stateful plan; stages the replay, starts no query. */
  def explain: String = Replay.withStateWidth(s)(
    Query.formatted(stateful(replay(held = false).stream)))
}
