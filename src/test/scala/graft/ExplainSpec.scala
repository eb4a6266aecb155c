package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Explain prints a stream query's stateful plan without starting it,
  * and a batch query's formatted physical plan.
  */
class ExplainSpec extends SparkSpec {

  // each stream query's stateful exec node
  private val stateful = Seq(
    "q_stream_windows" -> "StateStoreSave",
    "q_stream_sketch" -> "StateStoreSave",
    "q_stream_retention" -> "StateStoreSave",
    "q_stream_sessions" -> "SessionWindowStateStoreSave",
    "q_stream_dedup" -> "StreamingDeduplicateWithinWatermark",
    "q_stream_sample" -> "FlatMapGroupsWithState",
    "q_stream_cms" -> "FlatMapGroupsWithState",
    "q_stream_neardup" -> "FlatMapGroupsWithState",
    "q_stream_asof" -> "FlatMapGroupsWithState",
    "q_stream_heavy" -> "FlatMapGroupsWithState",
    "q_stream_heavy_pressure" -> "FlatMapGroupsWithState",
    "q_stream_heat" -> "FlatMapGroupsWithState",
    "q_stream_replication" -> "FlatMapGroupsWithState",
    "q_stream_replication_recovery" -> "FlatMapGroupsWithState")

  private class Starts extends StreamingQueryListener {
    val n = new AtomicInteger()
    override def onQueryStarted(e: QueryStartedEvent): Unit = n.incrementAndGet(): Unit
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def withStarts[T](body: Starts => T): T = {
    val starts = new Starts
    spark.streams.addListener(starts)
    try body(starts) finally spark.streams.removeListener(starts)
  }

  test("the 14 stream queries print their stateful plan and start no query") {
    assert(stateful.map(_._1).toSet ==
      SparkEntry.queries.keySet.filter(_.startsWith("q_stream_")))
    withStarts { starts =>
      stateful.foreach { case (name, node) =>
        val plan = Explain.plan(spark, sf, name)
        assert(plan.contains(node), s"$name: no $node in\n$plan")
      }
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(starts.n.get == 0, s"${starts.n.get} streaming queries started")
    }
  }

  test("the start listener sees a started stream") {
    withStarts { starts =>
      val q = spark.readStream.format("rate").load()
        .writeStream.format("noop").start()
      q.stop()
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(starts.n.get == 1)
    }
  }

  test("a batch query prints its formatted physical plan") {
    val plan = Explain.plan(spark, sf, "q1_agg")
    assert(plan.startsWith("== Physical Plan =="), plan)
    assert(plan.contains("HashAggregate"), plan)
  }
}
