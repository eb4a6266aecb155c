package graft

import java.io.File

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Streamed
import graft.streaming.HeatStream

/** The replay harness every streaming query stages through: slice
  * order of the ordered form, stop-after-k/resume equivalence through
  * the release hook, harness-cost accounting, and the per-slot dir
  * lifecycle.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private val nFiles = Replay.Slices

  private def accesses: DataFrame = Graft.table(spark, sf, "events")
    .select(col("user_id").cast("string").as("path"),
      expr("ts div 1000000").as("tsMs"))

  // q_stream_heat's declaration, its raw heat updates as output
  private def heat: Streamed = SparkEntry.registry.find(_.name == "q_stream_heat")
    .flatMap(_.stream).get(spark, sf).copy(finish = identity)

  private def rows(df: DataFrame): Seq[HeatStream.HeatRecord] =
    df.as[HeatStream.HeatRecord].collect().toSeq
      .sortBy(h => (h.path, h.lastUpdateMs, h.ewma))

  private def sinkRows(r: Replay.Staged): Seq[HeatStream.HeatRecord] =
    rows(spark.read.parquet(r.sink))

  test("the replay scope turns checkpoint checksums off, then restores") {
    val key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    // a checksum sidecar is `<file>.crc` beside its file; the local
    // file system's own checksums are dot-prefixed (`.<file>.crc`)
    def sidecars(dir: String): Seq[String] = {
      def walk(f: File): Seq[String] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f.getName)
      walk(new File(dir)).filter(n => n.endsWith(".crc") && !n.startsWith("."))
    }
    // one heat stream on the replay's checkpoint, in or out of scope
    def runHeat(r: Replay.Staged): Unit = {
      val q = heat.stateful(r.stream).writeStream.outputMode("update")
        .option("checkpointLocation", r.checkpoint)
        .format("noop").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(spark.conf.get(key) == "true")
    val outside = Replay.unordered(spark, accesses)
    runHeat(outside)
    val inside = Replay.withStateWidth(spark) {
      assert(spark.conf.get(key) == "false")
      val r = Replay.unordered(spark, accesses)
      runHeat(r); r
    }
    assert(spark.conf.get(key) == "true")
    assert(sidecars(outside.checkpoint).nonEmpty)
    assert(sidecars(inside.checkpoint).isEmpty,
      sidecars(inside.checkpoint).take(5).toString)
  }

  test("ordered replay delivers micro-batches in slice order") {
    val ranges = new java.util.concurrent.ConcurrentSkipListMap[Long, (Long, Long)]()
    val q = Replay.ordered(spark, accesses, col("tsMs")).stream
      .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
        val r = b.agg(min(col("tsMs")), max(col("tsMs"))).head()
        if (!r.isNullAt(0)) ranges.put(id, (r.getLong(0), r.getLong(1)))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val seq = ranges.values.toArray(Array.empty[(Long, Long)]).toSeq
    assert(seq.size == nFiles, seq.toString)
    seq.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi <= lo, s"batch max $hi after next batch min $lo in $seq")
    }
  }

  test("stop after batch k and resume equals the uninterrupted run") {
    val expected = rows(heat.run("replayspec_heat"))
    assert(expected.nonEmpty)
    for (k <- Seq(1, nFiles - 1)) {
      val held = Replay.ordered(spark, accesses, col("tsMs"), held = true)
      assert(new File(held.source).list().isEmpty)
      assert(held.slices == nFiles)
      val got = heat.resumed(k, atStop = r => {
        assert(new File(r.source).list().count(_.startsWith("part-")) == k)
        assert(sinkRows(r).size < expected.size, s"no stop after batch $k")
      })
      assert(rows(got) == expected, s"resume after batch $k diverged")
    }
  }

  test("both replay forms charge replayWriteNanos") {
    SparkEntry.replayWriteNanos.set(0L)
    Replay.unordered(spark, accesses)
    assert(SparkEntry.replayWriteNanos.get() > 0L)
    SparkEntry.replayWriteNanos.set(0L)
    Replay.ordered(spark, accesses, col("tsMs"))
    assert(SparkEntry.replayWriteNanos.get() > 0L)
  }

  test("a replay deletes only its own slot's previous dirs") {
    def live(r: Replay.Staged) = new File(r.source).isDirectory
    val first = Replay.unordered(spark, accesses)
    assert(live(first) && new File(first.checkpoint).mkdir())
    val second = Replay.unordered(spark, accesses)
    assert(!live(first), "the slot's previous replay must be deleted")
    assert(new File(first.checkpoint).isDirectory,
      "a checkpoint must outlive its slot's next replay")
    assert(live(second))
    val other = Await.result(Future(Replay.unordered(spark, accesses)),
      2.minutes)
    assert(live(second), "a replay on another thread deleted this slot's")
    val third = Replay.unordered(spark, accesses)
    assert(live(other), "this slot's replay deleted another thread's")
    assert(live(third) && !live(second))
  }

  test("scratchDir is stable per slot and distinct across threads") {
    val here = Replay.scratchDir(spark, "replayspec")
    assert(Replay.scratchDir(spark, "replayspec") == here)
    val there = Await.result(
      Future(Replay.scratchDir(spark, "replayspec")), 1.minute)
    assert(there != here)
  }

  test("scratchDir is a fresh dir, not one at a name another JVM can share") {
    // a name derived from the slot alone, which two JVMs can share
    val tag = "replayspec-premade"
    val shared = new File(System.getProperty("java.io.tmpdir"),
      s"graft-$tag-${System.identityHashCode(spark)}-${Thread.currentThread().getId}")
    assert(shared.mkdir() || shared.isDirectory)
    try {
      val got = new File(Replay.scratchDir(spark, tag))
      assert(got != shared)
      assert(got.isDirectory && got.list().isEmpty)
    } finally Replay.rmTree(shared)
  }
}
