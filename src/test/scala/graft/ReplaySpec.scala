package graft

import java.io.File

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

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

  // one heatUpdates query over the replay, appending to its sink from
  // its checkpoint (q_stream_replication_recovery's shape)
  private def runHeat(r: Replay.Staged): Unit = {
    val q = HeatStream.heatUpdates(r.stream.as[HeatStream.Access],
        stateTtlMs = 1000000000000L, allowedLatenessMs = 1000000000000L)
      .writeStream.outputMode("update")
      .option("checkpointLocation", r.checkpoint)
      .foreachBatch { (b: Dataset[HeatStream.HeatRecord], _: Long) =>
        b.write.mode("append").parquet(r.sink); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  private def sinkRows(r: Replay.Staged): Seq[HeatStream.HeatRecord] =
    spark.read.parquet(r.sink).as[HeatStream.HeatRecord].collect().toSeq
      .sortBy(h => (h.path, h.lastUpdateMs, h.ewma))

  test("the replay scope turns checkpoint checksums off, then restores") {
    val key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    // a checksum sidecar is `<file>.crc` beside its file; the local
    // file system's own checksums are dot-prefixed (`.<file>.crc`)
    def sidecars(dir: String): Seq[String] = {
      def walk(f: File): Seq[String] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f.getName)
      walk(new File(dir)).filter(n => n.endsWith(".crc") && !n.startsWith("."))
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
    val full = Replay.ordered(spark, accesses, col("tsMs"))
    runHeat(full)
    val expected = sinkRows(full)
    assert(expected.nonEmpty)
    for (k <- Seq(1, nFiles - 1)) {
      val r = Replay.ordered(spark, accesses, col("tsMs"), held = true)
      assert(new File(r.source).list().isEmpty)
      r.release(k)
      assert(new File(r.source).list().count(_.startsWith("part-")) == k)
      runHeat(r)
      assert(sinkRows(r).size < expected.size, s"no stop after batch $k")
      r.release(nFiles); runHeat(r)
      assert(sinkRows(r) == expected, s"resume after batch $k diverged")
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
