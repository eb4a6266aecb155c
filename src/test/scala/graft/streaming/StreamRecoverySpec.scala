package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Checkpoint recovery — the property that makes the streaming twins
  * deployable: a stream killed mid-ingest and restarted from its
  * checkpoint must neither lose nor re-emit state. The reference gets
  * durability from the NameNode edit log; Structured Streaming gets
  * it from the checkpointed offset log + state store, and this spec
  * proves the graft operators actually ride it.
  *
  * Harness: a file-source directory grows in two phases with a hard
  * `query.stop()` between them (same checkpoint, same sink). Phase 2
  * restarts from the offset log, replays nothing, and the state
  * store (dedup keys seen in phase 1) carries across the restart —
  * a phase-1 duplicate arriving in phase 2 must be suppressed by
  * RECOVERED state, which no per-run in-memory structure could do.
  */
class StreamRecoverySpec extends SparkSpec {

  test("StreamDedup state survives a stop/restart from checkpoint") {
    withTempDirs("graft-recover-src", "graft-recover-ckpt",
        "graft-recover-sink") { case Seq(src, ckpt, sink) =>
      import spark.implicits._

      def writeFile(rows: Seq[(java.sql.Timestamp, Long, String)]): Unit =
        rows.toDF("ts2", "user_id", "event_type").coalesce(1)
          .write.mode("append").parquet(src)

      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val schema = "ts2 timestamp, user_id bigint, event_type string"

      def start() = StreamDedup.withinWatermark(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src),
          "ts2", "3650 days", Seq("user_id", "event_type"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink).start()

      // phase 1: keys (1,a) (2,b) seen
      writeFile(Seq((ts(1000L), 1L, "a"), (ts(2000L), 2L, "b")))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()

      // phase 2 (after a hard stop): a phase-1 duplicate (1,a) and a
      // new key (3,c). Only recovered state can suppress the duplicate.
      writeFile(Seq((ts(3000L), 1L, "a"), (ts(4000L), 3L, "c")))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      val got = spark.read.parquet(sink)
        .select($"user_id", $"event_type").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")), got.toString)
    }
  }

  test("StreamSample top-k window state survives a stop/restart") {
    withTempDirs("graft-ssrec-src", "graft-ssrec-ckpt",
        "graft-ssrec-sink") { case Seq(src, ckpt, sink) =>
      import spark.implicits._

      val rows = (0 until 50).map(i => (s"doc$i", 1.0 + (i * 13 % 29)))
      val batchTop = graft.functions.Sampling.weightedSample(
          rows.toDF("key", "w"), col("key"), col("w"), k = 7)
        .select(col("key"), col("draw"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

      def ts(ms: Long) = new java.sql.Timestamp(ms)
      def writeFile(rs: Seq[(java.sql.Timestamp, String, Double)]): Unit =
        rs.toDF("ts", "key", "weight").coalesce(1)
          .write.mode("append").parquet(src)

      def start() = StreamSample.perWindow(
          spark.readStream.schema("ts timestamp, key string, weight double")
            .option("maxFilesPerTrigger", "1").parquet(src)
            .as[StreamSample.Item],
          windowMillis = 60000L, watermark = "10 minutes", k = 7)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", sink).start()

      // phase 1: 30 of the 50 rows, then a HARD stop mid-window
      writeFile(rows.drop(20).map { case (k, w) => (ts(1000L), k, w) })
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()

      // phase 2: the remaining 20 rows, then (strictly after they are
      // ingested — a same-millisecond mtime tie must not let the
      // closing heartbeat overtake them) the heartbeat that shuts the
      // window. The final sample equals the batch top-7 over ALL 50
      // rows — only possible if phase 1's top-k state recovered from
      // checkpoint.
      writeFile(rows.take(20).map { case (k, w) => (ts(1000L), k, w) })
      val q2 = start()
      try {
        q2.processAllAvailable()
        writeFile(Seq((ts(1000000L), null, 1.0)))
        q2.processAllAvailable()
      } finally q2.stop()

      val got = spark.read.parquet(sink)
        .select($"key", $"draw").as[(String, Double)].collect().toSet
      assert(got == batchTop, s"stream=$got batch=$batchTop")
    }
  }

  test("streaming retention cohorts survive a stop/restart from checkpoint") {
    withTempDirs("graft-ret-src", "graft-ret-ckpt") { case Seq(src, ckpt) =>
      import spark.implicits._

      def writeFile(rows: Seq[(Long, Long)]): Unit =
        rows.toDF("u", "b").coalesce(1).write.mode("append").parquet(src)

      def start(name: String) =
        spark.readStream.schema("u bigint, b bigint")
          .option("maxFilesPerTrigger", "1").parquet(src)
          .groupBy($"u")
          .agg(min($"b").as("cohort"), collect_set($"b").as("bs"))
          .writeStream.outputMode("complete").queryName(name)
          .option("checkpointLocation", ckpt).format("memory").start()

      // phase 1: user 1 active in buckets 0 and 1; user 2 in 5
      writeFile(Seq((1L, 0L), (1L, 1L), (2L, 5L)))
      val q1 = start("ret_rec_1")
      try q1.processAllAvailable() finally q1.stop()

      // phase 2 (hard stop between): user 1 RETURNS in bucket 3 — only
      // recovered agg state still knows its cohort is 0, not 3 — and a
      // new user 3 appears
      writeFile(Seq((1L, 3L), (3L, 0L)))
      val q2 = start("ret_rec_2")
      try q2.processAllAvailable() finally q2.stop()

      val m = spark.table("ret_rec_2")
        .select($"cohort", explode($"bs").as("b"))
        .groupBy($"cohort", ($"b" - $"cohort").as("period"))
        .agg(count(lit(1)).as("users"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(m == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
        (5L, 0L) -> 1L), m.toString)
    }
  }

  test("HeatStream EWMA state survives a stop/restart from checkpoint") {
    withTempDirs("graft-heat-src", "graft-heat-ckpt",
        "graft-heat-sink") { case Seq(src, ckpt, sink) =>
      import spark.implicits._

      def writeAccesses(rows: Seq[HeatStream.Access]): Unit =
        rows.toDS().coalesce(1).write.mode("append").parquet(src)

      // parquet sinks reject update mode; foreachBatch-append is the
      // standard actuator shape for update-mode state emissions
      def start() = HeatStream.heatUpdates(
          spark.readStream.schema("path string, tsMs bigint")
            .option("maxFilesPerTrigger", "1").parquet(src)
            .as[HeatStream.Access])
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[HeatStream.HeatRecord], _: Long) =>
            b.write.mode("append").parquet(sink); ()
        }.start()

      // the throttle window is 30 s: space accesses 60 s apart so every
      // access applies and the EWMA fold is non-trivial
      writeAccesses(Seq(HeatStream.Access("f", 60000L),
        HeatStream.Access("f", 120000L)))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()

      writeAccesses(Seq(HeatStream.Access("f", 180000L)))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      // the pure state machine, run unbroken over all three accesses
      val cfg = ReplicationPolicy.Config()
      var fs = ReplicationPolicy.FileState("f", 2, 0L, cfg.minRep, 0.0, ReplicationPolicy.Unseeded)
      Seq(60000L, 120000L, 180000L).foreach { t =>
        fs = ReplicationPolicy.access(fs, t, cfg)._1
      }
      // the restarted stream's LAST emission must continue the fold
      // from recovered state, not re-seed at 180000
      val last = spark.read.parquet(sink)
        .orderBy(desc("lastUpdateMs")).limit(1)
        .select($"ewma", $"lastUpdateMs").as[(Double, Long)].head()
      assert(last == ((fs.ewma, fs.lastUpdateMs)),
        s"got $last want (${fs.ewma}, ${fs.lastUpdateMs})")
    }
  }

  test("the full policy loop resumes mid-replay with an identical plan") {
    // q_stream_replication's composition (throttled-EWMA state ->
    // settled heat -> tier/exempt/capacity-demote plan), run twice
    // over the SAME access log: once uninterrupted, once with a hard
    // kill between micro-batches and a checkpoint resume. The final
    // REPLICATION PLAN — the thing the policy loop exists to emit —
    // must be identical; only recovered per-file EWMA state can make
    // the resumed fold land on the same numbers.
    import spark.implicits._

    // 10 files ("0".."9"), every 5th single-block (exempt), accesses
    // spaced 60 s (> the 30 s throttle) so every access applies; hot
    // files get more accesses so the tiering is non-degenerate
    val accesses: Seq[HeatStream.Access] =
      (0 until 10).flatMap { f =>
        val n = 1 + f % 4
        (0 until n).map(k =>
          HeatStream.Access(f.toString, 60000L * (1 + f + 13 * k)))
      }.sortBy(_.tsMs)
    val (phase1, phase2) = accesses.splitAt(accesses.size / 2)

    def runReplay(phases: Seq[Seq[HeatStream.Access]]): Set[(Long, Int)] = {
      withTempDirs("graft-policy-src", "graft-policy-ckpt",
          "graft-policy-sink") { case Seq(src, ckpt, sink) =>
        def start() = HeatStream.heatUpdates(
            spark.readStream.schema("path string, tsMs bigint")
              .option("maxFilesPerTrigger", "1").parquet(src)
              .as[HeatStream.Access],
            stateTtlMs = 1000000000000L,
            allowedLatenessMs = 1000000000000L)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[HeatStream.HeatRecord], _: Long) =>
              b.write.mode("append").parquet(sink); ()
          }.start()
        // each phase: two files -> two micro-batches; a HARD stop
        // between phases kills the query mid-replay
        phases.foreach { rows =>
          rows.grouped(math.max(1, rows.size / 2 + 1)).foreach { slice =>
            slice.toDS().coalesce(1).write.mode("append").parquet(src)
          }
          val q = start()
          try q.processAllAvailable() finally q.stop()
        }
        val heat = spark.read.parquet(sink)
          .groupBy($"path")
          .agg(max(struct($"lastUpdateMs", $"ewma")).as("m"))
          .select($"path".cast("long").as("file_id"), $"m.ewma".as("ewma"))
        Heat.policyLoopPlan(heat, col("file_id"), col("ewma"),
            blocksCol = when(col("file_id") % 5 === 0, 1).otherwise(2),
            sizeBytes = 1000L, capacityBytes = 3500L * 10)
          .select(col("file_id"), col("target_rep"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      }
    }

    val uninterrupted = runReplay(Seq(accesses))
    val resumed = runReplay(Seq(phase1, phase2))
    assert(uninterrupted == resumed,
      s"plan diverged after mid-replay restart:\n  clean=$uninterrupted\n  resumed=$resumed")
    assert(uninterrupted.nonEmpty, "vacuous plan — the dial produced no rows")
  }
}
