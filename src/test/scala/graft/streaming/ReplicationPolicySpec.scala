package graft.streaming

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import ReplicationPolicy._

/** Property-style tests (seeded random trajectories) for the tier
  * state machine — the reference ships zero tests for its
  * DynamicReplicationMonitor (SURVEY §5.6); these pin the semantics.
  */
class ReplicationPolicySpec extends AnyFunSuite {

  private val cfg = Config()

  private def mkState(nFiles: Int, capacity: Long = Long.MaxValue / 4): State = {
    val st = new State(cfg, capacity)
    (0 until nFiles).foreach(i => st.addFile(s"/f$i", blocks = 2, sizeBytes = 100))
    st
  }

  test("EWMA recurrence matches the closed form") {
    val xs = Seq(10.0, 20.0, 40.0, 10.0)
    val rec = xs.tail.foldLeft(xs.head)((acc, x) => 0.5 * acc + 0.5 * x)
    assert(math.abs(ewmaOf(xs, 0.5) - rec) < 1e-12)
  }

  test("atime throttle skips updates within ewma + precision, inclusive") {
    // throttle compares the new raw atime against the STORED EWMA
    // (reference stores the EWMA as the atime, FSDirectory.java:1362)
    val f = FileState("/f", 2, 100, 3, 100000.0, 100000L)
    val (_, onBoundary) = access(f, 100000L + cfg.atimePrecisionMs, cfg)
    assert(!onBoundary) // atime == ewma + precision -> skip (inclusive)
    val (f2, pastBoundary) = access(f, 100000L + cfg.atimePrecisionMs + 1, cfg)
    assert(pastBoundary && f2.ewma > 100000.0)
    // a hot file whose EWMA lags now by > precision always applies
    val hot = FileState("/hot", 2, 100, 3, 100000.0, 200000L)
    assert(access(hot, 200001L, cfg)._2)
  }

  test("replication always stays within [minRep, maxRep]") {
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val st = mkState(20)
      var now = 100000L
      (1 to 200).foreach { _ =>
        now += 1 + rnd.nextInt(1000000)
        st.recordAccess(s"/f${rnd.nextInt(20)}", now)
      }
      assert(st.files.values.forall(f =>
        f.rep >= cfg.minRep && f.rep <= cfg.maxRep), s"seed $seed")
    }
  }

  test("single-block files are never promoted") {
    val st = mkState(5)
    st.addFile("/single", blocks = 1, sizeBytes = 100)
    (1 to 10).foreach(i => st.recordAccess("/single", i * 60000L))
    assert(st.files("/single").rep == cfg.minRep)
  }

  test("a repeatedly-accessed multi-block file is promoted") {
    val st = mkState(3)
    (1 to 5).foreach(i => st.recordAccess("/f0", i * 60000L))
    assert(st.files("/f0").rep > cfg.minRep)
  }

  test("capacity breach demotes the coldest half of each bucket") {
    val st = mkState(8, capacity = 100L * 8 * 4)  // tight capacity
    // heat everything into higher tiers
    var now = 0L
    (1 to 6).foreach { round =>
      (0 until 8).foreach { i =>
        now += 60000L
        st.recordAccess(s"/f$i", now)
      }
    }
    val before = st.files.values.map(_.rep).toSeq
    st.demoteSweep()
    val after = st.files.values.map(_.rep).toSeq
    ((cfg.minRep + 1) to cfg.maxRep).foreach { level =>
      val n = before.count(_ == level)
      val demoted = before.zip(after).count { case (b, a) => b == level && a == level - 1 }
      assert(demoted == n / 2, s"level $level: expected ${n / 2} demotions, got $demoted")
    }
  }

  test("delete removes the file from the namespace and its tier set") {
    val st = mkState(3)
    (1 to 5).foreach(i => st.recordAccess("/f1", i * 60000L))
    st.deleteFile("/f1")
    assert(!st.files.contains("/f1"))
    assert(st.plan().forall(_._1 != "/f1"))
  }

  test("plan only lists files off the default tier") {
    val st = mkState(4)
    (1 to 5).foreach(i => st.recordAccess("/f2", i * 60000L))
    val plan = st.plan()
    assert(plan.nonEmpty && plan.forall(_._2 != cfg.minRep))
  }
}

class HeatBatchSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("replicationPlan matches standard ntile fill without a global window") {
    // n=10, 4 tiers: q=2, r=2 -> tile sizes 3,3,2,2 over ewma desc
    val heat = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("user_id", "ewma")
    val plan = Heat.replicationPlan(heat, col("user_id"), col("ewma"))
    val got = plan.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val want = Map(10L -> 6, 9L -> 6, 8L -> 6, 7L -> 5, 6L -> 5, 5L -> 5,
      4L -> 4, 3L -> 4, 2L -> 3, 1L -> 3)
    assert(got == want)
    // the scale contract: every window in the executed plan is
    // partitioned — no single-partition global-sort funnel
    import org.apache.spark.sql.execution.window.WindowExec
    val globalWindows = plan.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"un-partitioned windows: $globalWindows")
  }

  test("rank and plan survive user columns named like the old scratch names") {
    // regression: globalRank once hardcoded __pid/__offset and
    // replicationPlan __rank — a user column with any of those names
    // was silently replaced (or made the offset join ambiguous).
    // Scratch names are now probed fresh per input.
    val df = (1 to 20).map(i =>
        (i.toLong, i.toDouble, s"u$i", 7L, 8L))
      .toDF("user_id", "ewma", "__pid", "__offset", "__rank")
    val ranked = Heat.globalRank(df, Seq(col("ewma").desc), "rnk")
    assert(ranked.columns.count(_ == "__offset") == 1)
    assert(ranked.select("__pid").distinct().count() == 20) // user data intact
    assert(ranked.select("rnk").as[Long].collect().sorted.toSeq ==
      (1L to 20L))
    val plan = Heat.replicationPlan(df, col("user_id"), col("ewma"))
    assert(plan.columns.toSet ==
      Set("user_id", "ewma", "__pid", "__offset", "__rank", "target_rep"))
    assert(plan.select("__rank").distinct().count() == 1) // untouched lit(8)
  }

  test("replicationPlan rank is stable across executions (pinned boundaries)") {
    // regression: two executions of repartitionByRange may sample
    // different range boundaries; the histogram and output passes must
    // not disagree (observed at sf0.1: whole rank blocks shifting a
    // tier). The localCheckpoint pin makes repeated collects identical.
    val heat = (1 to 500).map(i => (i.toLong, (i % 37).toDouble)).toDF("user_id", "ewma")
    val a = Heat.replicationPlan(heat, col("user_id"), col("ewma"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val b = Heat.replicationPlan(heat, col("user_id"), col("ewma"))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a == b)
  }

  test("demoteSweepBatch equals State.demoteSweep on random namespaces") {
    val cfg = Config()
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 5 + rnd.nextInt(40)
      val files = (0 until n).map { i =>
        (f"/f$i%03d", rnd.nextDouble() * 1e6,
          cfg.minRep + rnd.nextInt(cfg.maxRep - cfg.minRep + 1))
      }
      // sequential reference machine
      val st = new State(cfg, Long.MaxValue / 4)
      files.foreach { case (p, e, r) =>
        st.files(p) = FileState(p, 2, 100, r, e, 0L) }
      st.demoteSweep()
      val want = st.files.view.mapValues(_.rep).toMap
      // simultaneous closed form
      val df = files.toDF("path", "ewma", "target_rep")
      val got = Heat.demoteSweepBatch(df, col("path"), col("ewma"), cfg.minRep)
        .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
      assert(got == want, s"seed $seed: " +
        s"diff=${want.collect { case (k, v) if got(k) != v => (k, v, got(k)) }}")
    }
  }

  test("policyLoopPlan: exemption pins, breach sweeps, no-breach is identity") {
    // 20 files, ids 1..20; % 5 == 0 single-block (4 exempt files)
    val heat = (1 to 20).map(i => (i.toLong, i.toDouble)).toDF("user_id", "ewma")
    val blocks = when(col("user_id") % 5 === 0, 1).otherwise(2)
    // capacity huge -> no breach: plan == plain tiering + pinned exempt
    val calm = Heat.policyLoopPlan(heat, col("user_id"), col("ewma"),
        blocks, sizeBytes = 1000L, capacityBytes = Long.MaxValue / 2)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert((5 to 20 by 5).forall(i => calm(i.toLong) == 3),
      s"exempt files not pinned: $calm")
    assert(calm.values.max == 6 && calm.values.forall(r => r >= 3 && r <= 6))
    // tight capacity -> exactly one sweep: hottest bucket (rep 6)
    // loses its coldest floor(half), and no file drops more than one
    val tight = Heat.policyLoopPlan(heat, col("user_id"), col("ewma"),
        blocks, sizeBytes = 1000L, capacityBytes = 20L * 3500L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val demoted = calm.collect { case (k, v) if tight(k) < v => (k, v - tight(k)) }
    assert(demoted.nonEmpty, "breach did not demote anything")
    assert(demoted.values.forall(_ == 1), s"multi-level demotion: $demoted")
    // exempt files untouched by the sweep (they sit in the unswept
    // minRep bucket)
    assert((5 to 20 by 5).forall(i => tight(i.toLong) == 3))
    // per-bucket arithmetic: each original bucket above minRep lost
    // exactly floor(size/2)
    (4 to 6).foreach { level =>
      val bucket = calm.filter(_._2 == level).keySet
      val lost = bucket.count(k => tight(k) == level - 1)
      assert(lost == bucket.size / 2,
        s"level $level: lost $lost of ${bucket.size}")
    }
    // an empty heat table (no files settled yet) yields an empty
    // plan — sum() over zero rows is SQL NULL, which must not NPE
    // the used-bytes check
    val empty = Heat.policyLoopPlan(heat.limit(0), col("user_id"),
      col("ewma"), blocks, sizeBytes = 1000L, capacityBytes = 3500L)
    assert(empty.count() == 0L)
  }

  test("streaming run() emits a per-batch replication plan view") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import HeatStream._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Access]
    val q = HeatStream.run(spark, input.toDS(), "policy_e2e")
    try {
      input.addData(Access("/hot", 60000L), Access("/hot", 120000L),
        Access("/cold", 60000L))
      q.processAllAvailable()
      val plan = spark.table("global_temp.policy_e2e_plan")
        .collect().map(r => r.getAs[String]("path") -> r.getAs[Int]("target_rep")).toMap
      assert(plan.keySet == Set("/hot", "/cold"))
      assert(plan("/hot") >= plan("/cold"))
    } finally q.stop()
  }

  test("streaming plan tiers a wide batch with exact ntile fill") {
    // 300 keys through the foreachBatch re-tier: the distributed rank
    // (partition-offset + pinned boundaries) must produce the exact
    // ntile tier sizes in the cloned-session streaming path — the
    // setting where inconsistent range boundaries originally bit
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import HeatStream._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Access]
    val q = HeatStream.run(spark, input.toDS(), "policy_wide")
    try {
      // distinct access counts per path -> distinct-ish heats
      val accesses = (1 to 300).flatMap { i =>
        (0 until 1 + i % 7).map(j => Access(s"/f$i", 60000L * (j + 1)))
      }
      input.addData(accesses: _*)
      q.processAllAvailable()
      val plan = spark.table("global_temp.policy_wide_plan")
        .collect().map(r => r.getAs[String]("path") -> r.getAs[Int]("target_rep"))
      assert(plan.length == 300)
      val sizes = plan.groupBy(_._2).view.mapValues(_.length).toMap
      // 300 / 4 tiers = exactly 75 per tier
      assert(sizes == Map(6 -> 75, 5 -> 75, 4 -> 75, 3 -> 75), sizes.toString)
    } finally q.stop()
  }
}

case class Ev(user: Long, t: java.sql.Timestamp, v: Double)

class SessionWindowSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions._

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("streaming session_window merges within-gap events across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val q = EventWindows.sessions(input.toDS().toDF(), "t",
        $"user", watermark = "10 seconds", gap = "1 minute", $"v")
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_test").start()
    try {
      input.addData(Ev(1L, ts(0L), 1.0), Ev(1L, ts(30000L), 2.0))
      q.processAllAvailable()
      // second batch: event 30s after the last -> same session; and a
      // far event 10 min later -> new session
      input.addData(Ev(1L, ts(60000L), 4.0), Ev(1L, ts(600000L), 8.0))
      q.processAllAvailable()
      val got = spark.table("sess_test")
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      // session 1: events at 0s/30s/60s (n=3, sum 7); session 2: the
      // 10-min event alone
      assert(got == Set((1L, 3L, 7.0), (1L, 1L, 8.0)), got.toString)
    } finally q.stop()
  }

  test("session_window merges an event at EXACTLY gap distance (boundary pin)") {
    // q_stream_sessions' oracle breaks sessions strictly past the gap
    // (diff > gap) — this pins the Spark semantics that makes that
    // correct: an event arriving exactly `gap` after the previous one
    // MERGES (the sf0.1 corpus has two exact-gap pairs, so the graded
    // hash compare exercises this for real); one millisecond past the
    // gap splits. The lag-form sessionizer (break on diff > gap)
    // agrees at the boundary by construction.
    import spark.implicits._
    val df = Seq(
      (1L, 0L, 1.0), (1L, 60000L, 2.0),     // exactly gap: same session
      (2L, 0L, 4.0), (2L, 60001L, 8.0)      // gap + 1 ms: two sessions
    ).map { case (u, ms, v) => Ev(u, ts(ms), v) }.toDF("user", "t", "v")
    val got = EventWindows.sessions(df, "t", $"user",
        watermark = "0 seconds", gap = "1 minute", $"v")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == Set((1L, 2L, 3.0), (2L, 1L, 4.0), (2L, 1L, 8.0)), got.toString)
    val viaLag = graft.operators.Temporal.sessionSummary(
        df.select($"user", unix_millis($"t").as("tm"), $"v"),
        $"user", $"tm", gap = 60000L, $"v")
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getDouble(5))).toSet
    assert(viaLag == got, s"lag=$viaLag window=$got")
  }

  test("batch session_window membership matches Temporal.sessionize off-boundary") {
    import spark.implicits._
    val df = Seq(
      (1L, 0L, 1.0), (1L, 50000L, 2.0),    // 50 s apart: same session
      (1L, 200000L, 4.0),                   // 150 s later: new session
      (2L, 10000L, 8.0)
    ).map { case (u, ms, v) => Ev(u, ts(ms), v) }.toDF("user", "t", "v")
    val viaWindow = EventWindows.sessions(df, "t", $"user",
        watermark = "0 seconds", gap = "1 minute", $"v")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    // lag-form sessions on epoch millis with the same 60 s gap
    val viaLag = graft.operators.Temporal.sessionSummary(
        df.select($"user", unix_millis($"t").as("tm"), $"v"),
        $"user", $"tm", gap = 60000L, $"v")
      .collect().map(r => (r.getLong(0), r.getLong(4),
        r.getDouble(5))).toSet
    assert(viaWindow == viaLag, s"window=$viaWindow lag=$viaLag")
  }
}

class StreamAsOfSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import StreamAsOf._

  test("streaming as-of equals the batch join on in-order streams, flags late points") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pts = MemoryStream[Point]
    val snaps = MemoryStream[Snapshot]
    val q = enrich(pts.toDS(), snaps.toDS()).writeStream
      .outputMode("update").format("memory").queryName("asof_test").start()
    try {
      // two MemoryStreams do not co-batch deterministically, so
      // drive the scenario one micro-batch at a time
      pts.addData(Point(1L, 50L, "p0")) // before any snapshot
      q.processAllAvailable()
      snaps.addData(Snapshot(1L, 100L, 5.0))
      q.processAllAvailable()
      pts.addData(Point(1L, 150L, "p1"))
      q.processAllAvailable()
      snaps.addData(Snapshot(1L, 300L, 7.0))
      q.processAllAvailable()
      // an in-order point and a LATE point older than the newest
      // snapshot (gets latest-known, detectable via snapT > t)
      pts.addData(Point(1L, 400L, "p2"), Point(1L, 200L, "late"))
      q.processAllAvailable()
      val got = spark.table("asof_test").as[Enriched].collect()
        .map(e => e.tag -> ((e.snapT, e.snapValue))).toMap
      assert(got("p0") == ((None, None)), "point before any snapshot")
      assert(got("p1") == ((Some(100L), Some(5.0))))
      assert(got("p2") == ((Some(300L), Some(7.0))))
      // the late point carries the newest state; staleness visible
      assert(got("late") == ((Some(300L), Some(7.0))))
      assert(got("late")._1.exists(_ > 200L), "staleness must be detectable")
    } finally q.stop()
  }

  test("cold-key state is evicted after the TTL and re-seeds from scratch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Merged]
    // event-time TTL: a key idle for 1000 ms of DATA time (vs the
    // watermark, which with allowance 0 tracks max(t) seen) is
    // evicted — deterministic, no wall-clock sleeps
    val q = enrichMerged(in.toDS(), stateTtlMs = 1000L, allowedLatenessMs = 0L)
      .writeStream
      .outputMode("update").format("memory").queryName("asof_ttl").start()
    try {
      // seed key 1 and enrich a point through it (watermark -> 150)
      in.addData(Merged(1L, 100L, isPoint = false, "", 5.0),
        Merged(1L, 150L, isPoint = true, "p1", 0.0))
      q.processAllAvailable()
      // traffic for a DIFFERENT key advances the watermark to 5000,
      // past key 1's deadline (150 + 1000); the engine then runs the
      // timer batch itself (shouldRunAnotherBatch on watermark
      // advance), evicting key 1 — processAllAvailable covers it
      in.addData(Merged(2L, 5000L, isPoint = true, "other", 0.0))
      q.processAllAvailable()
      // re-access ABOVE the watermark (not late): key 1's snapshot
      // must be GONE — the point reads unenriched, exactly like a
      // post-restart NameNode forgetting in-RAM heat; the batch
      // as-of join is the documented backfill
      in.addData(Merged(1L, 5500L, isPoint = true, "p2", 0.0))
      q.processAllAvailable()
      // ...and a fresh snapshot re-seeds normally
      in.addData(Merged(1L, 6000L, isPoint = false, "", 9.0),
        Merged(1L, 6500L, isPoint = true, "p3", 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_ttl").as[Enriched].collect()
        .map(e => e.tag -> ((e.snapT, e.snapValue))).toMap
      assert(got("p1") == ((Some(100L), Some(5.0))), "pre-TTL enrichment")
      assert(got("p2") == ((None, None)),
        s"evicted key must re-read as unenriched, got ${got("p2")}")
      assert(got("p3") == ((Some(6000L), Some(9.0))), "re-seeded after eviction")
      // the state store itself shrank: at least one eviction recorded
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed >= 1L, s"state store recorded no eviction ($removed)")
    } finally q.stop()
  }
}

class HeatStreamSpec extends SparkSpec {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import HeatStream._

  test("streaming EWMA matches the pure state machine across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Access]
    val q = heatUpdates(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("heat_test").start()
    try {
      // two micro-batches; second one inside the ewma+30s throttle
      // window (after 100000, 200000 the EWMA is 150000, so a late
      // event at 175000 <= 180000 is skipped)
      input.addData(Access("/a", 100000L), Access("/a", 200000L), Access("/b", 100000L))
      q.processAllAvailable()
      input.addData(Access("/a", 175000L))  // <= ewma+30s -> throttled
      q.processAllAvailable()
      val got = spark.table("heat_test").as[HeatRecord].collect()
        .groupBy(_.path).map { case (p, rs) => p -> rs.maxBy(_.lastUpdateMs) }

      // oracle: pure state machine
      var fa = ReplicationPolicy.FileState("/a", 2, 0, 3, 0.0, ReplicationPolicy.Unseeded)
      Seq(100000L, 200000L, 175000L).foreach { t =>
        fa = ReplicationPolicy.access(fa, t, ReplicationPolicy.Config())._1
      }
      assert(got("/a").ewma == fa.ewma)
      assert(got("/a").lastUpdateMs == 200000L) // throttle held
      assert(got("/b").ewma == 100000.0)
    } finally q.stop()
  }

  test("cold-file heat state is evicted after the TTL and re-seeds unseeded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Access]
    val q = heatUpdates(input.toDS(), stateTtlMs = 1000L,
        allowedLatenessMs = 0L).writeStream
      .outputMode("update").format("memory").queryName("heat_ttl").start()
    try {
      input.addData(Access("/cold", 100000L))
      q.processAllAvailable()
      // traffic for another file pushes the watermark past /cold's
      // 1000 ms-of-event-time deadline; the engine's own timer batch
      // then evicts it (covered by processAllAvailable)
      input.addData(Access("/hot", 200000L))
      q.processAllAvailable()
      // re-access /cold: the EWMA must re-seed from Unseeded (first
      // access semantics: ewma == its own timestamp), NOT blend with
      // the pre-eviction 100000 — the reference-NameNode-restart shape
      input.addData(Access("/cold", 500000L))
      q.processAllAvailable()
      val latest = spark.table("heat_ttl").as[HeatRecord].collect()
        .filter(_.path == "/cold").maxBy(_.lastUpdateMs)
      assert(latest.ewma == 500000.0,
        s"evicted file must re-seed from scratch, got ewma=${latest.ewma}")
      // eviction emits no tombstone row: /cold appears exactly twice
      // (its two accesses), never for the eviction itself
      val coldRows = spark.table("heat_ttl").as[HeatRecord].collect()
        .count(_.path == "/cold")
      assert(coldRows == 2, s"eviction must be silent, got $coldRows rows")
      val removed = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
      assert(removed >= 1L, s"state store recorded no eviction ($removed)")
    } finally q.stop()
  }

  test("TTL eviction is TOTAL amnesia: post-gap folds match a history-free control") {
    // The reference's restart-amnesia contract (FSDirectory.java:
    // 482-495): setDynamicReplication deliberately skips the edit
    // log, so a NameNode restart forgets every dynamic-replication
    // adjustment and the policy re-seeds from scratch — heat history
    // must not leak across the discontinuity. Property here: files
    // with DIFFERENT pre-gap histories (1, 3, and 6 accesses, wildly
    // different EWMAs) that all go cold past the TTL and then replay
    // an IDENTICAL post-gap suffix must emit post-gap records
    // identical to each other AND to a control file that never had a
    // pre-gap history at all. Any divergence = pre-eviction state
    // bleeding through the amnesia boundary.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import HeatStream._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Access]
    val q = heatUpdates(input.toDS(), stateTtlMs = 1000L,
        allowedLatenessMs = 0L).writeStream
      .outputMode("update").format("memory").queryName("heat_amnesia")
      .start()
    try {
      // pre-gap histories: a×1, b×3, c×6 (60 s spacing beats the 30 s
      // throttle, so every access shifts the EWMA); d sends nothing
      val pre =
        (1 to 1).map(k => Access("a", 60000L * k)) ++
        (1 to 3).map(k => Access("b", 60000L * k)) ++
        (1 to 6).map(k => Access("c", 60000L * k))
      input.addData(pre.sortBy(_.tsMs): _*)
      q.processAllAvailable()
      // advance the watermark far past every key's TTL deadline
      input.addData(Access("wm", 10000000L))
      q.processAllAvailable()
      // identical post-gap suffix for all four files
      val suffix = Seq(20000000L, 20060000L, 20120000L)
      for (ts <- suffix) {
        input.addData(Seq("a", "b", "c", "d").map(Access(_, ts)): _*)
        q.processAllAvailable()
      }
      val rows = spark.table("heat_amnesia").as[HeatRecord].collect()
      val postGap = rows.filter(r => r.lastUpdateMs >= 20000000L &&
        Set("a", "b", "c", "d")(r.path))
      // fold signature per file: the ordered (ewma, lastUpdateMs)
      // trajectory after the gap
      val sig = postGap.groupBy(_.path).view.mapValues(
        _.sortBy(_.lastUpdateMs).map(r => (r.ewma, r.lastUpdateMs)).toSeq)
        .toMap
      assert(sig.keySet == Set("a", "b", "c", "d"), sig.keySet.toString)
      val control = sig("d")
      assert(control.nonEmpty)
      for (f <- Seq("a", "b", "c"))
        assert(sig(f) == control,
          s"pre-gap history of '$f' leaked through eviction: " +
            s"${sig(f)} != control $control")
    } finally q.stop()
  }
}
