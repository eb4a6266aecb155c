package graft
package queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Query.t
import OracleSql.{asofSql, ngramJaccardSql, retentionSql, weightedSampleSql,
  words}

/** The streaming twins (SURVEY.md §2.9): each query replays a batch
  * table through a file-source stream ([[graft.Replay]]) and is graded
  * against a batch oracle.
  */
object StreamQueries {

  /** The throttled-EWMA fold as recursive CTEs (they follow WITH
    * RECURSIVE): `ev` numbers each user's accesses in time order, `mx`
    * counts them, and `s` folds them — seed raw on the first access,
    * then skip when t <= ewma + 30000, else blend 0.5/0.5 (bit-exact
    * dyadic blends); `last` moves only on applied updates.
    */
  private val heatFoldSql =
    """ev AS (
      |  SELECT user_id, epoch_us(ts) // 1000 AS t,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts) // 1000) AS rn
      |  FROM events),
      |mx AS (SELECT user_id, max(rn) AS n FROM ev GROUP BY user_id),
      |s AS (
      |  SELECT user_id, rn, CAST(t AS DOUBLE) AS ewma, t AS last
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT s.user_id, s.rn + 1,
      |         CASE WHEN e2.t <= s.ewma + 30000 THEN s.ewma
      |              ELSE 0.5 * s.ewma + 0.5 * e2.t END,
      |         CASE WHEN e2.t <= s.ewma + 30000 THEN s.last
      |              ELSE e2.t END
      |  FROM s JOIN ev e2
      |    ON e2.user_id = s.user_id AND e2.rn = s.rn + 1)""".stripMargin

  /** Shared oracle of q_stream_replication and its recovery twin:
    * the throttled-EWMA fold as a recursive CTE (bit-exact dyadic
    * blends), then tier/exempt/sweep mirrored in closed form.
    */
  private val streamReplicationSql: String =
      s"""WITH RECURSIVE $heatFoldSql,
        |h AS (SELECT s.user_id, s.ewma
        |      FROM s JOIN mx ON s.user_id = mx.user_id AND s.rn = mx.n),
        |tiered AS (
        |  SELECT user_id, ewma,
        |         CAST(7 - ntile(4) OVER (ORDER BY ewma DESC, user_id ASC)
        |              AS INT) AS tr
        |  FROM h WHERE user_id % 5 <> 0
        |  UNION ALL
        |  SELECT user_id, ewma, 3 AS tr FROM h WHERE user_id % 5 = 0),
        |ranked AS (
        |  SELECT user_id, ewma, tr,
        |         row_number() OVER (PARTITION BY tr
        |                            ORDER BY ewma ASC, user_id ASC) AS rk,
        |         count(*) OVER (PARTITION BY tr) AS bn
        |  FROM tiered)
        |SELECT user_id, ewma,
        |       CAST(CASE WHEN tr > 3 AND rk <= bn // 2 THEN tr - 1
        |            ELSE tr END AS INT) AS target_rep
        |FROM ranked""".stripMargin

  /** Run a replay's `stream` to the end into the memory sink `sink`
    * (in output `mode`) and read the sink back.
    */
  private def drain(s: SparkSession, stream: Dataset[_], mode: String,
                    sink: String): DataFrame = {
    val q = stream.writeStream.outputMode(mode).format("memory")
      .queryName(sink).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sink)
  }

  /** The events table as a file-access log: `path` = user_id, `tsMs`
    * the access time in ms.
    */
  private def accesses(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id").cast("string").as("path"),
        expr("ts div 1000000").as("tsMs"))

  /** The throttled-EWMA heat fold over a replay of [[accesses]]. TTL
    * ≫ the fixture's 30-day event span (1e12 ms ≈ 31 years): the
    * graded recurrence must see every access; state lifecycle is
    * graded separately by the TTL eviction specs.
    */
  private def heatUpdates(s: SparkSession, replay: Replay.Staged)
      : Dataset[streaming.HeatStream.HeatRecord] = {
    import s.implicits._
    streaming.HeatStream.heatUpdates(
      replay.stream.as[streaming.HeatStream.Access],
      stateTtlMs = 1000000000000L,
      allowedLatenessMs = 1000000000000L)
  }

  /** Each file's settled heat `m`: its update with the greatest
    * lastUpdateMs (throttled batches re-emit the unchanged record —
    * max(struct) dedups).
    */
  private def settled(updates: DataFrame): DataFrame =
    updates.groupBy(col("path"))
      .agg(max(struct(col("lastUpdateMs"), col("ewma"))).as("m"))

  /** The policy tail of q_stream_replication over heat updates. */
  private def replicationPlan(updates: DataFrame): DataFrame = {
    val heat = settled(updates)
      .select(col("path").cast("long").as("user_id"),
        col("m.ewma").as("ewma"))
    val nFiles = heat.count()
    streaming.Heat.policyLoopPlan(heat, col("user_id"), col("ewma"),
      blocksCol = when(col("user_id") % 5 === 0, 1).otherwise(2),
      sizeBytes = 1000L, capacityBytes = 3500L * math.max(nFiles, 1L))
  }

  /** Each replay runs at [[Replay.StatePartitions]] shuffle partitions. */
  val all: Seq[Query] = Seq(
    // ---- §2.9 streaming twins, graded against BATCH oracles ---------
    // The events table is replayed through a real file-source stream
    // (graft.Replay: 8 parquet files read one per trigger ⇒ 8
    // micro-batches with watermark/state maintenance between them),
    // the sink is collected after processAllAvailable, and the result
    // is graded by the SAME DuckDB oracle a batch query would use —
    // closing the "streaming twins are spec-only" gap: the streaming
    // plan algebra now has rows+schema+hash correctness rows.

    // tumbling event-time day windows (EventWindows.tumbling) in
    // complete mode: the final sink state equals the batch
    // aggregation no matter how the replay micro-batches. Times are
    // integer-floored to seconds (ts DIV 1e9 = epoch_us // 1e6 on
    // the nanos fixture); sums go through DECIMAL(18,2) so partial
    // aggregation order can't move a bit.
    Query("q_stream_windows", (s, dir) => {
      val batch = t(s, dir, "events")
        .select(expr("ts div 1000000000").cast("timestamp").as("ts2"),
          col("event_type"), col("value"))
      val agg = streaming.EventWindows.tumbling(
        Replay.unordered(s, batch).stream, "ts2",
        col("event_type"), "90 days", "1 day",
        col("value").cast("decimal(18,2)"))
      drain(s, agg, "complete", "q_stream_windows_sink")
        .select(col("w_start").cast("long").as("w_start"),
          col("event_type"), col("n"),
          col("total").cast("double").as("total"))
    },
      // q_stream_windows: the streamed tumbling-window aggregation's
      // final (complete-mode) state must equal the plain batch GROUP BY
      // — day floors via integer division, sums via exact DECIMAL
      """SELECT (epoch_us(ts) // 1000000 // 86400) * 86400 AS w_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),

    // streaming distinct-count sketch (StreamSketch.perWindow): per
    // event-time day window, ONE theta sketch of user_id built by
    // the declarative theta_sketch_agg streaming aggregation —
    // sketch union is order-free, so the replay's micro-batch order
    // cannot move the estimate, and below 2^20 distinct keys the
    // estimate is EXACT, grading against per-window COUNT(DISTINCT).
    // The -1 rollup row re-unions the per-window sketches from the
    // SINK (panelRollup's law on streamed output): the emitted
    // artifact stays mergeable, not just readable.
    Query("q_stream_sketch", (s, dir) => {
      val batch = t(s, dir, "events")
        .select(expr("ts div 1000000000").cast("timestamp").as("ts2"),
          col("user_id"))
      val est = streaming.StreamSketch.perWindow(
        Replay.unordered(s, batch).stream, "ts2", "90 days", "1 day",
        col("user_id"))
      val sink = drain(s, est, "complete", "q_stream_sketch_sink")
      sink.select(col("window_start"), col("distinct_est"))
        .unionByName(sink.agg(
          lit(-1L).as("window_start"),
          call_function("theta_sketch_estimate",
            call_function("theta_union_agg", col("theta"), lit(20)))
            .as("distinct_est")))
    },
      // q_stream_sketch: per-day theta distinct estimates are exact
      // below capacity, so they equal COUNT(DISTINCT) per window; the
      // -1 row is the cross-window sketch union = global distinct
      """SELECT (epoch_us(ts) // 1000000 // 86400) * 86400
        |         AS window_start,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_est
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS window_start,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_est
        |FROM events""".stripMargin),

    // streaming weighted sample (StreamSample.perWindow): the A-ES
    // draw is a pure function of (doc_id, seed), so the per-window
    // top-k state merge is order-insensitive and the stream's sample
    // EQUALS the batch operator's — graded by q_weighted_sample's
    // oracle VERBATIM. The corpus replays as 8 ordered files inside
    // one window; a 9th, later file carries only a watermark
    // heartbeat (time moves on) that closes the window and flushes
    // the sample exactly once. Map-side thinning forwards ≤ k
    // candidates per partition per batch into the single window
    // group.
    Query("q_stream_sample", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val batch = docs.select(
          lit(new java.sql.Timestamp(100000L)).as("ts"),
          col("doc_id").cast("string").as("key"),
          col("n_chars").cast("double").as("weight"),
          col("doc_id").as("__ord"))
        .unionByName(s.range(1).select(
          lit(new java.sql.Timestamp(1300000L)).as("ts"),
          lit(null).cast("string").as("key"),
          lit(0.0).as("weight"),
          lit(Long.MaxValue).as("__ord")))
      val stream = Replay.ordered(s, batch, col("__ord"), nFiles = 9).stream
        .select(col("ts"), col("key"), col("weight"))
        .as[streaming.StreamSample.Item]
      val picks = streaming.StreamSample.perWindow(stream,
        windowMillis = 600000L, watermark = "10 minutes", k = 20)
      drain(s, picks, "append", "q_stream_sample_sink")
        .select(col("key"), col("draw"))
        .join(docs, col("key") === docs("doc_id").cast("string"))
        .select(docs("doc_id"), docs("text"), docs("lang"),
          docs("source"), docs("n_chars"), col("draw"))
    },
      // q_stream_sample: the batch oracle VERBATIM — the streaming
      // twin's window holds the whole corpus and the A-ES draw is
      // arrival-order-free, so the flushed sample must equal the batch
      // operator's top-20 exactly (draw bits included)
      weightedSampleSql),

    // streaming count-min sketch (StreamCms.perWindow): the corpus'
    // word stream replayed through 9 ordered files inside one
    // window; each partition pre-aggregates to a partial sketch
    // map-side (≤ depth·width cells forwarded per batch, never the
    // items) and the window's dense 4×64 state flushes once on the
    // heartbeat-driven close. Cell-wise sums are order-free, so the
    // emitted table equals the batch cmsTable bit-for-bit and grades
    // against the same SQL derivation as q_cms's tbl stage.
    Query("q_stream_cms", (s, dir) => {
      import s.implicits._
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val batch = words.select(
          lit(new java.sql.Timestamp(100000L)).as("ts"),
          col("w").as("item"),
          monotonically_increasing_id().as("__ord"))
        .unionByName(s.range(1).select(
          lit(new java.sql.Timestamp(1300000L)).as("ts"),
          lit("closer").as("item"),
          lit(Long.MaxValue).as("__ord")))
      val stream = Replay.ordered(s, batch, col("__ord"), nFiles = 9).stream
        .select(col("ts"), col("item")).as[streaming.StreamCms.Item]
      val cells = streaming.StreamCms.perWindow(stream,
        windowMillis = 600000L, watermark = "10 minutes",
        depth = 4, width = 64)
      drain(s, cells, "append", "q_stream_cms_sink").filter(col("windowStart") === 0L)
        .select(col("r"), col("bucket"), col("cnt"))
    },
      // q_stream_cms: the sketch TABLE re-derived (q_cms's tbl stage)
      // — the streaming window holds the whole corpus' word stream and
      // cell sums are order-free, so the flushed table is the batch
      // table exactly. The extra 'closer' heartbeat word lands in a
      // later window that never closes, so it cannot leak into the
      // graded window-0 rows.
      s"""WITH $words
        |SELECT i AS r,
        |       CAST(('0x' || substr(md5(w || ':' || i), 1, 8)) AS BIGINT)
        |         % 64 AS bucket,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM toks, unnest([0, 1, 2, 3]) AS u(i)
        |GROUP BY 1, 2""".stripMargin),

    // streaming dedup (StreamDedup.withinWatermark) on the
    // (user_id, event_type) key: the watermark outlives the replay
    // span, so no event is ever late-dropped and the appended
    // survivors are exactly the distinct key set — deterministic even
    // though WHICH copy survives depends on file arrival order
    // (only the key columns are emitted). State is the exercised
    // surface: keys ride the state store across 8 micro-batches.
    Query("q_stream_dedup", (s, dir) => {
      val batch = t(s, dir, "events")
        .select(expr("ts div 1000000000").cast("timestamp").as("ts2"),
          col("user_id"), col("event_type"))
      val deduped = streaming.StreamDedup.withinWatermark(
        Replay.unordered(s, batch).stream, "ts2", "3650 days",
        Seq("user_id", "event_type"))
      drain(s, deduped, "append", "q_stream_dedup_sink")
        .select(col("user_id"), col("event_type"))
    },
      // q_stream_dedup: the appended stream-dedup survivors are exactly
      // the distinct key set (watermark outlives the replay span; only
      // key columns emitted, so arrival order is invisible)
      "SELECT DISTINCT user_id, event_type FROM events"),

    // streaming MinHash-LSH near-dup (StreamNearDup.pairs) at the
    // oracle-parity banding (bands = numHashes = 16): documents
    // replayed through 8 unordered micro-batches, each pair emitted
    // exactly once by its first shared band when its LATER member
    // arrives (state: per-bucket signatures + shingle-hash sets
    // across the replay), appended output graded by the SAME exact-
    // Jaccard oracle as q_minhash_lsh/q_ngram_jaccard — the batch/
    // stream pair-set equality is the operator's contract
    Query("q_stream_neardup", (s, dir) => {
      val batch = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // -Dgraft.stream.ledger=true (Profile --streamphases) turns on
      // the in-operator phase accumulators (signature-walk vs rerank
      // nanos) on the EXACT graded shape; off, the hot loop carries
      // no timing calls
      val pairs = streaming.StreamNearDup.pairs(
        Replay.unordered(s, batch).stream, col("doc_id"), col("text"),
        shingleN = 3, numHashes = 16, bands = 16, threshold = 0.5,
        ledger = java.lang.Boolean.getBoolean("graft.stream.ledger"))
      drain(s, pairs, "append", "q_stream_neardup_sink")
        .select(col("id_a"), col("id_b"), col("jaccard"))
    },
      // q_stream_neardup: the streaming LSH twin at the same
      // oracle-parity banding — its appended pair set equals the batch
      // operator's, so the exact-Jaccard oracle applies verbatim
      ngramJaccardSql),

    // gap-session windows (EventWindows.sessions) in complete mode:
    // sessions merge ACROSS unordered micro-batches (an early file may
    // hold the middle of a session whose edges arrive later — the
    // session-window state store must merge three fragments), and the
    // final state equals the batch lag-form sessionization. Spark's
    // session_window treats an event exactly `gap` later as the SAME
    // session (merge condition start <= end on half-open windows), so
    // the oracle breaks strictly greater-than; timestamps are floored
    // to seconds, sums ride DECIMAL(18,2).
    Query("q_stream_sessions", (s, dir) => {
      val batch = t(s, dir, "events")
        .select(expr("ts div 1000000000").cast("timestamp").as("ts2"),
          col("user_id"), col("value"))
      val agg = streaming.EventWindows.sessions(
        Replay.unordered(s, batch).stream, "ts2",
        col("user_id"), "3650 days", "12 hours",
        col("value").cast("decimal(18,2)"))
      drain(s, agg, "complete", "q_stream_sessions_sink")
        .select(col("s_start").cast("long").as("s_start"),
          col("s_end").cast("long").as("s_end"),
          col("user_id"), col("n"),
          col("total").cast("double").as("total"))
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t,
        |                  CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |y AS (SELECT user_id, t, v,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |                  > 43200 THEN 1 ELSE 0 END AS nw
        |      FROM e),
        |z AS (SELECT user_id, t, v,
        |        sum(nw) OVER (PARTITION BY user_id ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM y)
        |SELECT min(t) AS s_start, max(t) + 43200 AS s_end, user_id,
        |       count(*) AS n, CAST(sum(v) AS DOUBLE) AS total
        |FROM z GROUP BY user_id, sid""".stripMargin),

    // streaming retention cohorts: the per-user fold (min bucket +
    // active-bucket set) runs as ONE complete-mode streaming
    // aggregation across 8 unordered micro-batches — set state
    // bounded by buckets/user, never events — and the (cohort,
    // period) matrix is the batch rollup of the sink. Same oracle
    // as q_retention: the stream must converge to the batch answer.
    Query("q_stream_retention", (s, dir) => {
      val batch = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").as("u"),
          operators.Temporal.timeBucket(col("ts"), 604800000000000L)
            .as("b"))
      val agg = Replay.unordered(s, batch).stream.groupBy(col("u"))
        .agg(min(col("b")).as("cohort"), collect_set(col("b")).as("bs"))
      drain(s, agg, "complete", "q_stream_retention_sink")
        .select(col("cohort"), explode(col("bs")).as("b"))
        .groupBy(col("cohort"), (col("b") - col("cohort")).as("period"))
        .agg(count(lit(1)).as("users"))
    },
      // q_stream_sessions: final complete-mode session-window state vs
      // the batch lag-form. Spark's session_window merges an event at
      // EXACTLY gap distance (merge condition start <= current end), so
      // the break is strictly greater-than; session end = last event +
      // gap.
      // q_stream_retention: the streamed fold must converge to the
      // batch cohort matrix — q_retention's oracle verbatim
      retentionSql),

    // streaming as-of enrichment (StreamAsOf.enrichMerged): the
    // interleaved point/snapshot log replays through an ORDERED file
    // stream (each micro-batch a time slice), so the O(1)-per-key
    // state (latest snapshot only) reproduces the batch as-of join
    // exactly — same split of the events table as q_asof_join, same
    // DuckDB ASOF LEFT JOIN oracle. Update-mode memory sink: each
    // point emits exactly once, in the batch it arrives.
    Query("q_stream_asof", (s, dir) => {
      val e = t(s, dir, "events")
      val merged = e.filter(col("event_id") % 7 =!= 0)
        .select(col("user_id").as("key"), expr("ts div 1000").as("t"),
          lit(true).as("isPoint"),
          col("event_id").cast("string").as("tag"), lit(0.0).as("value"))
        .unionByName(e.filter(col("event_id") % 7 === 0)
          .select(col("user_id").as("key"), expr("ts div 1000").as("t"),
            lit(false).as("isPoint"), lit("").as("tag"), col("value")))
      val stream = Replay.ordered(s, merged, col("t")).stream
        .as(org.apache.spark.sql.Encoders.product[streaming.StreamAsOf.Merged])
      // t is epoch-MICROseconds here (ts div 1000), so the ms-named
      // TTL/lateness params count µs on this stream: pass explicit
      // values ≫ the fixture's 30-day span (1e15 µs ≈ 31 years) so
      // the lifecycle machinery provably cannot evict or drop
      // anything mid-replay and the oracle equality is untouched
      val enriched = streaming.StreamAsOf.enrichMerged(stream,
        stateTtlMs = 1000000000000000L,
        allowedLatenessMs = 1000000000000000L)
      drain(s, enriched, "update", "q_stream_asof_sink")
        .select(col("tag").cast("long").as("event_id"),
          col("key").as("user_id"), col("t").as("ts"),
          col("snapValue").as("snap_value"))
    },
      // q_stream_asof: identical oracle to q_asof_join — the ordered
      // replay makes the O(1)-state streaming enrichment equal the
      // batch as-of join row for row
      asofSql),

    // streaming heavy hitters (StreamHeavyHitters.perWindow): append
    // mode — a day window emits exactly once, when the watermark
    // passes its end. Ordered replay + zero watermark delay make the
    // emission set deterministic: exactly the windows whose end is
    // strictly before the corpus' max event second. Capacity 64 >
    // the 5 distinct event_types, so the Misra-Gries sketch never
    // decrements and min_count IS the exact per-window count — the
    // oracle is a plain GROUP BY over the closed windows.
    Query("q_stream_heavy", (s, dir) => {
      import s.implicits._
      val batch = t(s, dir, "events")
        .select(expr("ts div 1000000000").cast("timestamp").as("ts"),
          col("event_type").as("item"))
      val stream = Replay.ordered(s, batch, col("ts")).stream
        .as[streaming.StreamHeavyHitters.Item]
      val heavy = streaming.StreamHeavyHitters
        .perWindow(stream, 86400000L, "0 seconds", capacity = 64)
      drain(s, heavy, "append", "q_stream_heavy_sink")
        .select(expr("windowStart div 1000").as("w_start"), col("item"),
          col("minCount").as("min_count"), col("n"))
    },
      // q_stream_heavy: append-mode emission = exactly the day windows
      // whose end is strictly before the max event second (the final
      // watermark with zero delay); capacity exceeds the distinct item
      // count, so sketch lower bounds are exact counts
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS t, event_type
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT (t // 86400) * 86400 AS w_start, event_type AS item,
        |             count(*) AS min_count
        |      FROM e GROUP BY 1, 2),
        |tot AS (SELECT w_start, CAST(sum(min_count) AS BIGINT) AS n
        |        FROM g GROUP BY 1)
        |SELECT g.w_start, g.item, g.min_count, tot.n
        |FROM g JOIN tot USING (w_start), (SELECT max(t) AS mt FROM e) mx
        |WHERE g.w_start + 86400 < mx.mt""".stripMargin),

    // the Misra-Gries sketch UNDER DECREMENT PRESSURE, graded: the
    // item universe is ~504 keys (5 heavy event_types on even
    // event_ids + a 499-key tail on odd ones) against capacity 24,
    // so the sketch decrements constantly inside every window state —
    // then the phiHeavyHitters decide phase recounts the surviving
    // candidates exactly and thresholds at ceil(φ·n). φ = 0.05 >
    // 1/(capacity+1) = 0.04 keeps the no-false-negative guarantee
    // (any item above n/25 survives the sketch), so the decided
    // output provably equals the exact φ-heavy-hitters per closed
    // window — which is precisely what the oracle computes with a
    // plain GROUP BY. A sketch regression that drops a true heavy
    // hitter under pressure loses a row and hash-mismatches.
    Query("q_stream_heavy_pressure", (s, dir) => {
      import s.implicits._
      val phi = 0.05
      val base = t(s, dir, "events")
        .select(expr("ts div 1000000000").cast("timestamp").as("ts"),
          when(col("event_id") % 2 === 0, col("event_type"))
            .otherwise(concat(lit("u"),
              (col("event_id") % 499).cast("string"))).as("item"))
        .filter(col("item").isNotNull && col("ts").isNotNull)
      val stream = Replay.ordered(s, base, col("ts")).stream
        .as[streaming.StreamHeavyHitters.Item]
      val sketch = streaming.StreamHeavyHitters
        .perWindow(stream, 86400000L, "0 seconds", capacity = 24)
      // decide phase: candidates (≤ capacity per window) broadcast
      // against one exact recount of the same table — the sketch
      // only proposes, exact counting decides (phiHeavyHitters'
      // two-pass discipline, reference SortValidator.java's
      // self-validating-job pattern)
      val cands = drain(s, sketch, "append", "q_stream_pressure_sink")
        .select(expr("windowStart div 1000").as("w_start"), col("item"),
          col("n"))
      val counted = base
        .select((expr("CAST(ts AS LONG) div 86400") * 86400).as("w_start"),
          col("item"))
        .groupBy(col("w_start"), col("item"))
        .agg(count(lit(1)).as("cnt"))
      counted.join(broadcast(cands), Seq("w_start", "item"))
        .filter(col("cnt") >= ceil(lit(phi) * col("n")))
        .select(col("w_start"), col("item"), col("cnt"), col("n"))
    },
      // q_stream_heavy_pressure: the sketch only proposes and the exact
      // recount decides, so the oracle is the plain per-closed-window
      // φ-heavy-hitters GROUP BY — the Misra-Gries guarantee
      // (φ = 0.05 > 1/(capacity+1) = 0.04) makes the decided output
      // equal it even though the sketch decrements throughout
      """WITH e AS (
        |  SELECT t, item FROM (
        |    SELECT epoch_us(ts) // 1000000 AS t,
        |           CASE WHEN event_id % 2 = 0 THEN event_type
        |                ELSE 'u' || CAST(event_id % 499 AS VARCHAR) END
        |             AS item
        |    FROM events WHERE ts IS NOT NULL)
        |  WHERE item IS NOT NULL),
        |g AS (SELECT (t // 86400) * 86400 AS w_start, item,
        |             count(*) AS cnt
        |      FROM e GROUP BY 1, 2),
        |tot AS (SELECT w_start, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM g GROUP BY 1)
        |SELECT g.w_start, g.item, g.cnt, tot.n
        |FROM g JOIN tot USING (w_start), (SELECT max(t) AS mt FROM e) mx
        |WHERE g.w_start + 86400 < mx.mt
        |  AND g.cnt >= ceil(0.05 * tot.n)""".stripMargin),

    // the §0.1 policy loop ITSELF as a graded stream: per-file
    // EWMA-with-atime-throttle state (HeatStream.heatUpdates — the
    // reference's FSDirectory EWMA + 30 s precision skip) over an
    // ordered replay of access events. The throttle makes the fold
    // state-dependent (skip iff now <= ewma + 30000), so the oracle
    // replays the exact recurrence as a recursive CTE; α = 0.5 keeps
    // every step a dyadic-rational blend evaluated in the same order
    // in both engines — doubles match bit for bit, no rounding
    // needed. Same-millisecond access pairs are provably
    // order-invariant under the throttle (first one seeds/updates,
    // the second always throttles at equal t), so row_number tie
    // order can't drift the result. Final state per file = the
    // update-mode record with the greatest lastUpdateMs (throttled
    // batches re-emit the unchanged record — max(struct) dedups).
    Query("q_stream_heat", (s, dir) => {
      val replay = Replay.ordered(s, accesses(s, dir), col("tsMs"))
      settled(drain(s, heatUpdates(s, replay), "update", "q_stream_heat_sink"))
        .select(col("path").cast("long").as("user_id"),
          col("m.ewma").as("ewma"),
          col("m.lastUpdateMs").as("last_update_ms"))
    },
      // q_stream_heat: the throttled-EWMA policy fold replayed as a
      // recursive CTE — seed raw on first access, then skip when
      // t <= ewma + 30000 else blend 0.5/0.5; lastUpdate moves only on
      // applied updates. Equal-millisecond ties are order-invariant
      // (see the query comment), so the CTE's row_number order is free
      s"""WITH RECURSIVE $heatFoldSql
        |SELECT s.user_id, s.ewma, s.last AS last_update_ms
        |FROM s JOIN mx ON s.user_id = mx.user_id AND s.rn = mx.n""".stripMargin),

    // the FULL §0.1 policy loop, streamed end-to-end and graded:
    // ordered replay → the real flatMapGroupsWithState throttled-EWMA
    // state machine (q_stream_heat's machinery) → settled per-file
    // heat → tier assignment with the single-block exemption
    // (user_id % 5 == 0 models the exempt files,
    // FSNamesystem.java:4427-4430) → used-bytes capacity check →
    // ONE demoteSweep (coldest half of every bucket down a level,
    // FSNamesystem.java:4456-4480). Capacity = 3.5·n·size makes the
    // 0.8-top breach PROVABLE at any sf (used ≥ 3·n·size > 2.8·n·size
    // even if every file tiers at minRep), so the graded plan always
    // contains a real sweep — the no-breach branch is spec-gated
    // (ReplicationPolicySpec). The oracle replays the identical
    // throttled fold as a recursive CTE (bit-exact dyadic blends),
    // then mirrors tier/exempt/sweep in closed form.
    Query("q_stream_replication", (s, dir) => {
      val replay = Replay.ordered(s, accesses(s, dir), col("tsMs"))
      replicationPlan(
        drain(s, heatUpdates(s, replay), "update", "q_stream_repl_sink"))
    },
      // q_stream_replication: the q_stream_heat fold, then the policy
      // tail in closed form — exempt files (user_id % 5 = 0) pin at 3;
      // multi-block files ntile(4) into reps 6..3 by (ewma DESC, id);
      // used = 1000·Σrep vs capacity 3500·n at top 0.8 always breaches
      // (used ≥ 3000·n > 2800·n), so the coldest floor(half) of every
      // bucket above 3 — ranked (ewma ASC, id ASC) within the ORIGINAL
      // assignment, which equals the reference's ascending sweep over
      // mutable buckets — drops one level
      streamReplicationSql),

    // q_stream_replication with a HARD stop + checkpoint restart in
    // the middle of the replay — the recovery grading for the most
    // state-critical query: the first four time slices stream, the
    // query is killed, the remaining four arrive, a NEW query resumes
    // from the SAME checkpoint, and the final replication plan is
    // graded against the identical oracle as the uninterrupted run.
    // Only the recovered per-file EWMA state (offset log + state
    // store) can make the resumed fold land on the same numbers; the
    // memory sink of the base query is replaced by a foreachBatch
    // parquet append because an in-memory sink does not survive a
    // restart (it is not fault-tolerant — the point of the exercise).
    Query("q_stream_replication_recovery", (s, dir) => {
      val replay =
        Replay.ordered(s, accesses(s, dir), col("tsMs"), held = true)
      def run(): Unit = {
        val q = heatUpdates(s, replay).writeStream.outputMode("update")
          .option("checkpointLocation", replay.checkpoint)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              streaming.HeatStream.HeatRecord], _: Long) =>
            b.write.mode("append").parquet(replay.sink); ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      replay.release(4); run() // phase 1, then the hard stop
      replay.release(8); run() // resume from the SAME checkpoint
      replicationPlan(s.read.parquet(replay.sink))
    },
      // row-identical to the uninterrupted run by construction — the
      // recovery replay feeds the SAME events through a mid-replay
      // kill + checkpoint resume, so the graded contract is "restart
      // changes nothing": the oracle is shared verbatim
      streamReplicationSql),
  ).map(q => q.copy(run = (s, dir) =>
    Replay.withStateWidth(s)(q.run(s, dir))))
}
