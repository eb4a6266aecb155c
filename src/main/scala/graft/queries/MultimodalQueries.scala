package graft
package queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Query.t
import OracleSql.{asofSql, weightedSampleSql, wsToks}

/** Multimodal plumbing, deterministic sampling and export, and
  * temporal joins and event grouping.
  */
object MultimodalQueries {

  /** Shared prelude of q_range_join / q_active_count: error events
    * as (event_id, t) points and 12-hour-gap session summaries as
    * (start_t, end_t) intervals, both on the us timeline. One
    * definition so the twins' "identical semantics" contract can't
    * silently drift.
    */
  private def errorsAndSessions(s: SparkSession,
                                dir: String): (DataFrame, DataFrame) = {
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"),
      expr("ts div 1000").as("t"), col("event_type"), col("value"))
    val sess = operators.Temporal.sessionSummary(
        e.select(col("user_id"), col("t").as("ts"), col("value")),
        col("user_id"), col("ts"), gap = 43200000000L,
        col("value").cast("decimal(18,2)"))
      .select(col("start_t"), col("end_t"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("t"))
    (errors, sess)
  }

  /** One synthesized clip per doc_id < 40: `encode` renders the clip
    * of class doc_id % 5 as bytes of MIME type `mime`.
    */
  private def media(s: SparkSession, dir: String, mime: String,
                    encode: Int => Array[Byte])
      : Dataset[functions.Multimodal.MediaRow] = {
    import s.implicits._
    t(s, dir, "documents").filter(col("doc_id") < 40)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => functions.Multimodal.MediaRow(
        id, mime, encode((id % 5).toInt))))
  }

  /** Oracle of the image and audio near-dup queries: every pair of the
    * 40 synthesized clips in one class (doc_id % 5), at Hamming 0.
    */
  private val sameClassPairsSql =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(0 AS INT) AS hamming
      |FROM documents a JOIN documents b
      |  ON a.doc_id % 5 = b.doc_id % 5 AND a.doc_id < b.doc_id
      |WHERE a.doc_id < 40 AND b.doc_id < 40""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- L4: multimodal plumbing (stub decode, real dataflow) -------
    Query("q_multimodal_meta", (s, dir) =>
      functions.Multimodal.decodeMeta(
        functions.Multimodal.asMedia(t(s, dir, "documents"),
          "doc_id", "text")).toDF(),
      """SELECT doc_id, 'image/fake' AS media_type,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       md5(text) AS digest,
        |       CAST(64 + octet_length(encode(text)) % 577 AS INT) AS width,
        |       CAST(64 + (octet_length(encode(text)) * 31) % 433 AS INT) AS height
        |FROM documents""".stripMargin),

    // image near-dup end-to-end with REAL codecs: each doc_id < 40
    // becomes a deterministic 9x8 pattern PNG whose decoded dHash is
    // doc_id % 5's designed bit pattern — so the full decode →
    // perceptual-hash → Hamming-block → pair path must recover
    // exactly the same-class pairs the oracle derives from doc_id
    // arithmetic (PNG is lossless; distinct classes differ in >= 2
    // gradient signs per row, far outside maxHamming = 0)
    Query("q_image_neardup", (s, dir) =>
      functions.Multimodal.imageNearDups(
        media(s, dir, "image/png", functions.Multimodal.patternPng),
        maxHamming = 0),
      // q_image_neardup: the engine must recover exactly the same-class
      // pairs (class = doc_id % 5) among the 40 synthesized PNGs, each
      // at Hamming 0 — pure doc_id arithmetic on the oracle side, a
      // real decode + perceptual hash + blocking pipeline on the Spark
      // side. hamming is Spark's bit_count type (INT).
      sameClassPairsSql),

    // video near-dup end-to-end (GIF frames, real codecs): doc_id % 5
    // selects a 3-frame pattern clip; frame-level dHash containment
    // must recover the same-class pairs with every frame shared
    Query("q_video_neardup", (s, dir) =>
      functions.Multimodal.videoNearDups(
        media(s, dir, "image/gif", functions.Multimodal.patternGif(_)),
        minOverlap = 0.9),
      // q_video_neardup: doc_id arithmetic again — all 3 designed
      // frames shared within a class, none across classes
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(3 AS BIGINT) AS shared,
        |       round(CAST(1 AS DOUBLE), 4) AS overlap
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 5 = b.doc_id % 5 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 40 AND b.doc_id < 40""".stripMargin),

    // audio near-dup end-to-end with REAL codecs (javax.sound PCM
    // decode): same witness scheme as q_image_neardup — doc_id % 5
    // selects a deterministic amplitude-modulation pattern, the
    // energy-envelope hash recovers exactly the same-class pairs
    Query("q_audio_neardup", (s, dir) =>
      functions.Multimodal.audioNearDups(
        media(s, dir, "audio/wav", functions.Multimodal.patternWav),
        maxHamming = 0),
      // q_audio_neardup: same doc_id-arithmetic oracle as
      // q_image_neardup — the engine side swaps codec and fingerprint,
      // the truth set does not change
      sameClassPairsSql),

    // ---- L4: deterministic sampling / export (InputSampler made
    // content-level: reference lib/InputSampler.java samples splits;
    // a training mix samples rows, reproducibly) ---------------------
    Query("q_sample_hash", (s, dir) =>
      functions.Sampling.hashSample(t(s, dir, "documents"),
        col("doc_id"), rate = 0.25)
        .select(col("doc_id"), col("lang")),
      // deterministic md5-prefix samples: the oracle re-derives the
      // EXACT sample (the operators' portability contract — hex-prefix
      // compare is lexicographic = numeric). Thresholds: rate × 16⁸.
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)
        |      < '40000000'""".stripMargin),

    // deterministic weighted sample (Efraimidis-Spirakis A-ES):
    // longer docs proportionally likelier, yet the draw is a pure
    // function of (doc_id, seed) — top-20 by u^(1/n_chars)
    Query("q_weighted_sample", (s, dir) =>
      functions.Sampling.weightedSample(t(s, dir, "documents"),
        col("doc_id"), col("n_chars"), k = 20),
      // q_weighted_sample: the oracle re-derives the exact A-ES draw —
      // same md5 uniform, same pow; both engines' libm pow agree on
      // these inputs and the 9-sig-fig compare absorbs ulp noise
      weightedSampleSql),

    // deterministic global shuffle: content-hash training order,
    // reproducible across retries/engines/cluster sizes
    Query("q_shuffle", (s, dir) =>
      functions.Sampling.deterministicShuffle(t(s, dir, "documents"),
        col("doc_id"), seed = 7L)
        .select(col("doc_id"), col("rank")),
      // deterministic shuffle: the permutation is a pure function of
      // (content hash, seed) — one window re-derives it exactly
      """SELECT doc_id,
        |       row_number() OVER (
        |         ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8),
        |                  CAST(doc_id AS VARCHAR)) AS "rank"
        |FROM documents""".stripMargin),

    Query("q_sample_stratified", (s, dir) =>
      functions.Sampling.stratifiedHashSample(t(s, dir, "documents"),
        col("doc_id"), col("lang"),
        rates = Map("en" -> 0.5, "de" -> 0.25), default = 0.1)
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)
        |      < CASE lang WHEN 'en' THEN '80000000'
        |                  WHEN 'de' THEN '40000000'
        |                  ELSE '19999999' END""".stripMargin),

    Query("q_sample_stratum_k", (s, dir) =>
      functions.Sampling.perStratumSample(t(s, dir, "documents"),
        col("doc_id"), col("lang"), k = 20)
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang
        |  ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8),
        |           doc_id) <= 20""".stripMargin),

    // rebalance the corpus toward a 60/25/15 en/de/zh mix (es/fr
    // unweighted -> dropped); the oracle re-derives the exact rates
    // from the group counts and replays the hash thresholds
    Query("q_mix_weights", (s, dir) =>
      functions.Sampling.mixByWeight(t(s, dir, "documents"),
        col("doc_id"), col("lang"),
        weights = Map("en" -> 0.6, "de" -> 0.25, "zh" -> 0.15))
        .select(col("doc_id"), col("lang")),
      // the mix rates re-derived exactly: c = min(n/w) over weighted
      // groups, rate = min(1, c*w/n), then the same md5-prefix
      // threshold as the other sampling oracles (to_hex is uppercase
      // in DuckDB -> lower())
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |wt(lang, w) AS (VALUES ('en', CAST(0.6 AS DOUBLE)),
        |                       ('de', CAST(0.25 AS DOUBLE)),
        |                       ('zh', CAST(0.15 AS DOUBLE))),
        |sc AS (SELECT min(CAST(n AS DOUBLE) / w) AS c
        |       FROM cnt JOIN wt USING (lang)),
        |r AS (SELECT lang,
        |             least(CAST(1.0 AS DOUBLE),
        |                   (SELECT c FROM sc) * w / CAST(n AS DOUBLE)) AS rate
        |      FROM cnt JOIN wt USING (lang))
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) <
        |      CASE WHEN CAST(floor(rate * 4294967296.0) AS BIGINT)
        |                >= 4294967296 THEN 'g'
        |           ELSE lower(lpad(to_hex(CAST(floor(rate * 4294967296.0)
        |                                       AS BIGINT)), 8, '0')) END""".stripMargin),

    // the curation composition: repetition pre-filter (fixed 0.55
    // dup-token threshold, ~the corpus median on the graded
    // testdata) -> deterministic re-mix of the survivors toward
    // target language weights. tokenDupStats, not the full
    // repetitionReport: the n-gram branch would run and be discarded
    Query("q_curation", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rep = functions.TextAnalysis.tokenDupStats(docs,
        col("doc_id"), col("text"))
      val kept = docs.join(
        rep.filter(col("dup_token_frac") <= 0.55).select("doc_id"),
        Seq("doc_id"))
      functions.Sampling.mixByWeight(kept, col("doc_id"), col("lang"),
        weights = Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25))
        .select(col("doc_id"), col("lang"))
    },
      // curation = the repetition oracle's dup fraction as a filter,
      // then the mix oracle's rate derivation over the SURVIVORS
      s"""WITH ${wsToks("FROM documents WHERE text IS NOT NULL")},
        |tc AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
        |  GROUP BY doc_id, tok),
        |pd AS (
        |  SELECT doc_id,
        |         round(CAST(sum(c) - count(*) AS DOUBLE)
        |               / CAST(sum(c) AS DOUBLE), 4) AS dup
        |  FROM tc GROUP BY doc_id),
        |kept AS (
        |  SELECT d.doc_id, d.lang
        |  FROM documents d JOIN pd USING (doc_id)
        |  WHERE pd.dup <= 0.55),
        |cnt AS (SELECT lang, count(*) AS n FROM kept GROUP BY lang),
        |wt(lang, w) AS (VALUES ('en', CAST(0.5 AS DOUBLE)),
        |                       ('de', CAST(0.25 AS DOUBLE)),
        |                       ('es', CAST(0.25 AS DOUBLE))),
        |sc AS (SELECT min(CAST(n AS DOUBLE) / w) AS c
        |       FROM cnt JOIN wt USING (lang)),
        |r AS (SELECT lang,
        |             least(CAST(1.0 AS DOUBLE),
        |                   (SELECT c FROM sc) * w / CAST(n AS DOUBLE)) AS rate
        |      FROM cnt JOIN wt USING (lang))
        |SELECT k.doc_id, k.lang
        |FROM kept k JOIN r USING (lang)
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) <
        |      CASE WHEN CAST(floor(rate * 4294967296.0) AS BIGINT)
        |                >= 4294967296 THEN 'g'
        |           ELSE lower(lpad(to_hex(CAST(floor(rate * 4294967296.0)
        |                                       AS BIGINT)), 8, '0')) END""".stripMargin),

    // token-budget shard packing — the training-export step
    Query("q_pack_shards", (s, dir) =>
      functions.Sampling.packByBudget(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          functions.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        col("lang"), Seq(col("doc_id")), col("n_tokens"), budget = 2000L),
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                  x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (
        |         PARTITION BY lang ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       // 2000 AS BIGINT) AS shard
        |FROM t""".stripMargin),

    // ---- L4: temporal joins / event grouping ------------------------
    // point-in-time join: each measurement event picks up the latest
    // preceding snapshot (event_id % 7 == 0) value of its user.
    // Times surface (and match) in MICROS: the parquet timestamps are
    // NANOS, which the DuckDB oracle truncates to its microsecond
    // TIMESTAMP — `ts div 1000` is the same truncation, and per-user
    // timestamps are unique at micro precision, so ordering agrees.
    Query("q_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
      operators.Temporal.asOfJoin(
        e.filter(col("event_id") % 7 =!= 0)
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts")),
        col("user_id"), col("ts"),
        e.filter(col("event_id") % 7 === 0)
          .select(col("user_id"), expr("ts div 1000").as("ts"),
            col("value")),
        col("user_id"), col("ts"),
        col("value"), "snap_value")
    },
      // ASOF LEFT JOIN is the oracle's native form of the union-and-
      // sweep as-of; ts surfaces as epoch MICROS on both sides (DuckDB
      // truncates the parquet NANOS to its microsecond TIMESTAMP, and
      // `ts div 1000` on the Spark side is the same truncation)
      asofSql),

    // gap sessionization (12 h in micros — the events table's median
    // per-user inter-event gap is ~7 h, so sessions average a few
    // events instead of degenerating to singletons)
    Query("q_sessionize", (s, dir) =>
      operators.Temporal.sessionSummary(
        t(s, dir, "events").select(col("user_id"),
          expr("ts div 1000").as("ts"), col("value")),
        col("user_id"), col("ts"), gap = 43200000000L,
        col("value").cast("decimal(18,2)")),
      """WITH x AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
        |y AS (SELECT user_id, t, value,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |                  > 43200000000 THEN 1 ELSE 0 END AS nw
        |      FROM x),
        |z AS (SELECT user_id, t, value,
        |        CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS session_id
        |      FROM y)
        |SELECT user_id AS key, session_id,
        |       min(t) AS start_t, max(t) AS end_t,
        |       count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
        |         AS sum_value
        |FROM z GROUP BY 1, 2""".stripMargin),

    // point-in-interval range join, bucket-blocked: for every error
    // event, how many sessions (any user) were active at its
    // timestamp — sessionization composed with the range join.
    // 1-day buckets ≈ the typical session span (p50 0.2 d, max 5.5 d)
    Query("q_range_join", (s, dir) => {
      val (errors, sess) = errorsAndSessions(s, dir)
      operators.Temporal.rangeJoin(errors, col("t"), sess,
          col("start_t"), col("end_t"), bucket = 86400000000L)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_active"))
    },
      // DuckDB's IEJoin evaluates the BETWEEN predicate natively — the
      // oracle is the plain inequality join the bucket blocking avoids
      """WITH x AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |y AS (SELECT user_id, t,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |                  > 43200000000 THEN 1 ELSE 0 END AS nw
        |      FROM x),
        |z AS (SELECT user_id, t,
        |        sum(nw) OVER (PARTITION BY user_id ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM y),
        |sess AS (SELECT user_id, sid, min(t) AS start_t, max(t) AS end_t
        |         FROM z GROUP BY 1, 2),
        |err AS (SELECT event_id, epoch_us(ts) AS t FROM events
        |        WHERE event_type = 'error')
        |SELECT e.event_id, count(*) AS n_active
        |FROM err e JOIN sess s ON e.t BETWEEN s.start_t AND s.end_t
        |GROUP BY 1""".stripMargin),

    // the sweep twin of q_range_join: identical semantics (count of
    // sessions active at each error event) through
    // activeIntervalCount's boundary-counting plan — no candidate
    // pairs at any scale, so this is the shape that survives a dense
    // 100 TB timeline where the bucketed join's per-bucket population
    // densifies quadratically. Zero-coverage errors surface with
    // count 0 (the LEFT reading), which the oracle mirrors. Null-time
    // errors are filtered on BOTH sides: the operator reports them as
    // NULL (unknown coverage) while a LEFT-join oracle would say 0 —
    // a divergence no current fixture exercises, closed here so a
    // fixture revision can't surface it as a hash mismatch.
    Query("q_active_count", (s, dir) => {
      val (errors, sess) = errorsAndSessions(s, dir)
      operators.Temporal.activeIntervalCount(
          errors.filter(col("t").isNotNull), col("t"), sess,
          col("start_t"), col("end_t"))
        .select(col("event_id"), col("n_active"))
    },
      // q_range_join's CTEs with a LEFT join: the sweep keeps
      // zero-coverage points (count 0), the inner bucketed join drops
      // them — count(s.start_t) makes the unmatched row count 0
      """WITH x AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |y AS (SELECT user_id, t,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |                  > 43200000000 THEN 1 ELSE 0 END AS nw
        |      FROM x),
        |z AS (SELECT user_id, t,
        |        sum(nw) OVER (PARTITION BY user_id ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM y),
        |sess AS (SELECT user_id, sid, min(t) AS start_t, max(t) AS end_t
        |         FROM z GROUP BY 1, 2),
        |err AS (SELECT event_id, epoch_us(ts) AS t FROM events
        |        WHERE event_type = 'error' AND ts IS NOT NULL)
        |SELECT e.event_id, count(s.start_t) AS n_active
        |FROM err e LEFT JOIN sess s ON e.t BETWEEN s.start_t AND s.end_t
        |GROUP BY 1""".stripMargin),
  )
}
