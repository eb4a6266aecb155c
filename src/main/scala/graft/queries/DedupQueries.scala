package graft
package queries

import org.apache.spark.sql.functions._
import Query.t
import OracleSql.{componentWalk, ngramJaccardSql, retentionSql, shingles,
  wsToks}

/** Exact, near-duplicate and semantic dedup of the documents corpus. */
object DedupQueries {

  /** The shingle index of the non-blank documents that the
    * containment and prefix-filter oracles block on.
    */
  private val nonBlankShingles = wsToks(
    "FROM documents\n  WHERE text IS NOT NULL AND length(trim(text)) > 0") +
    ",\n" + shingles

  /** Oracle of q_delta_dedup and q_delta_dedup_bloom. */
  private val deltaDedupSql =
    """WITH corp AS (
      |  SELECT DISTINCT
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 4 < 2 AND text IS NOT NULL),
      |delta AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 4 >= 2),
      |win AS (
      |  SELECT doc_id, fp,
      |         CASE WHEN fp IS NULL THEN 1
      |              ELSE row_number() OVER (PARTITION BY fp ORDER BY doc_id)
      |         END AS rn
      |  FROM delta)
      |SELECT doc_id FROM win
      |WHERE rn = 1 AND (fp IS NULL OR fp NOT IN (SELECT fp FROM corp))""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- L4: dedup --------------------------------------------------
    Query("q_dedup_exact", (s, dir) =>
      functions.Dedup.exactDupClasses(t(s, dir, "documents"),
        col("doc_id"), col("text")),
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY 1""".stripMargin),

    // quality-aware near-dup retention: transitive classes from the
    // exact pair graph, survivor = best score per CLASS (not min id),
    // unpaired docs pass — the "keep the clean re-scrape" policy
    Query("q_keep_best_neardup", (s, dir) =>
      functions.Dedup.nearDupDedupBest(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            (col("doc_id") % 7).as("score")),
        col("doc_id"), col("text"), col("score"),
        shingleN = 3, threshold = 0.5)
        .select(col("doc_id"), col("score")),
      // q_keep_best_neardup: the recursive closure over the same pair
      // set, then per-class argmax (score desc, id asc) with unpaired
      // docs in salted singleton partitions
      s"""WITH RECURSIVE pr AS ($ngramJaccardSql),
         |${componentWalk("pr")},
         |classes AS (SELECT id AS doc_id, min(r) AS class_rep
         |            FROM walk GROUP BY id),
         |scored AS (SELECT doc_id, doc_id % 7 AS score FROM documents)
         |SELECT doc_id, score
         |FROM scored LEFT JOIN classes USING (doc_id)
         |QUALIFY row_number() OVER (
         |  PARTITION BY coalesce(CAST(class_rep AS VARCHAR),
         |                        'solo:' || CAST(doc_id AS VARCHAR))
         |  ORDER BY score DESC, doc_id) = 1""".stripMargin),

    // corpus snapshot diff: old = ids not divisible by 5, new = ids
    // not divisible by 3 with every 7th text rewritten — every status
    // class populated, fingerprint-level change detection
    Query("q_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents")
      val oldV = docs.filter(col("doc_id") % 5 =!= 0)
      val newV = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" revised"))).otherwise(col("text"))
            .as("text"))
      functions.Dedup.snapshotDiff(oldV, newV, col("doc_id"), col("text"))
    },
      // q_snapshot_diff: status from id membership + fingerprint
      // comparison of the same decorated new version
      """WITH o AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(
        |           CASE WHEN doc_id % 7 = 0 THEN text || ' revised'
        |                ELSE text END), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),

    // quality-aware retention: same duplicate classes as
    // q_dedup_exact, but the survivor is the BEST-scoring member
    // (score = doc_id % 7, a deterministic stand-in that disagrees
    // with min-id inside the fixture's planted dup classes — the
    // policy difference is observable), ties -> smallest id
    Query("q_keep_best", (s, dir) =>
      functions.Dedup.keepBest(t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            (col("doc_id") % 7).as("score")),
        col("doc_id"), col("text"), col("score"))
        .select(col("doc_id"), col("score")),
      // q_keep_best: best-score survivor per fingerprint class; the
      // fixture has no null-text docs, so the pass-through leg is
      // covered by the spec, not the oracle
      """WITH scored AS (
        |  SELECT doc_id, text, doc_id % 7 AS score,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, score,
        |         row_number() OVER (PARTITION BY fp
        |           ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT doc_id, score FROM ranked WHERE rn = 1""".stripMargin),

    // sub-document dedup: 5-token segments deduped corpus-wide,
    // first (doc_id, seg_idx) occurrence wins, survivors reassembled
    Query("q_segment_dedup", (s, dir) =>
      functions.Dedup.segmentDedup(t(s, dir, "documents"),
        col("doc_id"), col("text"), segTokens = 5),
      // segment dedup: DuckDB elects winners on the raw segment text
      // (engine-local), Spark on md5(segment) — identical winners up
      // to 128-bit digest collisions
      s"""WITH ${wsToks("FROM documents WHERE text IS NOT NULL")},
        |base AS (SELECT doc_id, tk FROM toks WHERE len(tk) > 0),
        |segs AS (
        |  SELECT doc_id,
        |         unnest([{'i': i, 's': array_to_string(tk[i*5+1 : i*5+5], ' ')}
        |                 for i in range((len(tk)-1)//5 + 1)]) AS u
        |  FROM base),
        |flat AS (SELECT doc_id, u.i AS seg_idx, u.s AS seg FROM segs),
        |winners AS (
        |  SELECT doc_id, seg_idx, seg
        |  FROM (SELECT *, row_number() OVER (PARTITION BY seg
        |                    ORDER BY doc_id, seg_idx) AS rn FROM flat)
        |  WHERE rn = 1),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(seg, ' ' ORDER BY seg_idx) AS text_kept
        |  FROM winners GROUP BY 1),
        |nseg AS (SELECT doc_id, count(*) AS n_segments FROM flat GROUP BY 1)
        |SELECT n.doc_id, n.n_segments,
        |       coalesce(k.n_kept, 0) AS n_kept, k.text_kept
        |FROM nseg n LEFT JOIN kept k USING (doc_id)""".stripMargin),

    // incremental ingest dedup: a delta (doc_id % 4 >= 2 — the split
    // is sf-independent) deduped within itself AND against the
    // standing corpus's fingerprint set; the corpus is probed, never
    // re-shuffled
    Query("q_delta_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusFps = docs.filter(col("doc_id") % 4 < 2 &&
          col("text").isNotNull)
        .select(functions.TextAnalysis.fingerprint(col("text")).as("fp"))
        .distinct()
      functions.Dedup.deltaDedup(docs.filter(col("doc_id") % 4 >= 2),
          col("doc_id"), col("text"), corpusFps)
        .select(col("doc_id"))
    },
      // q_delta_dedup: within-delta min-id dedup (null-text rows all
      // pass — no content to compare), then an anti-probe of the
      // standing corpus's fingerprint set; md5 of NULL propagates NULL,
      // which matches nothing
      deltaDedupSql),

    // bloom-prefiltered twin of q_delta_dedup: same corpus/delta
    // split, same EXACT semantics (bloom positives verified by the
    // anti-join, negatives skip it map-side) — graded against the
    // identical oracle
    Query("q_delta_dedup_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusFps = docs.filter(col("doc_id") % 4 < 2 &&
          col("text").isNotNull)
        .select(functions.TextAnalysis.fingerprint(col("text")).as("fp"))
        .distinct()
      functions.Dedup.deltaDedupBloom(docs.filter(col("doc_id") % 4 >= 2),
          col("doc_id"), col("text"), corpusFps, fpp = 0.01)
        .select(col("doc_id"))
    },
      // q_delta_dedup_bloom: the bloom prefilter is exact by
      // construction (negatives definitive, positives re-verified), so
      // the oracle is q_delta_dedup's verbatim
      deltaDedupSql),

    Query("q_ngram_jaccard", (s, dir) =>
      functions.Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3, threshold = 0.5),
      ngramJaccardSql),

    // asymmetric containment near-dup (quote/subset detection —
    // |A∩B|/|A| high where Jaccard is tiny); threshold 0.5 so the
    // fixture's partial-overlap planted dups surface
    Query("q_containment", (s, dir) =>
      functions.Dedup.containmentPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3, threshold = 0.5),
      // q_containment: ngramJaccardSql's blocking with the asymmetric
      // per-side ratios; n_sh counts pre-prune distinct shingles (the
      // Spark window runs before the df cap) while inter counts only
      // kept ones — both engines agree on that asymmetry
      s"""WITH $nonBlankShingles,
        |keep AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 1000),
        |pr AS (SELECT i.* FROM inv i JOIN keep USING (s)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        |       round(CAST(inter AS DOUBLE) / na, 4) AS cont_a,
        |       round(CAST(inter AS DOUBLE) / nb, 4) AS cont_b
        |FROM pairs
        |WHERE greatest(round(CAST(inter AS DOUBLE) / na, 4),
        |               round(CAST(inter AS DOUBLE) / nb, 4)) >= 0.5""".stripMargin),

    // min-side-prefix EXACT containment (the routed scale path at
    // t >= 0.7): candidates only from each doc's rarest shingles
    // joined against the full index, exact sorted-set rerank — TRUE
    // pair set on full shingle sets, no df cap
    Query("q_containment_prefix", (s, dir) =>
      functions.Dedup.containmentPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3, threshold = 0.8),
      // q_containment_prefix: TRUE exact containment pairs — the
      // routed min-side-prefix path scores FULL shingle sets with no
      // df cap, so the oracle drops q_containment's `keep` CTE (and
      // with it the kept-shingle-only intersection asymmetry)
      s"""WITH $nonBlankShingles,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        |       round(CAST(inter AS DOUBLE) / na, 4) AS cont_a,
        |       round(CAST(inter AS DOUBLE) / nb, 4) AS cont_b
        |FROM pairs
        |WHERE greatest(round(CAST(inter AS DOUBLE) / na, 4),
        |               round(CAST(inter AS DOUBLE) / nb, 4)) >= 0.8""".stripMargin),

    // prefix-filtered EXACT Jaccard (PPJoin-style): candidates only
    // from each doc's globally-rarest shingles, then exact rerank —
    // same answer as q_ngram_jaccard at a candidate count that
    // shrinks as the threshold rises; the graded scale twin for the
    // exact (non-LSH) near-dup path
    Query("q_ngram_prefix", (s, dir) =>
      functions.Dedup.prefixJaccardPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3, threshold = 0.5),
      // q_ngram_prefix: TRUE exact pairs — no document-frequency prune
      // (the prefix filter needs none; its rerank scores full sets), so
      // the oracle drops ngramJaccardSql's `keep` CTE and adds the
      // Spark side's blank/null-doc exclusion explicitly.
      s"""WITH $nonBlankShingles,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        |FROM pairs
        |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5""".stripMargin),

    // pre-flight candidate-population report (the sf10 campaign's
    // lesson made a product operator): per threshold, the prefix
    // index size and the exact-family candidate bounds — aggregation
    // only, safe at scales where the pair joins themselves are not
    Query("q_blocking_stats", (s, dir) =>
      functions.Dedup.blockingStats(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3,
        thresholds = Seq(0.5, 0.8, 0.9)),
      // q_blocking_stats: the oracle re-derives the rarity-ranked
      // prefix index (string shingles, (df, shingle) order — the same
      // engine-portable order the operator uses) and the per-threshold
      // candidate bounds with integer arithmetic. Thresholds are cast
      // to DOUBLE so ceil(t * n_sh) does the identical IEEE math as the
      // Spark side (the 1e-9 nudge absorbs representation error on
      // exact-integer products in both engines).
      s"""WITH $nonBlankShingles,
        |dfq AS (SELECT s, count(*) AS df FROM inv GROUP BY s),
        |rk AS (SELECT i.doc_id, i.s, i.n_sh, d.df,
        |              row_number() OVER (PARTITION BY i.doc_id
        |                                 ORDER BY d.df, i.s) AS rk
        |       FROM inv i JOIN dfq d USING (s)),
        |pre AS (SELECT t.t AS threshold, r.s, count(*) AS c,
        |               any_value(r.df) AS df
        |        FROM rk r CROSS JOIN (SELECT unnest([0.5::DOUBLE,
        |               0.8::DOUBLE, 0.9::DOUBLE]) AS t) t
        |        WHERE r.rk <= r.n_sh
        |              - ceil(t.t * r.n_sh - 0.000000001) + 1
        |        GROUP BY 1, 2)
        |SELECT threshold,
        |       CAST(sum(c) AS BIGINT) AS prefix_entries,
        |       CAST(sum(c * (c - 1) // 2) AS BIGINT)
        |         AS jaccard_cand_rows,
        |       CAST(sum(c * (df - 1)) AS BIGINT)
        |         AS containment_cand_rows
        |FROM pre GROUP BY threshold""".stripMargin),

    // span-level duplication diagnostic: per doc, the fraction of
    // 5-gram positions whose gram occurs in >= 2 distinct docs — the
    // cross-doc boilerplate signal exact-substring dedup keys on
    Query("q_dup_spans", (s, dir) =>
      functions.Dedup.duplicateSpanStats(t(s, dir, "documents"),
        col("doc_id"), col("text"), n = 5),
      // q_dup_spans: the oracle builds each doc's 5-gram positions with
      // a list comprehension (ZERO spans under 5 tokens — range() of a
      // non-positive bound is empty), counts document frequency per
      // gram string (the Spark side keys on xxhash64 of the gram;
      // collision-free on this corpus), and rolls up per doc.
      s"""WITH ${wsToks("FROM documents")},
        |pos AS (
        |  SELECT doc_id,
        |         unnest([array_to_string(tk[i+1:i+5], ' ')
        |                 for i in range(greatest(len(tk) - 4, 0))]) AS g
        |  FROM toks),
        |dg AS (SELECT doc_id, g, count(*) AS cnt FROM pos GROUP BY 1, 2),
        |nd AS (SELECT g, count(*) AS ndocs FROM dg GROUP BY g),
        |per AS (
        |  SELECT dg.doc_id,
        |         sum(dg.cnt) AS n_spans,
        |         sum(CASE WHEN nd.ndocs >= 2 THEN dg.cnt ELSE 0 END)
        |           AS dup_spans
        |  FROM dg JOIN nd USING (g) GROUP BY 1)
        |SELECT t.doc_id,
        |       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(coalesce(p.dup_spans, 0) AS BIGINT) AS dup_spans,
        |       CASE WHEN coalesce(p.n_spans, 0) > 0
        |            THEN round(CAST(p.dup_spans AS DOUBLE) / p.n_spans, 4)
        |            ELSE 0.0 END AS dup_frac
        |FROM toks t LEFT JOIN per p USING (doc_id)""".stripMargin),

    // which sources are re-scrapes of each other: shared distinct
    // 5-gram count + gram-set Jaccard per source pair — output is
    // |sources|² rows max, never document pairs
    Query("q_source_overlap", (s, dir) =>
      functions.Dedup.sourceOverlap(t(s, dir, "documents"),
        col("source"), col("text"), n = 5),
      // q_source_overlap: same tokenization/gram space as q_dup_spans
      // (docs under 5 tokens emit no grams), distinct per (source,
      // gram), then the pair join — DuckDB carries gram strings where
      // Spark carries 8-byte hashes; counts agree absent collisions
      // (same trade q_dup_spans documents)
      """WITH toks AS (
        |  SELECT source,
        |         list_filter(string_split_regex(text, '\s+'),
        |                     x -> length(x) > 0) AS tk
        |  FROM documents),
        |pos AS (
        |  SELECT source,
        |         unnest([array_to_string(tk[i+1:i+5], ' ')
        |                 for i in range(greatest(len(tk) - 4, 0))]) AS g
        |  FROM toks),
        |sg AS (SELECT DISTINCT source, g FROM pos),
        |cs AS (SELECT source, count(*) AS c FROM sg GROUP BY 1),
        |pr AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         count(*) AS shared
        |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pr.source_a, pr.source_b,
        |       CAST(pr.shared AS BIGINT) AS shared_grams,
        |       round(CAST(pr.shared AS DOUBLE)
        |             / (ca.c + cb.c - pr.shared), 4) AS jaccard
        |FROM pr
        |JOIN cs ca ON ca.source = pr.source_a
        |JOIN cs cb ON cb.source = pr.source_b""".stripMargin),

    // deterministic 4-fold assignment (cross-validation shards): a
    // pure function of (doc_id, seed), re-derivable by any engine
    Query("q_kfold", (s, dir) =>
      functions.Sampling.kFold(
        t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), k = 4),
      // q_kfold: the fold thresholds are exact hex eighths of the md5
      // space (0.25 * 2^32 = 0x40000000 ...), so the oracle re-derives
      // every assignment with plain string compares
      """SELECT doc_id,
        |       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':42'),
        |                            1, 8) < '40000000' THEN 0
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':42'),
        |                            1, 8) < '80000000' THEN 1
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':42'),
        |                            1, 8) < 'c0000000' THEN 2
        |            ELSE 3 END AS fold
        |FROM documents""".stripMargin),

    // "keep the best 20%" as a global RANK cut (one range exchange,
    // no zero-partition percent_rank window); score = token count,
    // tie-broken on doc_id; survivors carry their curriculum rank
    Query("q_quality_gate", (s, dir) =>
      functions.Sampling.topFraction(
        t(s, dir, "documents").select(col("doc_id"),
          functions.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens")),
        Seq(col("n_tokens").desc, col("doc_id")), frac = 0.2),
      // q_quality_gate: rank cut re-derived with a window row_number —
      // tiny in DuckDB, a single-partition funnel Spark must avoid
      // (which is exactly what topFraction's range-exchange kernel does)
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                              x -> length(x) > 0)) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id)
        |              AS BIGINT) AS rnk,
        |         count(*) OVER () AS n
        |  FROM s)
        |SELECT doc_id, n_tokens, rnk
        |FROM r WHERE rnk <= floor(0.2 * n)""".stripMargin),

    // first-touch conversion funnel view -> click -> purchase with a
    // 1-day per-step window (ts is epoch-ns; window in ns)
    Query("q_funnel", (s, dir) =>
      operators.Temporal.funnel(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"),
        Seq("view", "click", "purchase"), window = 86400000000000L),
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type
        |           FROM events),
        |r1 AS (SELECT u, min(t) AS mt FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |r2 AS (SELECT e.u, min(e.t) AS mt FROM e JOIN r1 USING (u)
        |       WHERE e.event_type = 'click' AND e.t > r1.mt
        |         AND e.t <= r1.mt + 86400000000 GROUP BY 1),
        |r3 AS (SELECT e.u, min(e.t) AS mt FROM e JOIN r2 USING (u)
        |       WHERE e.event_type = 'purchase' AND e.t > r2.mt
        |         AND e.t <= r2.mt + 86400000000 GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS step_idx, 'view' AS step,
        |       CAST((SELECT count(*) FROM r1) AS BIGINT) AS users
        |UNION ALL
        |SELECT 2, 'click', (SELECT count(*) FROM r2)
        |UNION ALL
        |SELECT 3, 'purchase', (SELECT count(*) FROM r3)""".stripMargin),

    // retention cohort matrix: weekly buckets over the 30-day event
    // window — cohort = first active week, one row per
    // (cohort, period) with active-user counts
    Query("q_retention", (s, dir) =>
      operators.Temporal.retentionCohorts(t(s, dir, "events"),
        col("user_id"), col("ts"), bucket = 604800000000000L),
      // q_funnel: the same greedy first-touch chain as chained CTEs —
      // each step anchors at its first event strictly after the
      // previous match and within the 1-day window (oracle time unit is
      // epoch-us, Spark's is epoch-ns; only counts cross the boundary)
      // q_retention: weekly cohort buckets in µs (the ns bucket / 1000);
      // DuckDB's // is integer floor division on BIGINT
      retentionSql),

    // pairwise candidates -> transitive duplicate classes (a≈b, b≈c
    // must form ONE class); min-label propagation vs the oracle's
    // recursive-CTE closure over the same pair set
    Query("q_dedup_classes", (s, dir) =>
      functions.Dedup.connectedComponents(
        functions.Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), shingleN = 3, threshold = 0.5)),
      // q_dedup_classes: the same pair set as q_ngram_jaccard, closed
      // transitively — DuckDB walks the closure with a recursive CTE,
      // Spark with min-label propagation; both label a component by its
      // smallest doc id.
      s"""WITH RECURSIVE pr AS ($ngramJaccardSql),
         |${componentWalk("pr")}
         |SELECT id AS doc_id, min(r) AS class_rep
         |FROM walk GROUP BY id""".stripMargin),

    // bands = numHashes ⇒ candidates ⊇ every pair sharing any min
    // value; a pair at J >= 0.5 escapes with p = 0.5^16 ≈ 1.5e-5, and
    // the exact-Jaccard rerank makes the output identical to the
    // q_ngram_jaccard set — which is exactly the oracle used here
    // (equality verified empirically at sf0.01 AND sf0.1 — the only
    // graded corpora, and sf0.001 shares sf0.01's documents; seeded
    // hashes make it deterministic). Preconditions, checked in
    // DedupSpec: no shingle df exceeds the oracle's maxDf prune, so
    // both sides score jaccard over the same shingle space.
    Query("q_minhash_lsh", (s, dir) =>
      functions.Dedup.minhashNearDups(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3, numHashes = 16,
        bands = 16, threshold = 0.5),
      // q_minhash_lsh: with bands = numHashes the LSH candidates cover
      // every pair sharing any min value (miss p = 0.5^32 at J >= 0.5)
      // and the exact rerank makes the output equal the exact n-gram
      // Jaccard pair set — so the minhash path is graded against the
      // SAME oracle as the exact path.
      ngramJaccardSql),

    // PRODUCTION banding: numHashes=16 in bands=8 ⇒ r=2 rows per
    // band — buckets key on PAIRS of min values, the operating point
    // a 100 TB run uses (r=1 buckets saturate on any single shared
    // min value; r=2 candidate mass tracks true-pair mass). Graded
    // as a recall-AND-precision witness against the exact pair set:
    // one row per exact J>=0.5 pair with found=1 iff the banded path
    // surfaced it, via a full outer join — a recall miss emits
    // found=0 and a spurious banded pair an unmatched row, both
    // hash-mismatches, so neither can hide behind the bucket cap.
    // With the seeded hash family every exact pair on the graded
    // corpora lands in >=1 shared (band, bucket) (verified at
    // sf0.01 / sf0.1 / sf1), hence the oracle's constant found=1.
    // Plan note (r17): the banded side joins the CANDIDATE set, not
    // minhashNearDups' reranked output — provably the same rows. The
    // banded output is by construction candidates ∩ {J >= 0.5} on the
    // SAME hashed shingle sets and round(.,4) the exact side scores
    // (verifyPairs is the shared kernel), so banded ⊆ exact: the old
    // full_outer could never emit a banded-only row, and for every
    // exact pair "banded found it" ⟺ "it is a candidate". Joining
    // candidates directly skips the banded branch's second tokenize/
    // pin/rerank pass (2 shuffle-hash joins + a corpus scan) while
    // the graded recall witness — found=0 on any exact pair the
    // banding misses — is computed identically. Equivalence verified
    // against the unchanged DuckDB oracle at sf0.01/sf0.1.
    Query("q_minhash_banded", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cands = functions.Dedup.lshCandidates(
        functions.Dedup.minhashSignature(docs, col("doc_id"), col("text"),
          shingleN = 3, numHashes = 16), bands = 8)
        .withColumn("__hit", lit(1))
      val exact = functions.Dedup.ngramJaccardPairs(docs,
        col("doc_id"), col("text"), shingleN = 3, threshold = 0.5)
      exact.join(cands, Seq("id_a", "id_b"), "left_outer")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          when(col("__hit").isNotNull, lit(1)).otherwise(lit(0))
            .as("found"))
    },
      // q_minhash_banded: production r=2 banding graded as a witness —
      // the output is keyed by the EXACT pair set (recomputable in
      // SQL) and the banded path's recall over it is the found flag;
      // the seeded hash family catches every graded-corpus pair, so
      // found is the constant 1 (a miss grades as a row diff).
      s"""SELECT id_a, id_b, jaccard, 1 AS found
         |FROM ($ngramJaccardSql)""".stripMargin),

    // xxhash64-based signature — no external engine can recompute it,
    // so this is the self-validating form (SortValidator pattern):
    // chunk-blocked pairs vs the exact brute-force Hamming join, one
    // witness row whose invariants the oracle states as constants.
    // Radius 4 is the operating point: the seeded near-dup pairs sit
    // at hamming <= 5 (median 2-3), while a wider radius stops being
    // a near-dup query at all (12 admits ~8% of ALL pairs on this
    // corpus — natural-language simhashes cluster far below the
    // random-64-bit mean of 32) and forces 5-bit blocking chunks
    // whose buckets approach all-pairs. 5 chunks of ~13 bits keep
    // the pigeonhole recall-1.0 guarantee with selective keys. The
    // exact witness joins a 500-doc hash stratum against the FULL
    // corpus (broadcast, map-side, O(500·n)), so the graded path has
    // NO quadratic stage — and because only ONE endpoint must land
    // in the stratum, witness pairs survive at ~500·pairDensity,
    // constant as the corpus grows (a both-endpoint stratum decays
    // as rate² and would go vacuous at large sf). non_empty=true
    // verified at all three graded sfs.
    Query("q_simhash", (s, dir) =>
      functions.Dedup.simhashValidate(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 4),
      // q_simhash: self-validating witness row — the Spark side
      // compares chunk-blocked pairs against the exact brute-force
      // Hamming join; the oracle states the invariants (pigeonhole
      // recall 1.0, rerank exactness, non-vacuity) as constants.
      """SELECT CAST(0 AS BIGINT) AS missed_pairs,
        |       CAST(0 AS BIGINT) AS extra_pairs,
        |       round(CAST(1 AS DOUBLE), 4) AS recall,
        |       TRUE AS non_empty""".stripMargin),
  )
}
