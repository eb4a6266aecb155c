package graft
package queries

import org.apache.spark.sql.functions._
import Query.t
import OracleSql.{componentWalk, lowerToks, shingles, words, wsToks}

/** Text analysis and the training-data pipeline end to end. */
object TextQueries {

  /** Full BPE merge-list re-derivation in DuckDB, machine-generated
    * for `n` rounds — the iterative trainer is NOT one-shot SQL
    * (rule i+1 depends on the post-merge vocabulary), but each round
    * IS: pair counts via a positional self-join, argmax with the
    * trainer's (cnt desc, lhs, rhs) tie-break, and the greedy
    * left-to-right non-overlapping rewrite as gaps-and-islands —
    * consecutive match positions form an island and greedy chooses
    * its 1st, 3rd, … members (exactly [[functions.Bpe.mergeOnce]]'s
    * fold semantics: a just-fused token never re-fuses in the same
    * pass), chosen rows fuse lhs||rhs, the row after a chosen one is
    * consumed, positions renumber. One CTE block per round.
    */
  private def bpeMergesSql(n: Int): String = {
    val head =
      s"""WITH $words,
        |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f
        |      FROM toks GROUP BY w),
        |s1r AS (SELECT w AS wid, f, unnest(range(1, length(w) + 1)) AS p
        |        FROM wf),
        |s1 AS MATERIALIZED (SELECT wid, f, CAST(p AS INT) AS pos,
        |              substr(wid, CAST(p AS INT), 1) AS sym
        |       FROM s1r)""".stripMargin
    val rounds = (1 to n).map { k =>
      val last = k == n
      s"""p$k AS (SELECT a.sym AS lhs, b.sym AS rhs,
         |             CAST(sum(a.f) AS BIGINT) AS cnt
         |      FROM s$k a JOIN s$k b
         |        ON a.wid = b.wid AND b.pos = a.pos + 1
         |      GROUP BY 1, 2),
         |t$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k
         |      ORDER BY cnt DESC, lhs, rhs LIMIT 1)""".stripMargin +
        (if (last) "" else
          s""",
             |m$k AS (SELECT s.wid, s.f, s.pos, s.sym,
             |             coalesce(s.sym = t.lhs AND
             |               lead(s.sym) OVER (PARTITION BY s.wid
             |                 ORDER BY s.pos) = t.rhs, FALSE) AS mt
             |      FROM s$k s CROSS JOIN t$k t),
             |g$k AS (SELECT *, pos - row_number() OVER (
             |               PARTITION BY wid, mt ORDER BY pos) AS grp
             |      FROM m$k),
             |c$k AS (SELECT *, mt AND (row_number() OVER (
             |               PARTITION BY wid, mt, grp ORDER BY pos)
             |               % 2 = 1) AS chosen
             |      FROM g$k),
             |n$k AS (SELECT wid, f, pos,
             |             CASE WHEN chosen
             |               THEN sym || (SELECT rhs FROM t$k)
             |               ELSE sym END AS sym,
             |             coalesce(lag(chosen) OVER (PARTITION BY wid
             |               ORDER BY pos), FALSE) AS consumed
             |      FROM c$k),
             |s${k + 1} AS MATERIALIZED (SELECT wid, f,
             |             CAST(row_number() OVER (PARTITION BY wid
             |               ORDER BY pos) AS INT) AS pos, sym
             |      FROM n$k WHERE NOT consumed)""".stripMargin)
    }.mkString(",\n", ",\n", "\n")
    val union = (1 to n).map(k =>
      s"""SELECT $k AS "rank", lhs, rhs, lhs || rhs AS merged,
         |       cnt AS pair_count FROM t$k""".stripMargin)
      .mkString("\nUNION ALL\n")
    head + rounds + union
  }

  val all: Seq[Query] = Seq(
    // ---- L4: text analysis ------------------------------------------
    Query("q_quality", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextAnalysis.qualityMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_chars"), col("m.n_tokens"),
          col("m.chars_per_token"), col("m.punct_ratio"),
          col("m.stopword_ratio")),
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(text, '\s+'),
        |                     x -> length(x) > 0) AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(tk) AS INT) AS n_tokens,
        |  round(CAST(length(text) AS DOUBLE) / greatest(len(tk), 1), 4)
        |    AS chars_per_token,
        |  round(CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
        |        AS DOUBLE) / greatest(length(text), 1), 4) AS punct_ratio,
        |  round(CAST(len(list_filter(
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
        |                      x -> length(x) > 0),
        |          x -> list_contains(
        |          ['the','a','and','of','to','in','is','it'], x)))
        |        AS DOUBLE) / greatest(len(tk), 1), 4) AS stopword_ratio
        |FROM t""".stripMargin),

    Query("q_langid", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        functions.TextAnalysis.langId(col("text")).as("pred_lang")),
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
        |                     x -> length(x) > 0) AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(tk, x -> list_contains(
        |      ['the','a','and','of','to','in','is','it'], x))) AS s_en,
        |    len(list_filter(tk, x -> list_contains(
        |      ['der','die','das','und','zu','ist','ein'], x))) AS s_de,
        |    len(list_filter(tk, x -> list_contains(
        |      ['el','la','de','que','y','en','un','es'], x))) AS s_es,
        |    len(list_filter(tk, x -> list_contains(
        |      ['le','la','de','et','un','est','que'], x))) AS s_fr
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en IS NULL
        |         OR greatest(s_en, s_de, s_es, s_fr) = 0 THEN NULL
        |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
        |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
        |       ELSE 'de' END AS pred_lang
        |FROM s""".stripMargin),

    // BPE merge training's round-0 statistic (Bpe.pairCounts):
    // frequency-weighted adjacent character pairs over the distinct-
    // word table — the count the first merge rule is argmax'd from.
    // The full iterative trainer (Bpe.train) is graded against an
    // independent scan-and-skip reference in BpeSpec (rule i+1
    // depends on the post-merge vocabulary — not one-shot SQL).
    Query("q_bpe_pairs", (s, dir) =>
      functions.Bpe.pairCounts(t(s, dir, "documents"), col("text"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(50),
      // q_bpe_pairs: the same word-frequency-weighted adjacent
      // character-pair counts — substr is character-indexed in both
      // engines, and the top-50 cut is total-ordered (cnt, lhs, rhs)
      s"""WITH $words,
        |wf AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
        |ix AS (SELECT w, f, unnest(range(1, length(w))) AS i FROM wf),
        |pairs AS (SELECT substr(w, CAST(i AS INT), 1) AS lhs,
        |                 substr(w, CAST(i AS INT) + 1, 1) AS rhs, f
        |          FROM ix)
        |SELECT lhs, rhs, CAST(sum(f) AS BIGINT) AS cnt
        |FROM pairs GROUP BY 1, 2
        |ORDER BY cnt DESC, lhs, rhs LIMIT 50""".stripMargin),

    // the FULL iterative merge list (8 rounds of Bpe.train), graded
    // against a machine-generated DuckDB re-derivation that replays
    // every round — pair counts, argmax tie-break AND the greedy
    // non-overlapping rewrite (gaps-and-islands parity) — so the
    // trainer's cross-round dependency chain is driver-graded, not
    // just round 0 (bpeMergesSql has the round-block construction)
    Query("q_bpe_merges", (s, dir) =>
      functions.Bpe.train(t(s, dir, "documents"), col("text"), n = 8),
      // q_bpe_merges: the full 8-round trainer replayed in SQL — see
      // bpeMergesSql for the per-round CTE construction
      bpeMergesSql(8)),

    // interpolated bigram LM: per-doc mean position log-probability
    // under lambda*bigram + (1-lambda)*unigram — the fluency signal
    // unigrams can't see (word salad scores low even on common words)
    Query("q_bigram_lm", (s, dir) =>
      functions.TextAnalysis.bigramLogProb(t(s, dir, "documents"),
        col("doc_id"), col("text")),
      // unigram LM: identical tokenization and ln arithmetic; the
      // per-doc sum of tf·ln(p) rounds to 4 decimals on both engines
      // q_bigram_lm: unigram counts from every tokenizable doc, bigram
      // instances from docs with >= 2 tokens; the interpolation weight
      // is written (1.0 - 0.7), NOT 0.3 — Spark computes 1-lambda and
      // the two literals differ in their last IEEE bit
      s"""WITH ${lowerToks("FROM documents")},
        |uni AS (SELECT term, count(*) AS ucnt
        |        FROM (SELECT unnest(tk) AS term FROM toks WHERE len(tk) > 0)
        |        GROUP BY 1),
        |tot AS (SELECT sum(ucnt) AS total FROM uni),
        |inst AS (
        |  SELECT doc_id, dl,
        |         unnest([{'p': tk[i+1], 'c': tk[i+2]} for i in range(dl - 1)],
        |                recursive := true)
        |  FROM (SELECT doc_id, len(tk) AS dl, tk FROM toks
        |        WHERE len(tk) >= 2)),
        |bf AS (SELECT doc_id, dl, p, c, count(*) AS bf
        |       FROM inst GROUP BY 1, 2, 3, 4),
        |cbg AS (SELECT p, c, sum(bf) AS cbg FROM bf GROUP BY 1, 2),
        |sums AS (
        |  SELECT doc_id, dl,
        |         CAST(sum(bf * CAST(round(ln(
        |             0.7 * (CAST(cbg AS DOUBLE) / CAST(up.ucnt AS DOUBLE)) +
        |             (1.0 - 0.7) * (CAST(uc.ucnt AS DOUBLE) /
        |                            CAST(total AS DOUBLE))
        |           ) * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
        |  FROM bf JOIN cbg USING (p, c)
        |       JOIN uni up ON up.term = bf.p
        |       JOIN uni uc ON uc.term = bf.c
        |       CROSS JOIN tot
        |  GROUP BY doc_id, dl)
        |SELECT doc_id, CAST(dl - 1 AS BIGINT) AS n_bigrams,
        |       CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
        |            ((2 * abs(s) + 100 * (dl - 1)) // (200 * (dl - 1)))
        |         AS BIGINT) / 1e4 AS avg_logprob
        |FROM sums""".stripMargin),

    // self-scored unigram LM: per-doc mean token log-probability
    // under the corpus' own unigram distribution
    Query("q_unigram_lm", (s, dir) =>
      functions.TextAnalysis.unigramLogProb(t(s, dir, "documents"),
        col("doc_id"), col("text")),
      s"""WITH ${lowerToks("FROM documents")},
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term
        |        FROM toks WHERE len(tk) > 0)
        |  GROUP BY 1, 2, 3),
        |cnt AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM cnt),
        |sums AS (
        |  SELECT doc_id, dl,
        |         CAST(sum(tf * CAST(round(
        |           ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
        |           * 1e6, 0) AS BIGINT)) AS BIGINT) AS s
        |  FROM tf JOIN cnt USING (term) CROSS JOIN tot
        |  GROUP BY doc_id, dl)
        |SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
        |       CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
        |            ((2 * abs(s) + 100 * dl) // (200 * dl)) AS BIGINT)
        |         / 1e4 AS avg_logprob
        |FROM sums""".stripMargin),

    Query("q_corpus_stats", (s, dir) =>
      functions.TextAnalysis.corpusStats(t(s, dir, "documents"),
        col("lang"), col("text")),
      """WITH t AS (
        |  SELECT lang, text,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> length(x) > 0)) AS ntok
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CAST(ntok AS BIGINT)) AS BIGINT) AS n_tokens,
        |       CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars,
        |       round(CAST(sum(length(text)) AS DOUBLE) / count(*), 4)
        |         AS avg_chars
        |FROM t GROUP BY lang""".stripMargin),

    // per-source dataset-card composition: volume, language spread,
    // exact-dup rate — the table a mix-weight decision reads
    Query("q_source_report", (s, dir) =>
      functions.TextAnalysis.sourceReport(t(s, dir, "documents"),
        col("source"), col("lang"), col("text")),
      """WITH t AS (
        |  SELECT source, lang, text, md5(text) AS digest,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> length(x) > 0)) AS ntok
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       count(DISTINCT lang) AS n_langs,
        |       CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT)
        |         AS total_chars,
        |       CAST(sum(CAST(ntok AS BIGINT)) AS BIGINT) AS total_tokens,
        |       count(DISTINCT digest) AS n_unique,
        |       round(coalesce(
        |         1.0 - CAST(count(DISTINCT digest) AS DOUBLE)
        |               / nullif(count(digest), 0), 0.0), 4) AS dup_rate
        |FROM t GROUP BY source""".stripMargin),

    // Gopher-style repetition pre-filter: dup-token and top-bigram
    // coverage fractions per document
    Query("q_repetition", (s, dir) =>
      functions.TextAnalysis.repetitionReport(t(s, dir, "documents"),
        col("doc_id"), col("text"), n = 2),
      // repetition metrics re-derived exactly: token occurrence counts
      // per (doc, token), bigram shingles via the winnowing oracle's
      // indexed-list-comprehension pattern, deterministic arg-max via
      // QUALIFY with the same (count DESC, gram DESC) tie-break
      s"""WITH ${wsToks("FROM documents WHERE text IS NOT NULL")},
        |tc AS (
        |  SELECT doc_id, tok, count(*) AS c, length(tok) AS l
        |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
        |  GROUP BY doc_id, tok),
        |per_doc AS (
        |  SELECT doc_id,
        |         CAST(sum(c) AS BIGINT) AS n_tokens,
        |         round(CAST(sum(c) - count(*) AS DOUBLE)
        |               / CAST(sum(c) AS DOUBLE), 4) AS dup_token_frac,
        |         round(CAST(sum((c - 1) * l) AS DOUBLE)
        |               / CAST(sum(c * l) AS DOUBLE), 4)
        |           AS dup_token_char_frac,
        |         CAST(sum(c * l) AS BIGINT) AS tok_chars
        |  FROM tc GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 2
        |           THEN [array_to_string(tk[i+1:i+2], ' ')
        |                 for i in range(len(tk) - 1)]
        |           ELSE [array_to_string(tk, ' ')] END AS s
        |  FROM toks),
        |sc AS (
        |  SELECT doc_id, ng, count(*) AS nc
        |  FROM (SELECT doc_id, unnest(s) AS ng FROM sh)
        |  GROUP BY doc_id, ng),
        |top AS (
        |  SELECT doc_id, ng AS top_ngram, nc AS top_ngram_cnt
        |  FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY nc DESC, ng DESC) = 1)
        |SELECT p.doc_id, p.n_tokens, p.dup_token_frac,
        |       p.dup_token_char_frac, t.top_ngram,
        |       CAST(t.top_ngram_cnt AS BIGINT) AS top_ngram_cnt,
        |       round(CAST(t.top_ngram_cnt AS DOUBLE)
        |             * length(replace(t.top_ngram, ' ', ''))
        |             / CAST(p.tok_chars AS DOUBLE), 4) AS top_ngram_frac
        |FROM per_doc p JOIN top t USING (doc_id)""".stripMargin),

    // context-window chunking: 20-token chunks advancing by 15
    // (5 tokens of overlap carry context across boundaries)
    Query("q_chunking", (s, dir) =>
      functions.TextAnalysis.chunkByTokens(t(s, dir, "documents"),
        col("doc_id"), col("text"), chunkSize = 20, stride = 15),
      // chunk starts are 0, stride, …, stopping once a window reaches
      // the doc end (nChunks = max(1, ceil((len-20)/15)+1)); DuckDB
      // list slicing is 1-based inclusive, so chunk i =
      // tk[i·15+1 : i·15+20]
      s"""WITH ${wsToks("FROM documents WHERE text IS NOT NULL")},
        |ch AS (
        |  SELECT doc_id,
        |         unnest([{'c': i, 's': tk[i*15+1 : i*15+20]}
        |                 for i in range(CASE WHEN len(tk) <= 20 THEN 1
        |                   ELSE (len(tk) - 20 + 14) // 15 + 1 END)]) AS u
        |  FROM toks WHERE len(tk) > 0)
        |SELECT doc_id, CAST(u.c AS BIGINT) AS chunk_id,
        |       CAST(len(u.s) AS BIGINT) AS n_tokens,
        |       array_to_string(u.s, ' ') AS chunk_text
        |FROM ch""".stripMargin),

    // the full training-export composition: chunk every document,
    // then pack the chunks into ~500-token shards per language in
    // deterministic (doc_id, chunk_id) order — what actually gets
    // written as training shards
    Query("q_export", (s, dir) => {
      // lang rides through the chunker as a carried column — one
      // scan, and the only exchange is the pack window's
      val chunks = functions.TextAnalysis.chunkByTokens(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        chunkSize = 20, stride = 15, carry = Seq("lang"))
      functions.Sampling.packByBudget(chunks, col("lang"),
        Seq(col("doc_id"), col("chunk_id")), col("n_tokens"),
        budget = 500L)
        .select(col("doc_id"), col("chunk_id"), col("lang"),
          col("n_tokens"), col("shard"))
    },
      // export = the chunking oracle's chunks joined to lang, then the
      // pack-shards oracle's exclusive-prefix-sum shard id over
      // (doc_id, chunk_id) order within each language
      s"""WITH ${wsToks("FROM documents WHERE text IS NOT NULL")},
        |ch AS (
        |  SELECT doc_id,
        |         unnest([{'c': i, 'n': least(20, len(tk) - i*15)}
        |                 for i in range(CASE WHEN len(tk) <= 20 THEN 1
        |                   ELSE (len(tk) - 20 + 14) // 15 + 1 END)]) AS u
        |  FROM toks WHERE len(tk) > 0),
        |chunks AS (
        |  SELECT c.doc_id, CAST(c.u.c AS BIGINT) AS chunk_id, d.lang,
        |         CAST(c.u.n AS BIGINT) AS n_tokens
        |  FROM ch c JOIN documents d USING (doc_id))
        |SELECT doc_id, chunk_id, lang, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (
        |         PARTITION BY lang ORDER BY doc_id, chunk_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       // 500 AS BIGINT) AS shard
        |FROM chunks""".stripMargin),

    // winnowing document fingerprints — md5-hex hashes compared
    // lexicographically, so DuckDB replays the exact window minima
    Query("q_winnowing", (s, dir) =>
      functions.TextAnalysis.winnowingFingerprints(t(s, dir, "documents"),
        col("doc_id"), col("text"), shingleN = 3, window = 4),
      s"""WITH ${wsToks("FROM documents WHERE text IS NOT NULL")},
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(tk) >= 3
        |           THEN [array_to_string(tk[i+1:i+3], ' ')
        |                 for i in range(len(tk) - 2)]
        |           ELSE [array_to_string(tk, ' ')] END AS s
        |  FROM toks),
        |inv AS (
        |  SELECT doc_id, n_sh, u.p AS pos, u.h AS h FROM (
        |    SELECT doc_id, len(s) AS n_sh,
        |           unnest([{'p': i, 'h': substr(md5(s[i+1]), 1, 16)}
        |                   for i in range(len(s))]) AS u
        |    FROM sh)),
        |wmin AS (
        |  SELECT doc_id, pos, n_sh,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM inv)
        |SELECT DISTINCT doc_id, fp FROM wmin
        |WHERE pos >= 3 OR (n_sh < 4 AND pos = n_sh - 1)""".stripMargin),

    // test-set decontamination: deterministic 50/50 hash split, then
    // per test doc the fraction of winnowing fingerprints found
    // anywhere in train (threshold 0.2 flags the seeded cross-split
    // near-dups without tripping on shared boilerplate 3-grams)
    Query("q_decontaminate", (s, dir) => {
      val (train, test) = functions.Sampling.hashSplit(
        t(s, dir, "documents"), col("doc_id"), rate = 0.5)
      functions.TextAnalysis.contaminationReport(
        test, col("doc_id"), col("text"),
        train, col("doc_id"), col("text"),
        shingleN = 3, window = 4, threshold = 0.2)
    },
      // the q_winnowing pipeline with a split flag carried through,
      // then the fingerprint semi-join aggregated per test doc
      """WITH toks AS (
        |  SELECT doc_id,
        |         coalesce(substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)
        |           < '80000000', FALSE) AS is_train,
        |         list_filter(string_split_regex(text, '\s+'),
        |                     x -> length(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id, is_train,
        |         CASE WHEN len(tk) >= 3
        |           THEN [array_to_string(tk[i+1:i+3], ' ')
        |                 for i in range(len(tk) - 2)]
        |           ELSE [array_to_string(tk, ' ')] END AS s
        |  FROM toks),
        |inv AS (
        |  SELECT doc_id, is_train, n_sh, u.p AS pos, u.h AS h FROM (
        |    SELECT doc_id, is_train, len(s) AS n_sh,
        |           unnest([{'p': i, 'h': substr(md5(s[i+1]), 1, 16)}
        |                   for i in range(len(s))]) AS u
        |    FROM sh)),
        |wmin AS (
        |  SELECT doc_id, is_train, pos, n_sh,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM inv),
        |fps AS (
        |  SELECT DISTINCT doc_id, is_train, fp FROM wmin
        |  WHERE pos >= 3 OR (n_sh < 4 AND pos = n_sh - 1)),
        |trainfp AS (SELECT DISTINCT fp FROM fps WHERE is_train),
        |test AS (SELECT doc_id, fp FROM fps WHERE NOT is_train)
        |SELECT t.doc_id,
        |       count(*) AS n_prints,
        |       CAST(sum(CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_shared,
        |       round(CAST(sum(CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 4) AS overlap,
        |       round(CAST(sum(CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 4) >= 0.2 AS contaminated
        |FROM test t LEFT JOIN trainfp tf ON t.fp = tf.fp
        |GROUP BY 1""".stripMargin),

    // ---- L4: the training-data pipeline end-to-end ------------------
    // quality filter -> exact dedup (min-id survivor) -> per-lang stats
    Query("q_pipeline", (s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("m", functions.TextAnalysis.qualityMetrics(col("text")))
        .filter(col("m.n_tokens") >= 10)
      val deduped = functions.Dedup.exactDedup(scored, col("doc_id"), col("text"))
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.n_tokens").cast("long")).as("n_tokens"))
    },
      """WITH scored AS (
        |  SELECT doc_id, lang, text,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> length(x) > 0)) AS nt
        |  FROM documents),
        |filtered AS (SELECT * FROM scored WHERE nt >= 10),
        |deduped AS (
        |  SELECT * FROM filtered
        |  QUALIFY row_number() OVER (
        |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) = 1)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CAST(nt AS BIGINT)) AS BIGINT) AS n_tokens
        |FROM deduped GROUP BY lang""".stripMargin),

    // the full modern pipeline: quality filter -> exact dedup ->
    // near-dup classes (transitive) -> keep class representative ->
    // per-lang stats. The near-dup stage runs on the exact-deduped
    // corpus (standard order: exact first, it's cheaper).
    Query("q_pipeline_neardup", (s, dir) => {
      val scored = t(s, dir, "documents")
        .withColumn("m", functions.TextAnalysis.qualityMetrics(col("text")))
        .filter(col("m.n_tokens") >= 10)
      // nearDupDedup pins its input internally (both its pair graph
      // and keep-one join read it), so no extra checkpoint here
      val exact = functions.Dedup.exactDedup(scored, col("doc_id"), col("text"))
      val survivors = functions.Dedup.nearDupDedup(exact,
        col("doc_id"), col("text"), shingleN = 3, threshold = 0.5)
      survivors.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("m.n_tokens").cast("long")).as("n_tokens"))
    },
      raw"""WITH RECURSIVE scored AS (
        |  SELECT doc_id, lang, text,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> length(x) > 0)) AS nt
        |  FROM documents),
        |filtered AS (SELECT * FROM scored WHERE nt >= 10),
        |deduped AS (
        |  SELECT * FROM filtered
        |  QUALIFY row_number() OVER (
        |    PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    ORDER BY doc_id) = 1),
        |${wsToks("FROM deduped")},
        |$shingles,
        |keep AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 1000),
        |pr0 AS (SELECT i.* FROM inv i JOIN keep USING (s)),
        |prs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
        |  FROM pr0 a JOIN pr0 b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |np AS (SELECT id_a, id_b FROM prs
        |       WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
        |${componentWalk("np")},
        |classes AS (SELECT id AS doc_id, min(r) AS class_rep
        |            FROM walk GROUP BY id),
        |survivors AS (
        |  SELECT d.* FROM deduped d LEFT JOIN classes c USING (doc_id)
        |  WHERE c.class_rep IS NULL OR c.class_rep = d.doc_id)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CAST(nt AS BIGINT)) AS BIGINT) AS n_tokens
        |FROM survivors GROUP BY lang""".stripMargin),
  )
}
