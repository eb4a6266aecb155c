package graft
package queries

/** Oracle SQL that more than one query family shares. */
private[queries] object OracleSql {

  /** CTE `toks(doc_id, tk)`: each row's `text` split on whitespace
    * runs, empty tokens dropped, over the rows of `from`.
    */
  def wsToks(from: String): String =
    raw"""toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(text, '\s+'),
         |                     x -> length(x) > 0) AS tk
         |  $from)""".stripMargin

  /** CTE `toks(w)`: every whitespace-separated word of the documents,
    * empty ones dropped.
    */
  val words: String =
    """toks AS (
      |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
      |                x -> length(x) > 0)) AS w
      |  FROM documents)""".stripMargin

  /** CTE `toks(doc_id, tk)`: each row's lower-cased `text` split into
    * [a-z0-9'] words, over the rows of `from`.
    */
  def lowerToks(from: String): String =
    s"""toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
       |                     x -> length(x) > 0) AS tk
       |  $from)""".stripMargin

  /** CTEs `sh(doc_id, s)`, each document's distinct word 3-shingles
    * (the whole text when shorter) over `toks`, and `inv(doc_id, n_sh,
    * s)`, one row per shingle.
    */
  val shingles: String =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(tk) >= 3
      |           THEN [array_to_string(tk[i+1:i+3], ' ')
      |                 for i in range(len(tk) - 2)]
      |           ELSE [array_to_string(tk, ' ')] END) AS s
      |  FROM toks),
      |inv AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS s FROM sh)""".stripMargin

  /** CTEs `edges(a, b)`, each (id_a, id_b) row of `pairs` in both
    * directions, and the recursive `walk(id, r)`, every node `r` that
    * `id` reaches: min(r) per id labels id's connected component.
    */
  def componentWalk(pairs: String): String =
    s"""edges AS (SELECT id_a AS a, id_b AS b FROM $pairs
       |          UNION SELECT id_b, id_a FROM $pairs),
       |walk(id, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, w.r FROM edges e JOIN walk w ON e.b = w.id)""".stripMargin

  /** The weekly-cohort retention matrix: the oracle of q_retention and
    * of its streaming twin q_stream_retention.
    */
  val retentionSql =
    """WITH ub AS (
      |  SELECT DISTINCT user_id AS u,
      |         epoch_us(ts) // 604800000000 AS b
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |coh AS (SELECT u, min(b) AS cohort FROM ub GROUP BY u)
      |SELECT c.cohort, ub.b - c.cohort AS period, count(*) AS users
      |FROM ub JOIN coh c USING (u)
      |GROUP BY 1, 2""".stripMargin

  /** The as-of join of the events table's points to their snapshots:
    * the oracle of q_asof_join and of its streaming twin q_stream_asof.
    */
  val asofSql =
    """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts
      |           FROM events WHERE event_id % 7 != 0),
      |     r AS (SELECT user_id, epoch_us(ts) AS ts, value
      |           FROM events WHERE event_id % 7 = 0)
      |SELECT l.event_id, l.user_id, l.ts, r.value AS snap_value
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin

  /** The exact A-ES weighted-sample ranking — shared verbatim by the
    * batch query (q_weighted_sample) and its streaming twin
    * (q_stream_sample): the draw is a pure function of (doc_id,
    * seed), so both must produce this exact top-20.
    */
  val weightedSampleSql =
    """WITH d AS (
      |  SELECT *,
      |    pow(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'),
      |                             1, 8)) AS BIGINT) / 4294967296.0,
      |        1.0 / CAST(n_chars AS DOUBLE)) AS draw
      |  FROM documents WHERE n_chars > 0)
      |SELECT doc_id, text, lang, source, n_chars, draw
      |FROM d ORDER BY draw DESC, doc_id LIMIT 20""".stripMargin

  /** Exact n-gram Jaccard pair oracle — shared by q_ngram_jaccard
    * (the exact inverted-index path) and q_minhash_lsh (whose
    * bands=numHashes candidates + exact rerank provably produce the
    * same set; see its query in [[DedupQueries]]).
    */
  val ngramJaccardSql =
    s"""WITH ${wsToks("FROM documents")},
      |$shingles,
      |keep AS (SELECT s FROM inv GROUP BY s HAVING count(*) <= 1000),
      |pr AS (SELECT i.* FROM inv i JOIN keep USING (s)),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b,
      |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
      |FROM pairs
      |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5""".stripMargin
}
