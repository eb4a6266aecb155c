package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Replay.scratchDir
import Query.{artifactWrite, t}
import OracleSql.componentWalk

/** Embedding similarity search: exact, quantized and ANN top-k, pair
  * joins and the on-disk IVF index.
  */
object SimilarityQueries {

  /** A corpus WITH planted near-duplicate structure, derived
    * deterministically from the embeddings table: every vector gets a
    * jittered twin at id+1,000,000 — component i shifts by
    * eps·(u − 0.5) with u an md5-hash unit in [0,1) of "vec_id:i".
    * The derivation is pure engine-portable arithmetic (md5 → first
    * 15 hex digits → /2^60; the same conv trick the balancer oracle
    * uses), so DuckDB replays the corpus bit-for-bit and can brute-
    * force the true pair set. eps=1e-3 on unit-norm vectors puts each
    * twin at angle ~0.0023 rad (cos ≈ 0.999997): a TRUE near-dup,
    * while the max natural pair stays at cos ≈ 0.60 — the separation
    * LSH's contract actually covers (q_embed_blocked's comment has
    * the recall arithmetic).
    */
  private def plantedEmbeddings(e: DataFrame): DataFrame = {
    def u(s: Column): Column =
      conv(substring(md5(s), 1, 15), 16, 10).cast("long").cast("double") /
        lit(1.152921504606846976e18) // 2^60, exact as a double
    val base = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("cv"))
    val jit = base.select(col("vec_id"),
        transform(col("cv"), (x, i) =>
          x + lit(1e-3) * (u(concat(col("vec_id").cast("string"), lit(":"),
            i.cast("string"))) - lit(0.5))).as("cv"))
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("cv"))
    base.unionByName(jit)
  }

  /** Exact cosine top-`k` of every embedding for each of the first
    * `queries` vectors: cosines rounded to 4 digits, ties by vec_id.
    */
  private def cosineTopK(queries: Int, k: Int): String =
    s"""WITH c AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, cv AS qv FROM c WHERE vec_id < $queries),
       |s AS (SELECT query_id, vec_id,
       |        round(list_dot_product(cv, qv) /
       |              sqrt(list_dot_product(cv, cv) *
       |                   list_dot_product(qv, qv)), 4) AS cos
       |      FROM c CROSS JOIN q WHERE vec_id <> query_id)
       |SELECT query_id, vec_id, cos,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, vec_id ASC) AS INT) AS rnk
       |FROM s QUALIFY rnk <= $k""".stripMargin

  /** Shared oracle of q_embed_ivf and q_embed_ivf_disk: with
    * nprobe = nlist the probe provably equals brute-force top-k,
    * disk round trip or not (parquet doubles are binary-exact).
    */
  private val embedIvfSql: String = cosineTopK(queries = 5, k = 5)

  /** Oracle of the recall-gated ANN queries: every query vector
    * clears the gate's floor.
    */
  private val recallOkSql =
    """SELECT vec_id AS query_id, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Recall gate of an approximate top-k: `topK(e, queries, k)` finds
    * the k = 5 nearest embeddings of each of the first 10 vectors, and
    * each query's recall against brute force must clear `floor`.
    */
  private def recallGate(s: SparkSession, dir: String, floor: Double)(
      topK: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val e = t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
    val k = 5
    val got = topK(e, queries, k)
    val exact = functions.Similarity.bruteForceTopK(
      e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = k)
    functions.Similarity.annRecallGate(got, exact, k = k, floor = floor)
  }

  /** Rerank candidates per query: ≈4% of the corpus (the q_semdedup
    * nlist pattern), at least 8.
    */
  private def candidates(e: DataFrame, k: Int): Int =
    math.max(8L, e.count() / (25L * k)).toInt

  val all: Seq[Query] = Seq(
    // ---- L4: similarity search --------------------------------------
    Query("q_embed_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.bruteForceTopK(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
        k = 10)
    },
      cosineTopK(queries = 3, k = 10)),

    // model-free text embedding (feature hashing): md5-bucketed
    // token counts, L2-normalized, fed straight into the cosine
    // top-k stack — grades the text -> vector bridge end-to-end
    // (fixture docs all tokenize non-empty, so the oracle can build
    // vectors from the sparse counts alone)
    Query("q_hash_embed", (s, dir) => {
      val emb = functions.TextAnalysis.hashEmbedding(
        t(s, dir, "documents"), col("doc_id"), col("text"), dim = 16)
      functions.Similarity.bruteForceTopK(
        emb, col("doc_id"), col("embedding"),
        emb.filter(col("doc_id") < 3), col("doc_id"), col("embedding"),
        k = 5)
    },
      // q_hash_embed: the same md5-bucket counts assembled densely IN
      // INDEX ORDER, normalized with the same 0 + x*x fold, scored with
      // q_embed_topk's exact cosine formula — bit-identical FP both
      // sides, so the hash compare holds on raw doubles
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(text, '\s+'),
        |                x -> length(x) > 0)) AS tk
        |  FROM documents),
        |bc AS (SELECT doc_id,
        |         CAST(CAST(('0x' || substr(md5(tk || ':42'), 1, 8)) AS BIGINT)
        |              % 16 AS INT) AS b,
        |         count(*) AS c
        |       FROM toks GROUP BY 1, 2),
        |lst AS (SELECT doc_id, list({'b': b, 'c': c}) AS l FROM bc GROUP BY doc_id),
        |raw AS (SELECT doc_id,
        |          [CAST(coalesce(list_sum([s.c for s in l if s.b = i]), 0) AS DOUBLE)
        |           for i in range(16)] AS r
        |        FROM lst),
        |emb AS (SELECT doc_id,
        |          list_transform(r, x -> x / sqrt(list_dot_product(r, r))) AS cv
        |        FROM raw),
        |q AS (SELECT doc_id AS query_id, cv AS qv FROM emb WHERE doc_id < 3),
        |s AS (SELECT query_id, doc_id AS vec_id,
        |        round(list_dot_product(cv, qv) /
        |              sqrt(list_dot_product(cv, cv) *
        |                   list_dot_product(qv, qv)), 4) AS cos
        |      FROM emb CROSS JOIN q WHERE doc_id <> query_id)
        |SELECT query_id, vec_id, cos,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos DESC, vec_id ASC) AS INT) AS rnk
        |FROM s QUALIFY rnk <= 5""".stripMargin),

    // hard-negative mining: per query, top-10 most-similar vectors
    // whose LABEL disagrees — the contrastive-training counterpart
    // of q_embed_topk
    Query("q_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.hardNegatives(
        e, col("vec_id"), col("embedding"), col("label"),
        e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"),
        col("label"), k = 10)
    },
      // q_hard_negatives: q_embed_topk's oracle with the label-
      // disagreement filter under the cross join (self never appears:
      // it shares its own label)
      """WITH c AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |           FROM embeddings WHERE label IS NOT NULL),
        |q AS (SELECT vec_id AS query_id, label AS qlbl, cv AS qv
        |      FROM c WHERE vec_id < 3),
        |s AS (SELECT query_id, vec_id,
        |        round(list_dot_product(cv, qv) /
        |              sqrt(list_dot_product(cv, cv) *
        |                   list_dot_product(qv, qv)), 4) AS cos
        |      FROM c CROSS JOIN q WHERE label <> qlbl)
        |SELECT query_id, vec_id, cos,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos DESC, vec_id ASC) AS INT) AS rnk
        |FROM s QUALIFY rnk <= 10""".stripMargin),

    // embedding drift monitor: per-label prototype cosine between
    // the even-id and odd-id halves of the corpus (two pseudo-
    // snapshots) — near 1 for a stationary distribution
    Query("q_embed_drift", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.prototypeDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1),
        col("embedding"), col("label"))
    },
      // q_embed_drift: the q_prototype sum CTEs once per half, joined
      // per label, scored with the same in-order cosine formula
      """WITH ex AS (
        |  SELECT vec_id % 2 AS half, label AS lbl,
        |         unnest([{'p': i, 'v': CAST(round(
        |             CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)}
        |                 for i in range(len(embedding))],
        |                recursive := true)
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |ps AS (SELECT half, lbl, p, sum(v) AS s FROM ex GROUP BY 1, 2, 3),
        |protos AS (SELECT half, lbl,
        |             list_transform(list(s ORDER BY p),
        |                            x -> CAST(x AS DOUBLE)) AS proto
        |           FROM ps GROUP BY half, lbl),
        |o AS (SELECT lbl, proto AS po FROM protos WHERE half = 0),
        |n AS (SELECT lbl, proto AS pn FROM protos WHERE half = 1)
        |SELECT coalesce(o.lbl, n.lbl) AS lbl,
        |       CASE WHEN po IS NULL OR pn IS NULL THEN NULL
        |            ELSE round(list_dot_product(po, pn) /
        |                   sqrt(list_dot_product(po, po) *
        |                        list_dot_product(pn, pn)), 4) END AS drift_cos
        |FROM o FULL OUTER JOIN n ON o.lbl = n.lbl""".stripMargin),

    // nearest-class-mean classification: integer micro-unit label
    // prototypes (exact, order-independent sums — engine-portable
    // where a float mean is not), every vector assigned to its
    // nearest prototype
    Query("q_prototype", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.prototypePredict(
        e, col("embedding"), col("label"),
        e, col("vec_id"), col("embedding"))
    },
      // q_prototype: per-label integer micro-unit component sums (exact
      // 64-bit arithmetic — order-independent, so engine-portable where
      // a float mean is not; cosine is scale-invariant so the
      // un-divided sum ranks identically to the mean), then
      // nearest-prototype assignment
      """WITH ex AS (
        |  SELECT label AS lbl,
        |         unnest([{'p': i, 'v': CAST(round(
        |             CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)}
        |                 for i in range(len(embedding))],
        |                recursive := true)
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |ps AS (SELECT lbl, p, sum(v) AS s FROM ex GROUP BY 1, 2),
        |protos AS (SELECT lbl,
        |             list_transform(list(s ORDER BY p),
        |                            x -> CAST(x AS DOUBLE)) AS proto
        |           FROM ps GROUP BY lbl),
        |q AS (SELECT vec_id AS query_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |      FROM embeddings),
        |s AS (SELECT query_id, lbl,
        |        round(list_dot_product(proto, qv) /
        |              sqrt(list_dot_product(proto, proto) *
        |                   list_dot_product(qv, qv)), 4) AS cos
        |      FROM q CROSS JOIN protos)
        |SELECT query_id, lbl AS pred_label, cos
        |FROM s QUALIFY row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, lbl ASC) = 1""".stripMargin),

    // exact-cosine near-dup pairs in the WEAK-similarity regime
    // (0.4–0.6 — no LSH blocks it efficiently), graded SUBLINEARLY:
    // every pair with >= 1 endpoint in a 500-vector md5-hash stratum
    // is scored exactly against the FULL corpus (stratum broadcast,
    // O(500·n) map-side — the last O(n²) graded plan, now gone; the
    // full quadratic bruteForcePairs stays a library baseline for
    // dim-sized inputs). One-sided membership keeps the witness
    // density CONSTANT as the corpus grows; the oracle rederives the
    // stratum from the same engine-portable md5 predicate and
    // brute-forces only stratum × corpus.
    Query("q_embed_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.stratumPairs(e, col("vec_id"), col("embedding"),
        threshold = 0.4, witnessSize = 500)
    },
      // the stratum threshold mirrors Sampling.rateThreshold exactly:
      // rate = min(1, 500/n); hex = floor(rate * 2^32) as %08x (IEEE
      // double arithmetic in the same order on both engines), compared
      // lexicographically against substr(md5(id || ':42'), 1, 8)
      """WITH c AS (SELECT vec_id,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |           FROM embeddings),
        |thr AS (SELECT CASE WHEN least(1.0, 500.0 / greatest(count(*), 1))
        |                         * 4294967296.0 >= 4294967296.0 THEN 'g'
        |               ELSE printf('%08x', CAST(floor(
        |                 least(1.0, 500.0 / greatest(count(*), 1))
        |                 * 4294967296.0) AS BIGINT)) END AS t
        |        FROM c),
        |s AS (SELECT vec_id, cv FROM c, thr
        |      WHERE substr(md5(CAST(vec_id AS VARCHAR) || ':42'), 1, 8) < t)
        |SELECT DISTINCT
        |       least(a.vec_id, b.vec_id) AS id_a,
        |       greatest(a.vec_id, b.vec_id) AS id_b,
        |       round(list_dot_product(a.cv, b.cv) /
        |             sqrt(list_dot_product(a.cv, a.cv) *
        |                  list_dot_product(b.cv, b.cv)), 4) AS cos
        |FROM c a JOIN s b ON a.vec_id <> b.vec_id
        |WHERE round(list_dot_product(a.cv, b.cv) /
        |            sqrt(list_dot_product(a.cv, a.cv) *
        |                 list_dot_product(b.cv, b.cv)), 4) >= 0.4""".stripMargin),

    // the SCALE path graded for set equality against a brute-force
    // oracle: banded-LSH embedding near-dup over the planted-twin
    // corpus (every vector + a jittered copy at cos ≈ 0.999997; see
    // plantedEmbeddings — DuckDB rederives the corpus bit-for-bit and
    // brute-forces the true pair set). Threshold 0.9 sits in the
    // planted/natural separation (max natural cos ≈ 0.60), where
    // LSH's contract holds: per-bit collision p = 1 − θ/π ≈ 0.99927
    // at θ ≈ 0.0023 rad, so a 16-bit band collides at p^16 ≈ 0.988
    // and missing all 4 bands is (1−0.988)^4 ≈ 2e-8 per pair —
    // verified exact equality (0 missed / 0 extra) at sf0.001, 0.01
    // AND 0.1, deterministic because signatures and jitter are both
    // pure content hashes. q_embed_neardup remains the exact O(n²)
    // baseline for the weak-similarity regime (cos 0.4–0.6) that no
    // LSH blocks efficiently; THIS query grades the plan you'd run
    // at 100×.
    Query("q_embed_blocked", (s, dir) =>
      functions.Similarity.embeddingNearDups(
        plantedEmbeddings(t(s, dir, "embeddings")),
        col("vec_id"), col("cv"), threshold = 0.9),
      // q_embed_blocked: DuckDB rederives the planted-twin corpus
      // (md5-unit jitter, the plantedEmbeddings arithmetic verbatim —
      // lambda index i is 1-based here, 0-based in Spark, hence i-1)
      // and brute-forces ALL pairs >= 0.9; the Spark side's banded-LSH
      // output must equal that set row-for-row.
      """WITH base AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings),
        |jit AS (
        |  SELECT vec_id + 1000000 AS jid,
        |         list_transform(cv, (x, i) -> x + 0.001 *
        |           ((('0x' || substr(md5(vec_id || ':' || (i - 1)), 1, 15))
        |               ::BIGINT / 1152921504606846976.0) - 0.5)) AS cv
        |  FROM base),
        |c AS (SELECT vec_id, cv FROM base
        |      UNION ALL SELECT jid, cv FROM jit)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_dot_product(a.cv, b.cv) /
        |             sqrt(list_dot_product(a.cv, a.cv) *
        |                  list_dot_product(b.cv, b.cv)), 4) AS cos
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.cv, b.cv) /
        |            sqrt(list_dot_product(a.cv, a.cv) *
        |                 list_dot_product(b.cv, b.cv)), 4) >= 0.9""".stripMargin),

    // SemDeDup end-to-end: cluster-partitioned pair discovery +
    // transitive closure + keep-one, on the corpus ∪ an exact copy
    // of itself (ids +1M). EXACT twins, not jittered: identical
    // vectors get identical centroid assignments, so co-clustering
    // is deterministic at every sf — a jittered twin within ~1e-3 of
    // a k-means boundary can land across it (the method's inherent
    // approximation; at 20k twins a few hundred would split), which
    // is exactly the regime the oracle-equality gate must NOT depend
    // on. The oracle closes the GLOBAL ≥0.98 pair graph (recursive
    // CTE) and keeps class minima; no natural pair reaches 0.98
    // (fixture same-label mean cos ≈ 0.021). The jittered/split
    // regime is covered by q_embed_blocked's banded-LSH path, whose
    // miss probability is scale-independent.
    Query("q_semdedup", (s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
      val corpus = base.unionByName(
        base.select((col("vec_id") + lit(1000000L)).as("vec_id"), col("cv")))
      // SemDeDup's published recipe sizes nlist WITH the corpus
      // (constant ~8k-vector clusters keep the within-cluster
      // quadratic flat as n grows — nlist is the dial, per the
      // semDedup scaladoc). Both graded scales resolve to the
      // historical nlist = 8 (sf0.01: 1k, sf1: 40k corpus vectors);
      // past ~65k vectors the formula starts scaling cluster COUNT
      // instead of cluster size. Oracle safety is unchanged at any
      // nlist: exact twins always co-cluster, and no natural pair
      // reaches 0.98 (checked by DuckDB brute force at sf ≤ 1;
      // ~7.7σ per pair on unit-norm 64-d Gaussians above that).
      val nlist = math.max(8L, 2L * base.count() / 8192L).toInt
      functions.Similarity.semDedup(corpus,
        col("vec_id"), col("cv"), nlist = nlist, threshold = 0.98)
    },
      // q_semdedup: global ≥0.98 pair graph over the corpus ∪ its
      // exact copy, closed with a recursive CTE; kept = class minima +
      // unpaired. The Spark side only compares within k-means clusters
      // — equality with this GLOBAL oracle is exactly the exact-twin
      // co-clustering guarantee the query comment derives.
      s"""WITH RECURSIVE base AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings),
        |c AS (SELECT vec_id, cv FROM base
        |      UNION ALL SELECT vec_id + 1000000, cv FROM base),
        |pr AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM c a JOIN c b ON a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.cv, b.cv) /
        |              sqrt(list_dot_product(a.cv, a.cv) *
        |                   list_dot_product(b.cv, b.cv)), 4) >= 0.98),
        |${componentWalk("pr")},
        |rep AS (SELECT id, min(r) AS rep FROM walk GROUP BY id)
        |SELECT c.vec_id
        |FROM c LEFT JOIN rep ON c.vec_id = rep.id
        |WHERE rep.id IS NULL OR rep.rep = c.vec_id""".stripMargin),

    // IVF probe with nprobe = nlist: every cluster is scanned, so the
    // result provably equals brute-force top-k — a full hash-checked
    // oracle over the whole index/assign/probe machinery (pruned
    // nprobe < nlist recall is gated separately in IvfSpec).
    Query("q_embed_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (indexed, cents) = functions.Ivf.index(e, col("vec_id"),
        col("embedding"), k = 16, iters = 1)
      functions.Ivf.topK(indexed, cents,
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = 5, nprobe = 16)
    },
      // q_embed_ivf: nprobe = nlist scans every cluster, so IVF top-k
      // provably equals brute-force top-k — checked row-for-row.
      embedIvfSql),

    // the same IVF machinery as a PERSISTED artifact — the
    // build-once/probe-many shape a 100 TB ANN deployment runs:
    // index written cluster-partitioned to parquet (+ the O(nlist)
    // centroid table beside it), probe reads it back from disk; a
    // pruned probe scans only its nprobe partitions (IvfSpec asserts
    // the partition-pruned plan), and nprobe = nlist here makes the
    // result provably brute-force-equal so the oracle hash-checks
    // the full write/read/probe round trip. artifactWriteNanos
    // splits the bench record like q_zorder_box's.
    Query("q_embed_ivf_disk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val out = scratchDir(s, "ivf")
      val (indexed, cents) = functions.Ivf.index(e, col("vec_id"),
        col("embedding"), k = 16, iters = 1)
      artifactWrite {
        functions.Ivf.writePartitioned(indexed, s"$out/index")
        cents.write.mode("overwrite").parquet(s"$out/centroids")
      }
      functions.Ivf.topK(s.read.parquet(s"$out/index"),
        s.read.parquet(s"$out/centroids"),
        e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = 5, nprobe = 16)
    },
      // identical semantics through the persisted cluster-partitioned
      // artifact — same oracle verbatim
      embedIvfSql),

    // classification by retrieval: each query vector takes the
    // majority label of its 7 nearest neighbors (exact cosine,
    // smaller-label tie-break)
    Query("q_knn_predict", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.knnPredict(
        e, col("vec_id"), col("embedding"), col("label"),
        e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
        k = 7)
    },
      // kNN vote replayed: exact cosine ranking (the embed_topk CTE),
      // then majority vote with (votes DESC, label ASC) tie-break
      """WITH c AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |           FROM embeddings WHERE label IS NOT NULL),
        |q AS (SELECT vec_id AS query_id,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |      FROM embeddings WHERE vec_id < 20),
        |s AS (SELECT query_id, vec_id, label,
        |        round(list_dot_product(cv, qv) /
        |              sqrt(list_dot_product(cv, cv) *
        |                   list_dot_product(qv, qv)), 4) AS cos
        |      FROM c CROSS JOIN q WHERE vec_id <> query_id),
        |nn AS (SELECT query_id, label FROM s
        |       QUALIFY row_number() OVER (PARTITION BY query_id
        |                 ORDER BY cos DESC, vec_id ASC) <= 7),
        |votes AS (SELECT query_id, label AS pred_label,
        |                 count(*) AS n_votes
        |          FROM nn GROUP BY query_id, label)
        |SELECT query_id, pred_label, CAST(n_votes AS BIGINT) AS n_votes
        |FROM votes
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |          ORDER BY n_votes DESC, pred_label ASC) = 1""".stripMargin),

    // int8-quantized approximate scan + exact float rerank: with
    // overfetch 4 the true top-5 survive the approximate cut (the
    // quantization error at 64 dims is ~1% of the score), so the
    // output EQUALS brute-force top-k and the oracle is the same
    // full ranking SQL — the whole quantize/score/rerank pipeline is
    // hash-checked row-for-row.
    Query("q_embed_quantized", (s, dir) => {
      val e = t(s, dir, "embeddings")
      functions.Similarity.quantizedTopK(
        e, col("vec_id"), col("embedding"),
        e.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, overfetch = 4)
    },
      // q_embed_quantized: the quantized path's exact rerank makes its
      // output equal brute-force top-k (overfetch keeps the true top-k
      // among the approximate candidates), so the oracle is the full
      // exact ranking
      cosineTopK(queries = 10, k = 5)),

    // hyperplane-hash buckets are xxhash64-based (not SQL-portable),
    // so the gate is self-validating: per-query recall@k of the
    // multiprobe ANN against brute force, every query must clear the
    // floor the oracle states as a constant. The synthetic embeddings
    // have no true near-neighbor structure (max pairwise cos ≈ 0.5 —
    // the "neighbors" are near-orthogonal, the regime LSH is worst
    // at), so the graded config trades pruning for a gate that
    // BITES: radius 3 probes 15 of 16 buckets and the measured min
    // recall is exactly 4/5 at sf0.01 AND sf0.1 (sf0.001 shares
    // sf0.01's embeddings; signatures are hash-deterministic, so the
    // measurement is stable). Floor 0.8 means a signature/probe/rank
    // regression that costs even one hit on the worst query
    // hash-mismatches — vs the old 0.4 floor a halved recall could
    // slip past. Real corpora with actual near-dup structure run
    // higher bits with small radius (FunctionsSpec's banded recall
    // gate covers that regime with seeded near-identical vectors).
    Query("q_embed_ann", (s, dir) =>
      recallGate(s, dir, floor = 0.8) { (e, queries, k) =>
        functions.Similarity.lshTopK(
          e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = k, bits = 4, probeRadius = 3)
      },
      // q_embed_ann: per-query recall floor, stated as a constant; the
      // Spark side computes recall@5 of the multiprobe ANN vs brute
      // force and emits whether each query clears it.
      recallOkSql),

    // product quantization (Pq.adcTopK): 16 one-byte codes per
    // 64-dim vector (a 16× smaller scan than float, 4× smaller than
    // int8), ADC lookup-table scoring, exact rerank of the
    // candidates. Candidates scale with the corpus (≈4% of n, the
    // q_semdedup nlist pattern), so the recall gate is tight at BOTH
    // verified scales: measured min recall is exactly 3/5 at sf0.01
    // (n=500, overfetch 8) and at sf1 (n=50k, overfetch 400) on
    // these near-orthogonal synthetic embeddings — PQ's worst
    // regime, like LSH's (q_embed_ann). Floor 0.6 = the measured
    // min: losing ONE hit on the worst query fails the gate. Real
    // near-dup structure retrieves top-1 exactly (PqSpec's planted
    // pairs).
    Query("q_embed_pq", (s, dir) =>
      recallGate(s, dir, floor = 0.6) { (e, queries, k) =>
        val overfetch = candidates(e, k)
        functions.Pq.adcTopK(e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = k, m = 16, ksub = 16, overfetch = overfetch, iters = 2)
      },
      // q_embed_pq: same self-validating shape as q_embed_ann — the
      // codebook is k-means-trained (not SQL-portable), so the gate is
      // per-query recall of the PQ+rerank pipeline vs brute force,
      // every query clearing the constant floor (0.6 = the measured
      // min at sf0.01 AND sf1; one lost hit on the worst query fails)
      recallOkSql),

    // IVF-PQ (IvfPq.index/topK): coarse clusters prune WHICH vectors
    // are scanned (nprobe 8 of nlist 16), PQ codes compress WHAT is
    // scanned (16 B residual code words), and the score splits
    // exactly as dot(q,c) + ADC(residual). Residual encoding lifts
    // the measured min recall to 4/5 at sf0.01 and 5/5 at sf1 (vs
    // flat PQ's 3/5 at the same code budget) — floor 0.8 = the
    // measured min; one lost hit on the worst query fails.
    Query("q_embed_ivfpq", (s, dir) =>
      recallGate(s, dir, floor = 0.8) { (e, queries, k) =>
        val overfetch = candidates(e, k)
        val (index, cents, cb) = functions.IvfPq.index(
          e, col("vec_id"), col("embedding"), nlist = 16, m = 16, ksub = 16)
        functions.IvfPq.topK(index, cents, cb,
          e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = k, m = 16, ksub = 16, nprobe = 8, overfetch = overfetch)
      },
      // q_embed_ivfpq: same self-validating shape, higher floor (0.8)
      // — residual encoding is measurably better than flat PQ at the
      // same code budget, and the gate pins that advantage
      recallOkSql),

    // the full IVF-PQ artifact set PERSISTED (IvfPq.writeIndex /
    // readIndex): code index partitioned by cluster + centroid +
    // residual-codebook tables on parquet, probe reading only the
    // probed clusters' code files plus the float column for rerank
    // survivors. Byte/double round-trip is binary-exact, so the disk
    // probe clears q_embed_ivfpq's recall gate at the same 0.8 floor.
    // artifactWriteNanos splits the bench record like q_zorder_box's.
    Query("q_embed_ivfpq_disk", (s, dir) =>
      recallGate(s, dir, floor = 0.8) { (e, queries, k) =>
        val overfetch = candidates(e, k)
        val out = scratchDir(s, "ivfpq")
        val (index, cents, cb) = functions.IvfPq.index(
          e, col("vec_id"), col("embedding"), nlist = 16, m = 16, ksub = 16)
        artifactWrite(functions.IvfPq.writeIndex(index, cents, cb, out))
        val (dIndex, dCents, dCb) = functions.IvfPq.readIndex(s, out)
        functions.IvfPq.topK(dIndex, dCents, dCb,
          e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = k, m = 16, ksub = 16, nprobe = 8, overfetch = overfetch)
      },
      // q_embed_ivfpq_disk: identical gate through the persisted
      // cluster-partitioned index — the round trip is binary-exact,
      // so the disk probe must clear the same 0.8 floor
      recallOkSql),

    // the same PQ machinery as a PERSISTED artifact — the
    // build-once/probe-many shape: the (vec_id, codes) table (16
    // B/vector) and the m·ksub-row codebook written to parquet, the
    // probe reading ONLY them plus the float column for the rerank
    // survivors. Byte/double columns round-trip binary-exact, so the
    // disk probe passes the same gate at the same floor.
    // artifactWriteNanos splits the bench record like q_zorder_box's.
    Query("q_embed_pq_disk", (s, dir) =>
      recallGate(s, dir, floor = 0.6) { (e, queries, k) =>
        val overfetch = candidates(e, k)
        val out = scratchDir(s, "pq")
        val cb = functions.Pq.train(e, col("vec_id"), col("embedding"),
          m = 16, ksub = 16, iters = 2)
        val encoded = functions.Pq.encode(e, col("vec_id"),
          col("embedding"), cb, m = 16)
        artifactWrite {
          encoded.write.mode("overwrite").parquet(s"$out/codes")
          cb.write.mode("overwrite").parquet(s"$out/codebook")
        }
        functions.Pq.adcTopKIndexed(
          s.read.parquet(s"$out/codes"), s.read.parquet(s"$out/codebook"),
          e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"),
          k = k, m = 16, ksub = 16, overfetch = overfetch)
      },
      // q_embed_pq_disk: identical gate — the parquet round trip is
      // binary-exact for byte/double columns, so the persisted index
      // must clear the same floor
      recallOkSql),
  )
}
