package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Query.t
import OracleSql.words

/** Frequency sketches, data profiling, text canonicalization and the
  * PII scrub and privacy audits.
  */
object SketchQueries {

  /** Grading witness of a panel rollup `roll` over `docs`: its n and
    * distinct count, `hll_ok` (the HLL estimate within 5% of the exact
    * distinct count) and, per quantile (p, lo, hi), `p<p>_ok`: the
    * exact rank interval of the merged-KLL `p<p>` overlaps [lo, hi].
    */
  private def rollupWitness(docs: DataFrame, roll: DataFrame,
                            quantiles: (String, Double, Double)*): DataFrame = {
    val exact = docs.agg(countDistinct(col("n_chars")).as("__dx"))
    val ranks = quantiles.flatMap { case (p, _, _) =>
      Seq((sum(when(col("n_chars") < col(s"p$p"), 1L).otherwise(0L)) /
            count(lit(1))).as(s"__r${p}lo"),
        (sum(when(col("n_chars") <= col(s"p$p"), 1L).otherwise(0L)) /
            count(lit(1))).as(s"__r${p}hi"))
    }
    val laws = quantiles.map { case (p, lo, hi) =>
      (col(s"__r${p}lo") <= hi && col(s"__r${p}hi") >= lo).as(s"p${p}_ok")
    }
    docs.select(col("n_chars")).crossJoin(broadcast(roll))
      .agg(first(col("n")).as("n"),
        Seq(first(col("distinct_theta")).as("distinct_lens"),
          first(col("distinct_hll")).as("__hll")) ++ ranks: _*)
      .crossJoin(broadcast(exact))
      .select(Seq(col("n"), col("distinct_lens"),
        (abs(col("__hll") - col("__dx")) <=
          greatest(col("__dx") * 0.05, lit(2.0))).as("hll_ok")) ++ laws: _*)
  }

  val all: Seq[Query] = Seq(
    // exact phi-heavy-hitters: capacity 30 < the corpus' 31-token
    // vocabulary, so the Misra-Gries decrement path genuinely runs;
    // phi=0.0335 > 1/31 keeps the no-missed-hitter guarantee
    Query("q_heavy_hitters", (s, dir) =>
      functions.Sketches.phiHeavyHitters(
        t(s, dir, "documents").select(explode(
          functions.TextAnalysis.bpeishTokens(col("text"))).as("item")),
        col("item"), phi = 0.0335, capacity = 30),
      // exact phi-heavy-hitters: the sketch only proposes candidates,
      // exact counting decides — so plain GROUP BY + HAVING is the oracle
      """WITH t AS (
        |  SELECT unnest(list_filter(
        |           string_split_regex(lower(text), '[^a-z0-9'']+'),
        |           x -> length(x) > 0)) AS item
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM t)
        |SELECT item, count(*) AS cnt
        |FROM t CROSS JOIN n
        |GROUP BY item, n.n
        |HAVING count(*) >= CAST(ceil(CAST(0.0335 AS DOUBLE) * n.n)
        |                        AS BIGINT)""".stripMargin),

    // count-min sketch (Sketches.cmsTable/cmsEstimate): a
    // depth×width-bounded frequency table answering ARBITRARY keys
    // after the fact (vs Misra-Gries' survivors-only). Buckets are
    // md5-derived, so the whole build+probe pipeline is re-derivable
    // in SQL and the ESTIMATES themselves hash-grade — including
    // where collisions inflate them (width 64 against a ~10k-word
    // vocabulary guarantees real collisions at every scale). est >=
    // exact is the sketch's deterministic lower-bound law.
    Query("q_cms", (s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val table = functions.Sketches.cmsTable(words, col("w"),
        depth = 4, width = 64)
      val exact = words.groupBy(col("w")).agg(count(lit(1)).as("exact"))
      val probes = exact.orderBy(col("exact").desc, col("w").asc).limit(20)
      functions.Sketches.cmsEstimate(table, probes, col("w"),
          depth = 4, width = 64)
        .join(probes.withColumnRenamed("w", "key"), Seq("key"))
        .select(col("key"), col("exact"), col("est"),
          (col("est") >= col("exact")).as("lb_ok"))
    },
      // q_cms: the full sketch pipeline re-derived — same md5 buckets,
      // same (r, bucket) counts, same min-over-rows estimate; the
      // estimates hash-compare exactly, collisions included
      s"""WITH $words,
        |tbl AS (
        |  SELECT i AS r,
        |         CAST(('0x' || substr(md5(w || ':' || i), 1, 8)) AS BIGINT)
        |           % 64 AS bucket,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks, unnest([0, 1, 2, 3]) AS u(i)
        |  GROUP BY 1, 2),
        |exact AS (SELECT w, CAST(count(*) AS BIGINT) AS exact
        |          FROM toks GROUP BY w),
        |probes AS (SELECT w, exact FROM exact
        |           ORDER BY exact DESC, w LIMIT 20),
        |pb AS (
        |  SELECT p.w, p.exact, i AS r,
        |         CAST(('0x' || substr(md5(p.w || ':' || i), 1, 8)) AS BIGINT)
        |           % 64 AS bucket
        |  FROM probes p, unnest([0, 1, 2, 3]) AS u(i)),
        |est AS (
        |  SELECT pb.w, pb.exact,
        |         CAST(min(coalesce(tbl.cnt, 0)) AS BIGINT) AS est
        |  FROM pb LEFT JOIN tbl ON tbl.r = pb.r AND tbl.bucket = pb.bucket
        |  GROUP BY pb.w, pb.exact)
        |SELECT w AS key, exact, est, est >= exact AS lb_ok
        |FROM est""".stripMargin),

    // the xxhash64 fast dial of the same sketch (portable = false —
    // measured ~6× cheaper bucket hashing at sf10; the dial for
    // sketches nothing outside Spark re-derives). Buckets are not
    // SQL-recomputable, so this grades SELF-VALIDATING on the two
    // laws that hold for ANY row-wise hash family: est >= exact on
    // every probe (deterministic lower bound), and LINEARITY — the
    // cell-wise sum of two disjoint-half sketches estimates exactly
    // like the whole-corpus build (the merge law a 1000-executor
    // partial-sketch build relies on). The oracle re-derives the
    // probes' exact counts and states both laws as constants.
    Query("q_cms_fast", (s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      val whole = functions.Sketches.cmsTable(words, col("w"),
        depth = 4, width = 64, portable = false)
      val merged = functions.Sketches.cmsTable(
          words.filter(col("doc_id") % 2 === 0), col("w"),
          depth = 4, width = 64, portable = false)
        .unionByName(functions.Sketches.cmsTable(
          words.filter(col("doc_id") % 2 === 1), col("w"),
          depth = 4, width = 64, portable = false))
        .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      val exact = words.groupBy(col("w")).agg(count(lit(1)).as("exact"))
      val probes = exact.orderBy(col("exact").desc, col("w").asc).limit(20)
      functions.Sketches.cmsEstimate(whole, probes, col("w"),
          depth = 4, width = 64, portable = false)
        .join(functions.Sketches.cmsEstimate(merged, probes, col("w"),
            depth = 4, width = 64, portable = false)
          .withColumnRenamed("est", "est_merged"), Seq("key"))
        .join(probes.withColumnRenamed("w", "key"), Seq("key"))
        .select(col("key"), col("exact"),
          (col("est") >= col("exact")).as("lb_ok"),
          (col("est") === col("est_merged")).as("union_ok"))
    },
      // q_cms_fast: xxhash64 buckets are engine-internal, so the
      // oracle re-derives only the probe keys + exact counts and
      // states the two hash-family-independent sketch laws (lower
      // bound, merge linearity) as constants — the Spark side computes
      // both sides of each law and would emit FALSE on violation.
      s"""WITH $words,
        |exact AS (SELECT w, CAST(count(*) AS BIGINT) AS exact
        |          FROM toks GROUP BY w),
        |probes AS (SELECT w, exact FROM exact
        |           ORDER BY exact DESC, w LIMIT 20)
        |SELECT w AS key, exact, TRUE AS lb_ok, TRUE AS union_ok
        |FROM probes""".stripMargin),

    // mergeable DataSketches panel (Sketches.sketchPanel): one
    // bookkeeping row per source carrying {theta, HLL, KLL} binary
    // sketches + exact n — the artifact a 100 TB pipeline persists
    // per day/source and rolls up WITHOUT rescanning the corpus.
    // Grading exploits the exactness window: a theta sketch at
    // lgk=20 retains every distinct hash at test scales, so its
    // estimate hash-grades against DuckDB's COUNT(DISTINCT); the
    // estimate-only sides grade as laws computed Spark-side (FALSE
    // on violation) — HLL inside a 3-sigma relative-error envelope,
    // the KLL median's exact rank interval covering 0.5 +/- the
    // k=200 rank-error bound.
    Query("q_sketch_panel", (s, dir) => {
      val docs = t(s, dir, "documents")
      val panel = functions.Sketches.sketchPanel(docs, col("source"),
        col("n_chars"), col("n_chars"))
      val est = panel.select(col("group").as("source"), col("n"),
        call_function("theta_sketch_estimate", col("theta"))
          .as("distinct_lens"),
        call_function("hll_sketch_estimate", col("hll")).as("__hll"),
        call_function("kll_sketch_get_quantile_double", col("kll"),
          lit(0.5)).as("__p50"))
      // exact rank interval of the KLL median (ties widen it) and
      // the exact distinct count for the HLL envelope — one extra
      // corpus pass, grading-only
      val ranks = est.select(col("source"), col("__p50"))
        .join(docs.select(col("source"), col("n_chars")), Seq("source"))
        .groupBy(col("source"))
        .agg(
          (sum(when(col("n_chars") < col("__p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("__rlo"),
          (sum(when(col("n_chars") <= col("__p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("__rhi"))
      val exact = docs.groupBy(col("source"))
        .agg(countDistinct(col("n_chars")).as("__dx"))
      est.join(exact, Seq("source")).join(ranks, Seq("source"))
        .select(col("source"), col("n"), col("distinct_lens"),
          (abs(col("__hll") - col("__dx")) <=
            greatest(col("__dx") * 0.05, lit(2.0))).as("hll_ok"),
          (col("__rlo") <= 0.53 && col("__rhi") >= 0.47).as("p50_ok"))
    },
      // q_sketch_panel: theta at lgk=20 is exact at every test scale,
      // so n and the distinct count recompute directly; the HLL
      // envelope and the KLL rank-interval laws are stated as
      // constants (the Spark side computes both sides and emits FALSE
      // on violation)
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT n_chars) AS BIGINT) AS distinct_lens,
        |       TRUE AS hll_ok, TRUE AS p50_ok
        |FROM documents GROUP BY source""".stripMargin),

    // the rollup half of the panel story: collapse the per-source
    // panel to ONE global row — total n, global distinct (theta
    // union of exact sketches = exact), merged-KLL p50/p95 — moving
    // only sketch-sized rows. The corpus pass below is grading-only
    // (rank intervals + the HLL envelope); production reads the
    // panel alone.
    Query("q_sketch_rollup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val roll = functions.Sketches.panelRollup(
        functions.Sketches.sketchPanel(docs, col("source"),
          col("n_chars"), col("n_chars")),
        Seq(0.5, 0.95))
      rollupWitness(docs, roll, ("50", 0.47, 0.53), ("95", 0.92, 0.98))
    },
      // q_sketch_rollup: the global row — theta union of exact
      // sketches stays exact, the estimate-only laws are constants
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT n_chars) AS BIGINT) AS distinct_lens,
        |       TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM documents""".stripMargin),

    // the incremental-bookkeeping law in the graded surface: two
    // "daily" panels built on disjoint corpus slices, UNIONED AS
    // ROWS (a pure metadata append — the day-1 corpus is never
    // re-read when day 2 arrives), must roll up to the whole-corpus
    // answers. Theta union of exact sketches stays exact, n sums —
    // so the global row hash-grades against the same oracle shape
    // as q_sketch_rollup.
    Query("q_sketch_union", (s, dir) => {
      val docs = t(s, dir, "documents")
      val day1 = docs.filter(col("doc_id") % 3 =!= 2)
      val day2 = docs.filter(col("doc_id") % 3 === 2)
      val panel = functions.Sketches.sketchPanel(day1, col("source"),
          col("n_chars"), col("n_chars"))
        .unionByName(functions.Sketches.sketchPanel(day2, col("source"),
          col("n_chars"), col("n_chars")))
      val roll = functions.Sketches.panelRollup(panel, Seq(0.5))
      rollupWitness(docs, roll, ("50", 0.47, 0.53))
    },
      // q_sketch_union: union-of-daily-panels must equal the
      // whole-corpus rollup — same oracle shape as q_sketch_rollup
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT n_chars) AS BIGINT) AS distinct_lens,
        |       TRUE AS hll_ok, TRUE AS p50_ok
        |FROM documents""".stripMargin),

    // one-pass per-column data profiling (meta.Profiler.profile):
    // the pre-ingest validation report — row count, per-column
    // nulls, distinct (theta sketch: exact below capacity, the
    // bounded-state path Advisor's exact_distinct_at_scale rule
    // prescribes), min/max — all columns riding ONE aggregation
    // pass. Every number recomputes directly in DuckDB.
    Query("q_profile", (s, dir) =>
      meta.Profiler.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars")),
      // q_profile: per-column counters recompute directly; the theta
      // distinct is exact below capacity so it hash-grades too
      """SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |       CAST(min(doc_id) AS VARCHAR) AS min_s,
        |       CAST(max(doc_id) AS VARCHAR) AS max_s
        |FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(lang) AS BIGINT),
        |       CAST(count(DISTINCT lang) AS BIGINT),
        |       CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'source', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(source) AS BIGINT),
        |       CAST(count(DISTINCT source) AS BIGINT),
        |       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(n_chars) AS BIGINT),
        |       CAST(count(DISTINCT n_chars) AS BIGINT),
        |       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents""".stripMargin),

    // per-column frequent items (meta.Profiler.profileTopK — the
    // ValueHistogram "top items" report per column): Misra-Gries
    // proposes per partition, exact counting decides, rank-by-
    // (count desc, item asc) cuts. The graded columns (lang, source,
    // a 16-bucket length quantization) each hold <= capacity
    // distinct values, the regime where the report is
    // unconditionally exact — so DuckDB recomputes it directly.
    Query("q_profile_topk", (s, dir) =>
      meta.Profiler.profileTopK(
        t(s, dir, "documents").withColumn("len_bucket",
          (col("n_chars") % 16).cast("string")),
        Seq("lang", "source", "len_bucket"), k = 3),
      // q_profile_topk: every graded column's cardinality sits below
      // the sketch capacity, so the frequent-items report is exact —
      // a plain count/rank recompute per column
      """WITH items AS (
        |  SELECT 'lang' AS col_name, lang AS item FROM documents
        |    WHERE lang IS NOT NULL
        |  UNION ALL
        |  SELECT 'source', source FROM documents WHERE source IS NOT NULL
        |  UNION ALL
        |  SELECT 'len_bucket', CAST(n_chars % 16 AS VARCHAR)
        |  FROM documents WHERE n_chars IS NOT NULL),
        |counted AS (
        |  SELECT col_name, item, CAST(count(*) AS BIGINT) AS cnt
        |  FROM items GROUP BY col_name, item),
        |ranked AS (
        |  SELECT col_name, item, cnt,
        |         row_number() OVER (PARTITION BY col_name
        |           ORDER BY cnt DESC, item) AS rnk
        |  FROM counted)
        |SELECT col_name, CAST(rnk AS INT) AS rnk, item, cnt
        |FROM ranked WHERE rnk <= 3""".stripMargin),

    // per-column quantiles in the profile's one-pass shape
    // (meta.Profiler.profileQuantiles): KLL per column, graded as
    // rank-law gates (the returned quantile's true rank must sit
    // inside the sketch's error band — the q_sketch_regroup pattern,
    // here per COLUMN instead of per group)
    Query("q_profile_quantiles", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rep = meta.Profiler.profileQuantiles(docs,
        Seq("doc_id", "n_chars"), Seq(0.5, 0.95))
      val vals = docs.select(explode(array(
          struct(lit("doc_id").as("col_name"),
            col("doc_id").cast("double").as("value")),
          struct(lit("n_chars").as("col_name"),
            col("n_chars").cast("double").as("value")))).as("p"))
        .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      val ranks = vals.join(rep, Seq("col_name"))
        .groupBy(col("col_name"))
        .agg(
          (sum(when(col("value") < col("p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("__r50lo"),
          (sum(when(col("value") <= col("p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("__r50hi"),
          (sum(when(col("value") < col("p95"), 1L).otherwise(0L)) /
            count(lit(1))).as("__r95lo"),
          (sum(when(col("value") <= col("p95"), 1L).otherwise(0L)) /
            count(lit(1))).as("__r95hi"))
      rep.join(ranks, Seq("col_name"))
        .select(col("col_name"), col("n"),
          (col("__r50lo") <= 0.53 && col("__r50hi") >= 0.47).as("p50_ok"),
          (col("__r95lo") <= 0.98 && col("__r95hi") >= 0.92).as("p95_ok"))
    },
      // q_profile_quantiles: non-null counts recompute; the rank gates
      // are law constants (KLL k=200 rank error <= 1.65% at 99% conf.,
      // bands at +-0.03)
      """SELECT 'doc_id' AS col_name,
        |       CAST(count(doc_id) AS BIGINT) AS n,
        |       TRUE AS p50_ok, TRUE AS p95_ok FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(count(n_chars) AS BIGINT), TRUE, TRUE
        |FROM documents""".stripMargin),

    // profile DRIFT between two corpus drops (meta.Profiler.drift):
    // the "after" drop nulls 20% of lang and 50x-es source
    // cardinality — the report must flag exactly those columns, via
    // integer cross-multiplied compares (no division, no doubles)
    // over two k-row profile reports, so the diff moves kilobytes
    // at any corpus size
    Query("q_profile_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val before = meta.Profiler.profile(docs, cols)
      val mutated = docs
        .withColumn("lang", when(col("doc_id") % 5 === 0,
          lit(null).cast("string")).otherwise(col("lang")))
        .withColumn("source", concat(col("source"), lit("#"),
          (col("doc_id") % 50).cast("string")))
      meta.Profiler.drift(before, meta.Profiler.profile(mutated, cols))
    },
      // q_profile_drift: recompute both profiles and the same integer
      // cross-multiplied flags (null-safe IS DISTINCT FROM for the
      // range shift, exactly Spark's <=> negation)
      """WITH after_t AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang,
        |         source || '#' || CAST(doc_id % 50 AS VARCHAR) AS source,
        |         n_chars
        |  FROM documents),
        |bf AS (
        |  SELECT 'doc_id' AS col_name, count(*) AS n,
        |         count(*) - count(doc_id) AS nnull,
        |         count(DISTINCT doc_id) AS d,
        |         CAST(min(doc_id) AS VARCHAR) AS mn,
        |         CAST(max(doc_id) AS VARCHAR) AS mx FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*) - count(lang),
        |         count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
        |         CAST(max(lang) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |         count(DISTINCT source), CAST(min(source) AS VARCHAR),
        |         CAST(max(source) AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |         count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |         CAST(max(n_chars) AS VARCHAR) FROM documents),
        |af AS (
        |  SELECT 'doc_id' AS col_name, count(*) AS n,
        |         count(*) - count(doc_id) AS nnull,
        |         count(DISTINCT doc_id) AS d,
        |         CAST(min(doc_id) AS VARCHAR) AS mn,
        |         CAST(max(doc_id) AS VARCHAR) AS mx FROM after_t
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*) - count(lang),
        |         count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
        |         CAST(max(lang) AS VARCHAR) FROM after_t
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |         count(DISTINCT source), CAST(min(source) AS VARCHAR),
        |         CAST(max(source) AS VARCHAR) FROM after_t
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |         count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
        |         CAST(max(n_chars) AS VARCHAR) FROM after_t)
        |SELECT b.col_name,
        |       CAST(b.n AS BIGINT) AS n_before,
        |       CAST(a.n AS BIGINT) AS n_after,
        |       (1000 * a.nnull * b.n >
        |        1000 * b.nnull * a.n + 50 * a.n * b.n)
        |         AS null_rate_jumped,
        |       (1000 * a.d > 2000 * b.d) AS distinct_blowup,
        |       (b.mn IS DISTINCT FROM a.mn OR b.mx IS DISTINCT FROM a.mx)
        |         AS range_shifted
        |FROM bf b JOIN af a USING (col_name)""".stripMargin),

    // the re-slice half of the panel story: a panel built at
    // (source, lang) grain rolls up BY LANG ALONE from its rows —
    // the corpus is read once at build time, the re-group moves
    // kilobytes. Same exactness window and law gates as
    // q_sketch_panel, one output row per lang.
    Query("q_sketch_regroup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val panel = functions.Sketches.sketchPanelBy(docs,
        Seq(col("source"), col("lang")), col("n_chars"), col("n_chars"))
      val roll = functions.Sketches.panelRollupBy(panel,
        Seq(col("lang")), Seq(0.5))
      val exact = docs.groupBy(col("lang"))
        .agg(countDistinct(col("n_chars")).as("__dx"))
      val ranks = roll.select(col("lang"), col("p50"))
        .join(docs.select(col("lang"), col("n_chars")), Seq("lang"))
        .groupBy(col("lang"))
        .agg(
          (sum(when(col("n_chars") < col("p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("__rlo"),
          (sum(when(col("n_chars") <= col("p50"), 1L).otherwise(0L)) /
            count(lit(1))).as("__rhi"))
      roll.join(exact, Seq("lang")).join(ranks, Seq("lang"))
        .select(col("lang"), col("n"),
          col("distinct_theta").as("distinct_lens"),
          (abs(col("distinct_hll") - col("__dx")) <=
            greatest(col("__dx") * 0.05, lit(2.0))).as("hll_ok"),
          (col("__rlo") <= 0.53 && col("__rhi") >= 0.47).as("p50_ok"))
    },
      // q_sketch_regroup: the (source, lang) panel re-grouped by lang
      // recomputes directly per lang; gates are constants
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT n_chars) AS BIGINT) AS distinct_lens,
        |       TRUE AS hll_ok, TRUE AS p50_ok
        |FROM documents GROUP BY lang""".stripMargin),

    // multi-set theta algebra via the AGGREGATE forms: per-day user
    // sketches (one groupBy), then theta_intersection_agg /
    // theta_union_agg collapse N days to "active on ALL of them" /
    // "active on ANY" — retention-style numbers with no multi-way
    // self-join of the events table (the exact form is an N-way
    // join or a HAVING count(DISTINCT day)=N regroup). Exact below
    // capacity, so both hash-grade. Day 19723 = 2024-01-01, the
    // fixture's first event day.
    Query("q_theta_common", (s, dir) => {
      val sel = t(s, dir, "events")
        .select(col("user_id"),
          expr("ts div 1000000000 div 86400").as("day"))
        .filter((col("day") - 19723L).isin(0L, 14L, 29L))
      // all three selected days must be non-empty: the intersection
      // aggregate happily intersects however many sketches exist,
      // while the oracle's HAVING count(DISTINCT day)=3 would yield
      // 0 — fail loudly instead of silently diverging if a scale or
      // fixture change empties a day
      sel.groupBy(col("day"))
        .agg(call_function("theta_sketch_agg", col("user_id"), lit(20))
          .as("sk"))
        .agg(
          call_function("theta_sketch_estimate",
            call_function("theta_intersection_agg", col("sk")))
            .as("n_all_days"),
          call_function("theta_sketch_estimate",
            call_function("theta_union_agg", col("sk"), lit(20)))
            .as("n_any_day"),
          count(lit(1)).as("__n_days"))
        .select(
          when(col("__n_days") === 3, col("n_all_days"))
            .otherwise(raise_error(concat(
              lit("q_theta_common: expected 3 non-empty event days, got "),
              col("__n_days"))).cast("long")).as("n_all_days"),
          col("n_any_day"))
    },
      // q_theta_common: intersection/union aggregates over per-day
      // user sketches = the exact day-count regroup below capacity
      """WITH sel AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS day
        |  FROM events
        |  WHERE epoch_us(ts) // 1000000 // 86400 - 19723 IN (0, 14, 29))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT user_id FROM sel GROUP BY user_id
        |     HAVING count(DISTINCT day) = 3)) AS n_all_days,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM sel)
        |    AS n_any_day""".stripMargin),

    // snapshot overlap WITHOUT a join (Sketches.thetaOverlap): two
    // crawl snapshots collapse to one theta sketch each and the six
    // set cardinalities come from sketch algebra — the scale
    // companion to the exact sourceOverlap, O(sketch) instead of a
    // key-universe shuffle. Exact below 2^20 distinct keys per side,
    // so every number hash-grades against DuckDB's set arithmetic.
    Query("q_theta_overlap", (s, dir) => {
      val docs = t(s, dir, "documents")
      functions.Sketches.thetaOverlap(
        docs.filter(col("doc_id") % 4 =!= 3),
        docs.filter(col("doc_id") % 10 =!= 0),
        col("doc_id"))
    },
      // q_theta_overlap: exact-mode theta set algebra = plain set
      // arithmetic over the two snapshot predicates
      """SELECT
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 4 <> 3) AS n_a,
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 <> 0) AS n_b,
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 4 <> 3 AND doc_id % 10 <> 0) AS n_both,
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 4 <> 3 OR doc_id % 10 <> 0) AS n_either,
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 4 <> 3 AND doc_id % 10 = 0) AS n_a_only,
        |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
        |   WHERE doc_id % 10 <> 0 AND doc_id % 4 = 3) AS n_b_only""".stripMargin),

    // URL canonicalization over doc_id-derived messy URLs (mixed
    // case, default port, unsorted params, fragment) — the crawl
    // frontier / source-dedup key
    Query("q_canonical_url", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(
          lit("HTTP://Example"), (col("doc_id") % 7).cast("string"),
          lit(".COM:80/Path"), (col("doc_id") % 3).cast("string"),
          lit("?b="), (col("doc_id") % 5).cast("string"),
          lit("&a=1#sec"), col("doc_id").cast("string")).as("url"))
        .select(col("doc_id"),
          functions.TextAnalysis.canonicalUrl(col("url")).as("canon")),
      // q_canonical_url: the same extract/sort/reassemble chain in
      // DuckDB (both engines return '' on a no-match extract)
      """WITH u AS (
        |  SELECT doc_id,
        |         'HTTP://Example' || CAST(doc_id % 7 AS VARCHAR)
        |         || '.COM:80/Path' || CAST(doc_id % 3 AS VARCHAR)
        |         || '?b=' || CAST(doc_id % 5 AS VARCHAR)
        |         || '&a=1#sec' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hp,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q
        |  FROM u),
        |norm AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_extract(hp, '^([^:]*)', 1)) AS host,
        |    regexp_extract(hp, ':([0-9]+)$', 1) AS port,
        |    CASE WHEN path = '' THEN '/' ELSE path END AS path, q
        |  FROM parts)
        |SELECT doc_id,
        |  scheme || '://' || host ||
        |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |         OR (scheme = 'https' AND port = '443') THEN ''
        |       ELSE ':' || port END ||
        |  path ||
        |  CASE WHEN q = '' THEN ''
        |       ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&')
        |  END AS canon
        |FROM norm""".stripMargin),

    // HTML boilerplate stripping over a corpus wrapped in a
    // deterministic page skeleton (script/style/comment/tag noise +
    // entity escapes) — the crawl-extraction step, graded against
    // the same regex chain in DuckDB (patterns kept RE2-compatible
    // on purpose: no backreferences, no lookaround)
    Query("q_strip_html", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script>var x=1 && y<2;</script></head><body>" +
            "<!-- crawler noise --><p class=\"main\">"),
          col("text"),
          lit("</p><br/>&amp; more &lt;tags&gt; id="),
          col("doc_id").cast("string"),
          lit("</body></html>")).as("page"))
        .select(col("doc_id"),
          functions.TextAnalysis.stripHtml(col("page")).as("clean")),
      // q_strip_html: the same RE2-compatible regex chain and
      // amp-last entity order as TextAnalysis.stripHtml
      """WITH page AS (
        |  SELECT doc_id,
        |         '<html><head><style>p{color:red}</style><script>var x=1 && y<2;</script></head><body><!-- crawler noise --><p class="main">'
        |         || text || '</p><br/>&amp; more &lt;tags&gt; id='
        |         || CAST(doc_id AS VARCHAR) || '</body></html>' AS p
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(p,
        |         '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS p FROM page),
        |s2 AS (SELECT doc_id, regexp_replace(p,
        |         '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS p FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(p,
        |         '(?s)<!--.*?-->', ' ', 'g') AS p FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(p,
        |         '<[^>]+>', ' ', 'g') AS p FROM s3),
        |s5 AS (SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(replace(p,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |           '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
        |           '&amp;', '&') AS p
        |       FROM s4)
        |SELECT doc_id, trim(regexp_replace(p, '\s+', ' ', 'g')) AS clean
        |FROM s5""".stripMargin),

    // Unicode NFC canonicalization over a corpus decorated with
    // doc_id-keyed DECOMPOSED sequences (the fixture text is pure
    // ASCII, where NFC is identity by construction — the decoration
    // makes the compose step observable): native codegen'd
    // expression, graded against DuckDB's nfc_normalize
    Query("q_nfc", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" cafe\u0301"))
            .when(col("doc_id") % 3 === 1, lit(" u\u0308ber"))
            .otherwise(lit(" pin\u0303a"))).as("raw"))
        .select(col("doc_id"),
          functions.TextAnalysis.nfc(col("raw")).as("norm")),
      // q_nfc: DuckDB composes the same decomposed decorations via
      // chr() codepoints (769/776/771 = combining acute/diaeresis/tilde)
      """SELECT doc_id,
        |       nfc_normalize(text || CASE doc_id % 3
        |         WHEN 0 THEN ' cafe' || chr(769)
        |         WHEN 1 THEN ' u' || chr(776) || 'ber'
        |         ELSE ' pin' || chr(771) || 'a' END) AS norm
        |FROM documents""".stripMargin),

    // PII scrub over a corpus with synthetic doc_id-derived contact
    // lines (the plain documents text contains no PII to redact)
    Query("q_scrub_pii", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10."),
          (col("doc_id") % 250).cast("string"), lit("."),
          ((col("doc_id") * 7) % 250).cast("string"),
          lit(".4 call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad(((col("doc_id") * 13) % 10000).cast("string"), 4, "0"))
          .as("raw"))
        .select(col("doc_id"),
          functions.TextAnalysis.scrubPii(col("raw")).as("p"))
        .select(col("doc_id"), col("p.clean").as("clean"),
          col("p.n_emails").cast("long").as("n_emails"),
          col("p.n_ips").cast("long").as("n_ips"),
          col("p.n_phones").cast("long").as("n_phones")),
      // PII scrub: same Java/RE2-portable patterns, 'g' for global
      // replace; counts are per-pattern matches on the raw text
      """WITH raw AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id || '@example.com from 10.'
        |           || (doc_id % 250) || '.' || ((doc_id * 7) % 250)
        |           || '.4 call 555-'
        |           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |           || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
        |           AS raw
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(raw,
        |         '[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{1,3}(?:\.\d{1,3}){3})',
        |         '<EMAIL>', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |         '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS clean,
        |       len(regexp_extract_all(raw,
        |         '[A-Za-z0-9._%+-]+@(?:[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{1,3}(?:\.\d{1,3}){3})'))
        |         AS n_emails,
        |       len(regexp_extract_all(raw,
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |       len(regexp_extract_all(raw,
        |         '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phones
        |FROM raw""".stripMargin),

    // k-anonymity audit (Privacy.kAnonymityReport): the one-row
    // export-gate summary over the (nation, segment) equivalence
    // classes — one hash agg to the class table, one over it
    Query("q_k_anonymity", (s, dir) =>
      functions.Privacy.kAnonymityReport(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")), k = 10),
      // q_k_anonymity: the class table then the one-row summary with
      // the identical (x * 100.0) / t double ops; DuckDB's HUGEINT
      // sums are cast back to BIGINT
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |       CAST(min(class_size) AS BIGINT) AS k_anonymity,
        |       CAST(coalesce(sum(CASE WHEN class_size < 10
        |                              THEN class_size END), 0)
        |            AS BIGINT) AS n_rows_below_k,
        |       round(CAST(coalesce(sum(CASE WHEN class_size < 10
        |                                    THEN class_size END), 0)
        |                  AS DOUBLE) * 100.0 /
        |             CAST(sum(class_size) AS DOUBLE), 4)
        |         AS pct_rows_below_k
        |FROM cls""".stripMargin),

    // l-diversity audit (Privacy.lDiversityViolations): classes on
    // (nation, account-balance band) whose segment column is
    // near-homogeneous — the leak k-anonymity misses. The band is
    // floor((bal+1000)/1000): floor-of-double-division is
    // IEEE-identical across engines (a raw double->int cast is NOT —
    // DuckDB rounds where Spark truncates)
    Query("q_l_diversity", (s, dir) =>
      functions.Privacy.lDiversityViolations(t(s, dir, "customer"),
        Seq(col("c_nationkey"),
          floor((col("c_acctbal") + lit(1000.0)) / lit(1000.0))
            .as("bal_band")),
        col("c_mktsegment"), l = 3),
      // q_l_diversity: floor((bal+1000)/1000) is IEEE-identical in
      // both engines (floor of a double division; never a raw
      // double->int cast, which DuckDB rounds and Spark truncates)
      """SELECT c_nationkey,
        |       CAST(floor((c_acctbal + 1000.0) / 1000.0) AS BIGINT)
        |         AS bal_band,
        |       count(*) AS class_size,
        |       count(DISTINCT c_mktsegment) AS distinct_sensitive
        |FROM customer
        |GROUP BY 1, 2
        |HAVING count(DISTINCT c_mktsegment) < 3""".stripMargin),
  )
}
