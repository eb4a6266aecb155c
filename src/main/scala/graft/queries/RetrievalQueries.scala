package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Replay.scratchDir
import Query.{artifactWrite, t}
import OracleSql.lowerToks

/** Retrieval scoring, the search index, gridmix and the z-order layout. */
object RetrievalQueries {

  /** Probe-side pruning witness for the z-order layout, computed once
    * per bench run (UNTIMED — the graded timing stays q_zorder_box's
    * end-to-end number): the same 2-D box the query grades, answered
    * through (a) the clustered artifact the last pass wrote and (b) a
    * freshly-written single-column-sorted copy at the same file count
    * (the layout a naive pipeline produces). Reports, per layout, how
    * many files' bounding boxes intersect the query box
    * ([[graft.sources.Layout.fileBoxes]] — files a reader must open)
    * and how many rows the parquet reader actually decoded (the scan
    * node's numOutputRows: pushed min/max row-group stats skip
    * non-intersecting files). The round-over-round signal for the
    * read-side payoff that the rewrite buys at 100 TB.
    */
  def zorderBenchStats(s: SparkSession, dir: String): Option[String] =
    try {
      val zpath = scratchDir(s, "zorder")
      // empty until q_zorder_box has run in this slot
      if (Option(new java.io.File(zpath).list()).forall(_.isEmpty)) return None
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val mx = base.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
      val (maxOk, maxPk) = (mx.getLong(0), mx.getLong(1))
      val (xlo, xhi) = (math.ceil(0.1 * maxOk).toLong,
        math.floor(0.3 * maxOk).toLong)
      val (ylo, yhi) = (math.ceil(0.2 * maxPk).toLong,
        math.floor(0.45 * maxPk).toLong)
      val spath = scratchDir(s, "zorder-sorted")
      base.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(spath)
      // two probe shapes: the graded 2-D box, and a Y-ONLY range —
      // the case that separates the layouts (an x-sorted file covers
      // the full y range, so y-only predicates prune NOTHING there,
      // while z-order tiles bound both dimensions)
      def stats(path: String, pred: Column,
                boxHit: org.apache.spark.sql.Row => Boolean): (Long, Long, Long) = {
        val boxes = sources.Layout.fileBoxes(s, path,
          "l_orderkey", "l_partkey").collect()
        val hit = boxes.count(boxHit)
        val probe = s.read.parquet(path).filter(pred)
        probe.queryExecution.toRdd.count()
        val scanRows = meta.Advisor.flatten(probe.queryExecution.executedPlan)
          .collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          }.getOrElse(-1L)
        (boxes.length.toLong, hit.toLong, scanRows)
      }
      val boxPred = col("l_orderkey") >= lit(xlo) &&
        col("l_orderkey") <= lit(xhi) &&
        col("l_partkey") >= lit(ylo) && col("l_partkey") <= lit(yhi)
      def boxHit(r: org.apache.spark.sql.Row): Boolean =
        r.getLong(1) <= xhi && r.getLong(2) >= xlo &&
          r.getLong(3) <= yhi && r.getLong(4) >= ylo
      val yPred = col("l_partkey") >= lit(ylo) && col("l_partkey") <= lit(yhi)
      def yHit(r: org.apache.spark.sql.Row): Boolean =
        r.getLong(3) <= yhi && r.getLong(4) >= ylo
      val (zf, zh, zr) = stats(zpath, boxPred, boxHit)
      val (sf, sh, sr) = stats(spath, boxPred, boxHit)
      val (_, zyh, zyr) = stats(zpath, yPred, yHit)
      val (_, syh, syr) = stats(spath, yPred, yHit)
      Some(s"""{"box":{"files":$zf,"files_hit_zorder":$zh,""" +
        s""""rows_scanned_zorder":$zr,"files_hit_sorted":$sh,""" +
        s""""rows_scanned_sorted":$sr},""" +
        s""""y_only":{"files":$zf,"files_hit_zorder":$zyh,""" +
        s""""rows_scanned_zorder":$zyr,"files_hit_sorted":$syh,""" +
        s""""rows_scanned_sorted":$syr}}""")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] zorder pruning stats skipped: " +
          e.getMessage)
        None
    }

  /** CTEs `dt(doc_id, term)`, the distinct terms of `toks`, and
    * `ranked`, each posting's rank `rn` and its term's document
    * frequency `dfc`: the posting lists the index oracles read.
    */
  private val termRanks =
    """dt AS (
      |  SELECT DISTINCT doc_id, term
      |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks)),
      |ranked AS (
      |  SELECT term, doc_id,
      |         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
      |         count(*) OVER (PARTITION BY term) AS dfc
      |  FROM dt)""".stripMargin

  /** Apply one delta batch to the updatable index `tbl`: `op` is each
    * document's operation (delete, update or insert; null leaves it
    * alone), and an update prepends the token `marker` to its text.
    */
  private def applyDelta(s: SparkSession, tbl: String, docs: DataFrame,
                         marker: String, op: Column): Unit = {
    val delta = docs.select(col("doc_id"), col("text"), op.as("op"))
      .filter(col("op").isNotNull)
      .withColumn("text", when(col("op") === "update",
        concat(lit(s"$marker "), col("text"))).otherwise(col("text")))
    functions.Retrieval.updateSearchIndex(s, tbl, delta, col("op"),
      col("doc_id"), col("text"), shards = 8)
  }

  /** The updatable index `tbl` built on 3/4 of the documents, then the
    * first delta applied: delete doc_id%10==0, update doc_id%10==1,
    * insert the held-out quarter. Returns the documents.
    */
  private def indexWithDelta(s: SparkSession, dir: String, tbl: String,
                             marker: String): DataFrame = {
    val docs = t(s, dir, "documents")
    functions.Retrieval.buildUpdatableIndex(
      docs.filter(col("doc_id") % 4 =!= 3),
      col("doc_id"), col("text"), tbl, shards = 8)
    applyDelta(s, tbl, docs, marker,
      when(col("doc_id") % 10 === 0, "delete")
        .when(col("doc_id") % 10 === 1, "update")
        .when(col("doc_id") % 4 === 3, "insert"))
    docs
  }

  /** Oracle of q_search_index_update and q_search_index_compact: the
    * probed posting lists of a fresh build over the post-delta corpus.
    */
  private val updatedIndexSql =
    s"""WITH corpus AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 10 = 1 THEN 'updatedterm ' || text
      |              ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 0),
      |${lowerToks("FROM corpus")},
      |$termRanks
      |SELECT term, CAST(max(dfc) AS BIGINT) AS df,
      |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      |FROM ranked
      |WHERE rn <= 10
      |  AND term IN ('updatedterm', 'dup', 'spark', 'the', 'window')
      |GROUP BY term""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- L4: retrieval scoring / frequency sketch / PII scrub -------
    // BM25 top-10 over a mixed rare+common term bag; scores are
    // ln/round(4) doubles derived from identical integer operands in
    // both engines
    Query("q_bm25", (s, dir) =>
      functions.Retrieval.bm25TopK(t(s, dir, "documents"),
        col("doc_id"), col("text"),
        queryTerms = Seq("dup", "spark", "vector"), k = 10),
      // BM25 replayed termwise: identical integer operands (tf, dl, df,
      // N) cast to DOUBLE through the identical expression shape, so
      // ln/round agree bit-for-bit
      s"""WITH ${lowerToks("FROM documents")},
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
        |  FROM toks WHERE tk IS NOT NULL),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
        |  WHERE term IN ('dup', 'spark', 'vector')
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |         round(CAST(sum(CAST(round(
        |           ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |              / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |           * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
        |           / (CAST(tf AS DOUBLE)
        |              + 1.2 * (1.0 - 0.75
        |                       + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |           * 1e6, 0) AS BIGINT)) AS DOUBLE) / 1e6, 4)
        |           AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN stats
        |  GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |         AS rnk,
        |       doc_id, score
        |FROM scored
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    // TF-IDF keyword extraction: top-3 terms per document, ranked on
    // the rounded score so the cut is engine-portable
    Query("q_tfidf", (s, dir) =>
      functions.Retrieval.tfidfTopTerms(t(s, dir, "documents"),
        col("doc_id"), col("text"), k = 3),
      // TF-IDF: identical tokenization, ln(N/df) idf, rank on the
      // rounded score with term tie-break → the same top-3 per doc
      s"""WITH ${lowerToks("FROM documents")},
        |n AS (SELECT count(*) AS n_docs FROM toks WHERE tk IS NOT NULL),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |         round(CAST(tf AS DOUBLE)
        |               * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)),
        |               4) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, score
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                  ORDER BY score DESC, term) AS rnk
        |      FROM scored)
        |WHERE rnk <= 3""".stripMargin),

    // inverted-index build: df + first-10 posting list per term
    Query("q_inverted_index", (s, dir) =>
      functions.Retrieval.invertedIndex(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxPostings = 10),
      // inverted index: distinct (doc, term) pairs, windowed cut at 10
      // postings, df from the full partition count
      s"""WITH ${lowerToks("FROM documents")},
        |$termRanks
        |SELECT term, CAST(max(dfc) AS BIGINT) AS df,
        |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM ranked WHERE rn <= 10 GROUP BY term""".stripMargin),

    // the contrib/index analog, graded END-TO-END: build the sharded
    // searchable-index ARTIFACT (posting lists bucketed by term, 8
    // shards, parquet bloom), then answer a five-term query bag via
    // bucket-pruned point probes — build once, probe the shards, as
    // the reference's IndexUpdater + distribution-policy pipeline
    // does. The oracle recomputes the probed terms' posting lists
    // directly; ScaleSpec asserts the probes' SelectedBucketsCount
    // plan contract
    Query("q_search_index", (s, dir) => {
      val tbl = "graft_q_search_index"
      functions.Retrieval.buildSearchIndex(t(s, dir, "documents"),
        col("doc_id"), col("text"), tbl, shards = 8, maxPostings = 10)
      functions.Retrieval.probeSearchIndex(s, tbl,
        Seq("dup", "spark", "vector", "the", "window"))
    },
      // the probe terms' posting lists, recomputed directly — the
      // sharded artifact must answer exactly what a fresh index build
      // would
      s"""WITH ${lowerToks("FROM documents")},
        |$termRanks
        |SELECT term, CAST(max(dfc) AS BIGINT) AS df,
        |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM ranked
        |WHERE rn <= 10 AND term IN ('dup', 'spark', 'vector', 'the', 'window')
        |GROUP BY term""".stripMargin),

    // in-engine deterministic corpus generation (the reference's
    // RandomTextWriter as an operator, not a harness script): rows
    // scale with the graded sf (one per documents row), counter-based
    // randomness — a pure hash of (seed, row, draw) — so the corpus
    // is partitioning-independent and the portable md5 idiom lets the
    // oracle REGENERATE it bit-for-bit (full hash grade, not a
    // rows-only smoke check)
    Query("q_random_text", (s, dir) =>
      sources.Generate.randomText(s, rows = t(s, dir, "documents").count(),
        minWords = 5, maxWords = 20, vocab = 500, seed = 42L),
      // q_random_text: the oracle regenerates the corpus with the same
      // counter-based md5 draws — word count 5 + h%16, word ids h%500,
      // identical key strings — so text hash-compares bit-for-bit
      """WITH ids AS (
        |  SELECT unnest(range(0, (SELECT count(*) FROM documents))) AS id),
        |n AS (
        |  SELECT id, 5 + CAST(('0x' || substr(md5('42:' || id || ':n'),
        |           1, 8)) AS BIGINT) % 16 AS nw
        |  FROM ids)
        |SELECT id AS doc_id,
        |       array_to_string(
        |         ['w' || (CAST(('0x' || substr(md5('42:' || id || ':w:' ||
        |             i), 1, 8)) AS BIGINT) % 500)
        |          for i in range(1, CAST(nw AS INT) + 1)], ' ') AS text
        |FROM n""".stripMargin),

    // the generator's FAST dial (portable = false, xxhash64 draws —
    // the bulk-generation path a soak run uses): no external engine
    // can recompute xxhash64, so this is the self-validating witness
    // form (q_cms/q_cms_fast pattern) — invariants as booleans, the
    // oracle states them as constants. Checks: row count (vs the
    // documents table both sides read), partitioning-independence
    // (two generations at different partition counts must agree
    // text-for-text — the counter-based-randomness contract), word
    // counts inside [minWords, maxWords], every token inside the
    // declared vocabulary, and the integer-skew dial actually
    // lowering the mean word index vs the uniform draw.
    Query("q_random_text_fast", (s, dir) => {
      val n = t(s, dir, "documents").count()
      def gen(parts: Int, skewed: Boolean) =
        sources.Generate.randomText(s, rows = n, minWords = 5,
          maxWords = 20, vocab = 500, seed = 42L, skewed = skewed,
          numPartitions = parts, portable = false)
      val g1 = gen(0, skewed = false)
      val det = g1.alias("a")
        .join(gen(7, skewed = false).alias("b"), "doc_id")
        .agg((count(lit(1)) === lit(n) &&
          min((col("a.text") === col("b.text")).cast("int")) === 1)
          .as("deterministic"))
      val shape = g1.select(split(col("text"), " ").as("w"))
        .agg(
          (min(size(col("w"))) >= 5 && max(size(col("w"))) <= 20)
            .as("words_in_range"),
          (min(forall(col("w"), x => x.rlike("^w[0-9]+$") &&
            substring(x, 2, 10).cast("long") < 500).cast("int")) === 1)
            .as("vocab_ok"))
      def avgIdx(g: org.apache.spark.sql.DataFrame) =
        g.select(explode(split(col("text"), " ")).as("tok"))
          .agg(avg(substring(col("tok"), 2, 10).cast("long")).as("m"))
      val skew = avgIdx(gen(0, skewed = true)).alias("sk")
        .crossJoin(avgIdx(g1).alias("un"))
        .select((col("sk.m") < col("un.m")).as("skew_lower"))
      g1.agg(count(lit(1)).as("n_rows"))
        .crossJoin(det).crossJoin(shape).crossJoin(skew)
    },
      // q_random_text_fast: xxhash64 draws are engine-local, so the
      // oracle states the witness invariants as constants (row count
      // recomputes from the documents table both sides size from)
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       TRUE AS deterministic, TRUE AS words_in_range,
        |       TRUE AS vocab_ok, TRUE AS skew_lower
        |FROM documents""".stripMargin),

    // the gridmix three-stage pipeline's SEMANTICS graded end-to-end
    // (the soak measures the written form at bulk scale; this grades
    // the keep/aggregate algebra): generated KV corpus on the
    // portable dial, keep 10% map / 40% reduce -> 100%/77% ->
    // 116%/91% with md5-residue sampling — DuckDB regenerates the
    // corpus AND recomputes every residue, so the full pipeline
    // hash-grades
    Query("q_gridmix_pipeline", (s, dir) => {
      val kv = sources.Generate.randomKv(s,
        rows = t(s, dir, "documents").count(),
        keyMinWords = 2, keyMaxWords = 2,
        valueMinWords = 5, valueMaxWords = 9,
        vocab = 50, seed = 11L, portable = true)
      Soak.threeStage(kv, portable = true)
    },
      // q_gridmix_pipeline: regenerate the KV corpus with the same
      // counter-based md5 draws (key = 2 words tagged kw, value 5-9
      // words tagged vn/vw), then replay the three keep/aggregate
      // stages with the same md5-residue samples
      """WITH ids AS (
        |  SELECT unnest(range(0, (SELECT count(*) FROM documents))) AS id),
        |kv AS (
        |  SELECT id,
        |    array_to_string(
        |      ['w' || (('0x' || substr(md5('11:' || id || ':kw:' || i),
        |          1, 8))::BIGINT % 50) for i in range(1, 3)], ' ') AS k,
        |    array_to_string(
        |      ['w' || (('0x' || substr(md5('11:' || id || ':vw:' || i),
        |          1, 8))::BIGINT % 50)
        |       for i in range(1, CAST(5 + ('0x' || substr(
        |          md5('11:' || id || ':vn'), 1, 8))::BIGINT % 5 AS INT)
        |          + 1)], ' ') AS v
        |  FROM ids),
        |s1 AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n, max(v) AS v
        |  FROM kv
        |  WHERE ('0x' || substr(md5(k || ':m1'), 1, 8))::BIGINT
        |        % 1000 < 100
        |  GROUP BY k
        |  HAVING ('0x' || substr(md5(k || ':r1'), 1, 8))::BIGINT
        |         % 1000 < 400),
        |s2 AS (
        |  SELECT k, CAST(sum(n) AS BIGINT) AS n, max(v) AS v
        |  FROM s1 GROUP BY k
        |  HAVING ('0x' || substr(md5(k || ':r2'), 1, 8))::BIGINT
        |         % 1000 < 770),
        |s3pre AS (
        |  SELECT k, n, v FROM s2
        |  UNION ALL
        |  SELECT k, n, v FROM s2
        |  WHERE ('0x' || substr(md5(k || ':m3'), 1, 8))::BIGINT
        |        % 1000 < 160)
        |SELECT k, CAST(sum(n) AS BIGINT) AS n, max(v) AS v
        |FROM s3pre GROUP BY k
        |HAVING ('0x' || substr(md5(k || ':r3'), 1, 8))::BIGINT
        |       % 1000 < 910""".stripMargin),

    // the indirect-read family's iterative algebra graded (the soak
    // measures the file-based form): 10 iterations, each folding a
    // fresh corpus slice plus every previous iteration's output
    // through a 50% key residue — the oracle replays all ten
    // iterations as chained CTEs over the regenerated corpus
    Query("q_gridmix_indirect", (s, dir) => {
      val kv = sources.Generate.randomKv(s,
        rows = t(s, dir, "documents").count(),
        keyMinWords = 2, keyMaxWords = 2,
        valueMinWords = 5, valueMaxWords = 9,
        vocab = 50, seed = 11L, portable = true)
      Soak.indirectChain(kv, iterations = 10, portable = true)
    },
      // q_gridmix_indirect: the same regenerated corpus as
      // q_gridmix_pipeline, then ten chained CTEs — iteration i unions
      // slice i with every previous output and folds through the
      // ind<i> residue
      {
        val kvCte =
          """WITH ids AS (
            |  SELECT unnest(range(0, (SELECT count(*) FROM documents))) AS id),
            |kv AS (
            |  SELECT id,
            |    array_to_string(
            |      ['w' || (('0x' || substr(md5('11:' || id || ':kw:' || i),
            |          1, 8))::BIGINT % 50) for i in range(1, 3)], ' ') AS k,
            |    array_to_string(
            |      ['w' || (('0x' || substr(md5('11:' || id || ':vw:' || i),
            |          1, 8))::BIGINT % 50)
            |       for i in range(1, CAST(5 + ('0x' || substr(
            |          md5('11:' || id || ':vn'), 1, 8))::BIGINT % 5 AS INT)
            |          + 1)], ' ') AS v
            |  FROM ids)""".stripMargin
        def keepSql(salt: String) =
          s"('0x' || substr(md5(k || ':$salt'), 1, 8))::BIGINT % 1000 < 500"
        val iters = (0 until 10).map { i =>
          val prev = (0 until i).map(j => s"SELECT k, v FROM o$j")
          val union = (s"SELECT k, v FROM kv WHERE id % 10 = $i" +: prev)
            .mkString("\n    UNION ALL ")
          s"""o$i AS (
             |  SELECT k, max(v) AS v FROM (
             |    $union) u
             |  WHERE ${keepSql(s"ind$i")}
             |  GROUP BY k)""".stripMargin
        }.mkString(",\n")
        s"$kvCte,\n$iters\nSELECT k, v FROM o9"
      }),

    // the api_sort family's three-API agreement graded (the soak
    // validates the WRITTEN form at bulk scale; this grades the
    // row-identity witness, reference gridmix README:66-71): the
    // SAME generated text sorted through the DataFrame API, SQL
    // over a temp view, and an external C-locale `sort` process
    // must agree in row count and content multiset, and each plan
    // must validate globally sorted (C order = UTF-8 byte order =
    // Spark's string order). Hash draws are engine-local, so the
    // oracle states the witness invariants as constants (the
    // q_random_text_fast pattern).
    Query("q_gridmix_apisort", (s, dir) => {
      val n = t(s, dir, "documents").count()
      val text = sources.Generate.randomKv(s, rows = n,
        keyMinWords = 1, keyMaxWords = 4,
        valueMinWords = 0, valueMaxWords = 8,
        vocab = 200, seed = 7L, skewed = false,
        numPartitions = 0, portable = false)
        .select(col("k"), col("v"))
      val parts = 8
      def ranged = text.repartitionByRange(parts, col("k"))
      val dfSorted = ranged.sortWithinPartitions(col("k"))
      text.createOrReplaceTempView("graft_q_apisort")
      val sqlSorted = s.sql(
        "SELECT /*+ REPARTITION_BY_RANGE(k) */ k, v " +
          "FROM graft_q_apisort SORT BY k")
      val pipeSorted = operators.Pipe.pipe(ranged,
        "env LC_ALL=C sort", col("k"), col("v"))
      // order-insensitive content signature: decimal sum of a 64-bit
      // line hash (decimal so ANSI overflow can't bite), plus count.
      // The line framing mirrors Pipe.pipe's exactly (tab-joined,
      // nulls as empty fields).
      val lineOf = concat_ws("\t",
        coalesce(col("k").cast("string"), lit("")),
        coalesce(col("v").cast("string"), lit("")))
      def sig(d: org.apache.spark.sql.DataFrame, line: Column) =
        d.agg(sum(xxhash64(line).cast("decimal(38,0)")).as("h"),
          count(lit(1)).as("n"))
      val sDf = sig(dfSorted, lineOf).alias("d")
      val sSql = sig(sqlSorted, lineOf).alias("q")
      val sPipe = sig(pipeSorted, col("value")).alias("p")
      val (okDf, _) = operators.Sorting.validateSorted(dfSorted, Seq("k"))
      val (okSql, _) = operators.Sorting.validateSorted(sqlSorted, Seq("k"))
      val (okPipe, _) =
        operators.Sorting.validateSorted(pipeSorted, Seq("value"))
      sDf.crossJoin(sSql).crossJoin(sPipe)
        .select(col("d.n").as("n_rows"),
          (col("d.n") === lit(n) && col("q.n") === lit(n) &&
            col("p.n") === lit(n)).as("rows_agree"),
          (col("d.h") === col("q.h") && col("d.h") === col("p.h"))
            .as("content_agree"),
          lit(okDf).as("df_sorted"), lit(okSql).as("sql_sorted"),
          lit(okPipe).as("pipe_sorted"))
    },
      // q_gridmix_apisort: engine-local hash draws -> the oracle
      // states the three-API agreement witness as constants (row count
      // recomputes from the documents table both sides size from)
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       TRUE AS rows_agree, TRUE AS content_agree,
        |       TRUE AS df_sorted, TRUE AS sql_sorted,
        |       TRUE AS pipe_sorted
        |FROM documents""".stripMargin),

    // INCREMENTAL index update (the reference contrib/index
    // DocumentAndOp / IndexUpdater semantics): build the updatable
    // index on 3/4 of the corpus, then apply ONE delta batch —
    // DELETE doc_id%10==0, UPDATE doc_id%10==1 (prepending a marker
    // token; update of an absent doc degrades to insert), INSERT the
    // held-out quarter — and probe. The delta appends term-routed
    // segments + doc tombstones; base files are never rewritten.
    // Probe-after-update must equal rebuild-from-scratch over the
    // updated corpus, which is exactly what the oracle recomputes.
    Query("q_search_index_update", (s, dir) => {
      val tbl = "graft_q_search_index_upd"
      indexWithDelta(s, dir, tbl, "updatedterm")
      functions.Retrieval.probeUpdatableIndex(s, tbl,
        Seq("updatedterm", "dup", "spark", "the", "window"),
        maxPostings = 10)
    },
      // q_search_index_update: the updated index must answer exactly
      // what a fresh build over the post-delta corpus would — the
      // oracle applies the delta's set algebra to the corpus (present
      // iff doc_id%10<>0: deletes kill their base docs, every held-out
      // doc is inserted or update-inserted; %10==1 carries the marker
      // prefix) and recomputes the probed terms' posting lists.
      updatedIndexSql),

    // the same delta pipeline followed by COMPACTION (the Lucene
    // segment-merge analog): fold the appended segments + tombstone
    // ledger into one clean generation — an index-sized exchange,
    // corpus never touched — then probe. Answers must be identical
    // to the uncompacted index's, i.e. the same rebuilt-corpus
    // oracle as q_search_index_update.
    Query("q_search_index_compact", (s, dir) => {
      val tbl = "graft_q_search_index_cpt"
      indexWithDelta(s, dir, tbl, "updatedterm")
      functions.Retrieval.compactSearchIndex(s, tbl, shards = 8)
      functions.Retrieval.probeUpdatableIndex(s, tbl,
        Seq("updatedterm", "dup", "spark", "the", "window"),
        maxPostings = 10)
    },
      // q_search_index_compact: compaction is answer-preserving — the
      // identical rebuilt-corpus recompute grades the compacted index
      updatedIndexSql),

    // MULTI-GENERATION index lifecycle — the steady state of a daily
    // crawl (the reference's IndexUpdater run repeatedly): build →
    // delta gen1 (delete %10==0, update %10==1 with a gen1 marker,
    // insert the held-out quarter) → COMPACT → delta gen2 (REVIVE
    // %20==0 — an insert after compaction folded its tombstone away —
    // delete %10==2, update %10==3 with a gen2 marker) → probe.
    // Interleaving update and compact generations is what
    // q_search_index_update/compact each grade only half of; the
    // oracle stays rebuild-from-scratch over the FINAL corpus.
    Query("q_search_index_multigen", (s, dir) => {
      val tbl = "graft_q_search_index_mg"
      val docs = indexWithDelta(s, dir, tbl, "gen1term")
      functions.Retrieval.compactSearchIndex(s, tbl, shards = 8)
      applyDelta(s, tbl, docs, "gen2term",
        when(col("doc_id") % 20 === 0, "insert")
          .when(col("doc_id") % 10 === 2, "delete")
          .when(col("doc_id") % 10 === 3, "update"))
      functions.Retrieval.probeUpdatableIndex(s, tbl,
        Seq("gen1term", "gen2term", "dup", "spark", "the"),
        maxPostings = 10)
    },
      // q_search_index_multigen: two delta generations with a
      // compaction between them — final-corpus membership is the set
      // algebra of both deltas (%10 in {0,2} dead unless %20==0
      // revived; %10==1 carries the gen1 marker, %10==3 the gen2
      // marker) and the probe must equal a fresh build over it
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 1 THEN 'gen1term ' || text
        |              WHEN doc_id % 10 = 3 THEN 'gen2term ' || text
        |              ELSE text END AS text
        |  FROM documents
        |  WHERE doc_id % 10 NOT IN (0, 2) OR doc_id % 20 = 0),
        |${lowerToks("FROM corpus")},
        |$termRanks
        |SELECT term, CAST(max(dfc) AS BIGINT) AS df,
        |       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM ranked
        |WHERE rn <= 10
        |  AND term IN ('gen1term', 'gen2term', 'dup', 'spark', 'the')
        |GROUP BY term""".stripMargin),

    // write-time z-order layout, graded end-to-end: cluster lineitem
    // on (l_orderkey, l_partkey), then answer a 2-D box query THROUGH
    // the clustered copy; the oracle answers the same box on the raw
    // table, so the layout must be a pure reorganization (exact row
    // multiset preserved). Box bounds scale with the data (fractions
    // of each key's max — two longs collected, O(1) driver state) so
    // the query stays ~5% selective at every sf. ScaleSpec asserts
    // the locality contract (near-square file bounding boxes vs a
    // single-column sort's full-range slivers) separately.
    Query("q_zorder_box", (s, dir) => {
      val base = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      val out = scratchDir(s, "zorder")
      artifactWrite(sources.Layout.zorderWrite(base, out,
        Seq("l_orderkey", "l_partkey"), bits = 6, outFiles = 8))
      val mx = base.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
      val (maxOk, maxPk) = (mx.getLong(0), mx.getLong(1))
      // LONG bounds (ceil of lower, floor of upper — semantically
      // identical to the fractional compare on an integer column, so
      // the oracle's double arithmetic still matches): a double
      // literal would wrap the column in a cast and defeat parquet
      // min/max pushdown, which is the entire read-side payoff the
      // layout buys (row-group stats skip the files whose tile
      // misses the box)
      s.read.parquet(out)
        .filter(col("l_orderkey") >= lit(math.ceil(0.1 * maxOk).toLong) &&
          col("l_orderkey") <= lit(math.floor(0.3 * maxOk).toLong) &&
          col("l_partkey") >= lit(math.ceil(0.2 * maxPk).toLong) &&
          col("l_partkey") <= lit(math.floor(0.45 * maxPk).toLong))
    },
      // q_zorder_box: the clustered copy must answer a 2-D box query
      // with exactly the raw table's rows — the layout is a pure
      // reorganization. Both sides derive the box from the same integer
      // maxima with the same IEEE-double arithmetic (the DOUBLE casts
      // matter: a bare 0.1 is DECIMAL in DuckDB, and exact-decimal
      // bounds could disagree with Spark's double bounds at an
      // integer-valued product).
      """SELECT l_orderkey, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey >= CAST(0.1 AS DOUBLE) * (SELECT max(l_orderkey) FROM lineitem)
        |  AND l_orderkey <= CAST(0.3 AS DOUBLE) * (SELECT max(l_orderkey) FROM lineitem)
        |  AND l_partkey >= CAST(0.2 AS DOUBLE) * (SELECT max(l_partkey) FROM lineitem)
        |  AND l_partkey <= CAST(0.45 AS DOUBLE) * (SELECT max(l_partkey) FROM lineitem)""".stripMargin),
  )
}
