package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Query.t

/** The MapReduce dataflow algebra (SURVEY.md §2): map-side text
  * operators, scan-time filters, sorts, joins, multi-input sources,
  * pipes, aggregation, record codecs, window functions, grouping sets,
  * the batch replication policy and skip-bad-records.
  */
object DataflowQueries {

  /** Tab-separated KV corpus built from lineitem (FIXTURES.md §2):
    * fields 0..5 = orderkey, partkey, suppkey, linenumber, returnflag,
    * shipdate(date).
    */
  private def kvCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_returnflag"),
      col("l_shipdate").cast("date").as("l_shipdate_d"),
      concat_ws("\t",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"),
        col("l_shipdate").cast("date")).as("value"))

  private val kvCorpusSql =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_returnflag,
      |       CAST(l_shipdate AS DATE) AS l_shipdate_d,
      |       concat_ws(chr(9), l_orderkey, l_partkey, l_suppkey,
      |                 l_linenumber, l_returnflag,
      |                 CAST(l_shipdate AS DATE)) AS value
      |FROM lineitem""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- §2.2 map-side text operators -------------------------------
    Query("q_grep", (s, dir) =>
      TextOps.grep(t(s, dir, "documents"), col("text"), "s[a-z]+"),
      """SELECT m AS "match", count(*) AS cnt
        |FROM (SELECT unnest(regexp_extract_all(text, 's[a-z]+')) AS m
        |      FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, m ASC""".stripMargin),

    Query("q_wordcount", (s, dir) =>
      TextOps.wordCount(t(s, dir, "documents"), col("text")),
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w
        |      FROM documents)
        |WHERE length(w) > 0
        |GROUP BY 1""".stripMargin),

    // PiEstimator parity: 100k Halton samples, no data input at all —
    // the embarrassingly-parallel generator job
    Query("q_pi", (s, _) => operators.Pi.estimate(s, 100000L),
      // generated digit-polynomial oracle — bit-identical Halton doubles
      operators.Pi.oracleSql(100000L)),

    // Distributed backtracking search (the reference's dancing package:
    // DistributedPentomino prefix-split + DancingLinks exact cover).
    // 6x10 two-sided pentomino, depth-2 split: 2339 solutions is the
    // public value (Dana Scott 1958); the query also validates every
    // board in-plan (12 pieces x exactly 5 cells each).
    Query("q_pentomino", (s, _) =>
      operators.Search.pentominoValidated(s, 6, 10, oneSided = false,
        depth = 2),
      // the 6x10 pentomino count is public (2339, Dana Scott 1958); the
      // validation columns are structural zeroes
      """SELECT CAST(2339 AS BIGINT) AS solutions,
        |       CAST(2339 AS BIGINT) AS distinct_boards,
        |       CAST(0 AS BIGINT) AS bad_boards""".stripMargin),

    // Sudoku via the same exact-cover model, distributed split: a
    // proper 41-clue puzzle; validation (rows/cols/boxes are 1..9
    // permutations, clues respected) happens in-plan
    Query("q_sudoku", (s, _) =>
      operators.Search.sudokuValidated(s, operators.Search.sudokuFixture9,
        boxW = 3, boxH = 3, depth = 2),
      // proper puzzle: exactly one solution, zero validation failures
      """SELECT CAST(1 AS BIGINT) AS solutions,
        |       CAST(0 AS BIGINT) AS bad_lines,
        |       CAST(0 AS BIGINT) AS clue_mismatches""".stripMargin),

    Query("q_field_selection", (s, dir) =>
      TextOps.fieldSelection(kvCorpus(s, dir), col("value"),
        spec = "4,2,0-1,5-", maxFields = 6),
      """SELECT CAST(l_returnflag AS VARCHAR) AS f0,
        |       CAST(l_suppkey AS VARCHAR) AS f1,
        |       CAST(l_orderkey AS VARCHAR) AS f2,
        |       CAST(l_partkey AS VARCHAR) AS f3,
        |       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS f4
        |FROM lineitem""".stripMargin),

    Query("q_inverse", (s, dir) =>
      TextOps.inverse(
        t(s, dir, "nation").select(col("n_name"), col("n_nationkey")),
        "n_name", "n_nationkey"),
      """SELECT n_nationkey AS key, n_name AS value FROM nation""".stripMargin),

    // ---- §2.1 scan-time filters (SequenceFileInputFilter) -----------
    Query("q_regex_filter", (s, dir) =>
      Filters.regexFilter(t(s, dir, "part"), col("p_name"), "^s.*dget")
        .select(col("p_partkey"), col("p_name")),
      """SELECT p_partkey, p_name FROM part
        |WHERE regexp_matches(p_name, '^s.*dget')""".stripMargin),

    Query("q_percent_filter", (s, dir) =>
      Filters.percentFilter(t(s, dir, "orders"), col("o_orderkey"), 10)
        .select(col("o_orderkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0""".stripMargin),

    Query("q_md5_filter", (s, dir) =>
      Filters.md5Filter(t(s, dir, "orders"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey")),
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'""".stripMargin),

    // ---- §2.5 sorts / top-k / secondary sort ------------------------
    Query("q_topk", (s, dir) =>
      Sorting.topK(t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        100, col("o_totalprice").desc, col("o_orderkey").asc),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),

    Query("q_secondary_sort", (s, dir) =>
      Sorting.secondarySortRanked(
        t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        group = Seq(col("l_orderkey")), order = Seq(col("l_linenumber"))),
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       CAST(rank() OVER (PARTITION BY l_orderkey
        |                         ORDER BY l_linenumber) AS INT) AS rn
        |FROM lineitem""".stripMargin),

    Query("q_keyfield_sort", (s, dir) =>
      Sorting.keyFieldSort(kvCorpus(s, dir).select(col("value")),
          col("value"), "-k5,5r -k1,1n -k4,4n")
        .limit(100),
      s"""WITH kv AS ($kvCorpusSql)
         |SELECT value FROM kv
         |ORDER BY l_returnflag DESC, l_orderkey ASC, l_linenumber ASC,
         |         value ASC
         |LIMIT 100""".stripMargin),

    // ---- §2.3 joins -------------------------------------------------
    Query("q_join_inner", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val o = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("o_totalprice"))
      Joins.innerJoin(Seq(c, o), "custkey")
    },
      """SELECT c_custkey AS custkey, c_name, o_orderkey, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin),

    Query("q_join_outer", (s, dir) => {
      val c = t(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderkey") % 5 === 0)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Joins.outerJoin(Seq(c, o), "custkey")
    },
      """WITH c AS (SELECT c_custkey AS custkey, c_name FROM customer
        |           WHERE c_custkey % 3 <> 0),
        |     o AS (SELECT o_custkey AS custkey, count(*) AS n_orders
        |           FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 1)
        |SELECT custkey, c_name, n_orders
        |FROM c FULL OUTER JOIN o USING (custkey)""".stripMargin),

    Query("q_join_override", (s, dir) => {
      val base = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice").as("price"))
      val ovr = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(min(col("l_extendedprice")).as("price"))
      Joins.overrideJoin(Seq(base, ovr), "p_partkey",
        Seq(Seq("price"), Seq("price")))
    },
      """WITH b AS (SELECT p_partkey, p_retailprice AS price FROM part),
        |     o AS (SELECT l_partkey AS p_partkey, min(l_extendedprice) AS price,
        |                  TRUE AS o_has
        |           FROM lineitem GROUP BY 1)
        |SELECT p_partkey,
        |       CASE WHEN o_has THEN o.price ELSE b.price END AS price
        |FROM b FULL OUTER JOIN o USING (p_partkey)""".stripMargin),

    Query("q_join_semi", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      Joins.semiJoin(c, o, "custkey")
    },
      """SELECT c_custkey AS custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),

    Query("q_join_anti", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"))
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      Joins.antiJoin(c, o, "custkey")
    },
      """SELECT c_custkey AS custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),

    Query("q_composite_dsl", (s, dir) => {
      val tables = Map(
        "cust" -> t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "ords" -> t(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders")),
        "vip" -> t(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey")).distinct().withColumn("vip", lit(1)))
      Joins.compositeJoin("outer(inner(tbl(cust), tbl(ords)), tbl(vip))", tables)
    },
      """WITH io AS (
        |  SELECT c_custkey, c_name, n_orders
        |  FROM customer
        |  JOIN (SELECT o_custkey AS c_custkey, count(*) AS n_orders
        |        FROM orders GROUP BY 1) USING (c_custkey)),
        |vip AS (SELECT DISTINCT o_custkey AS c_custkey, 1 AS vip
        |        FROM orders WHERE o_totalprice > 400000)
        |SELECT c_custkey, c_name, n_orders, vip
        |FROM io FULL OUTER JOIN vip USING (c_custkey)""".stripMargin),

    Query("q_data_join", (s, dir) =>
      Joins.dataJoin(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "c_custkey", "o_custkey"),
      """SELECT c_custkey, c_name, o_orderkey, o_custkey, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin),

    // ---- §2.1 multi-input / KV-text sources -------------------------
    Query("q_multi_inputs", (s, dir) =>
      sources.MultiIO.multipleInputs(Seq(
        t(s, dir, "customer") -> ((df: DataFrame) => df.select(
          col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          lit("C").as("src"))),
        t(s, dir, "supplier") -> ((df: DataFrame) => df.select(
          col("s_name").as("name"), col("s_acctbal").as("acctbal"),
          lit("S").as("src"))))),
      """SELECT c_name AS name, c_acctbal AS acctbal, 'C' AS src FROM customer
        |UNION ALL
        |SELECT s_name, s_acctbal, 'S' FROM supplier""".stripMargin),

    Query("q_kv_text", (s, dir) =>
      sources.MultiIO.keyValueText(kvCorpus(s, dir).select(col("value")),
        col("value")),
      """SELECT CAST(l_orderkey AS VARCHAR) AS key,
        |       concat_ws(chr(9), l_partkey, l_suppkey, l_linenumber,
        |                 l_returnflag, CAST(l_shipdate AS DATE)) AS value
        |FROM lineitem""".stripMargin),

    // ---- §2.2 external-process pipe + chain -------------------------
    Query("q_pipe", (s, dir) =>
      Pipe.pipe(t(s, dir, "documents"), "tr a-z A-Z", col("text")),
      "SELECT upper(text) AS value FROM documents"),

    Query("q_chain", (s, dir) =>
      Pipe.chain(t(s, dir, "documents"),
        df => df.filter(col("lang") === "en"),
        df => TextOps.wordCount(df, col("text"))),
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS w
        |      FROM documents WHERE lang = 'en')
        |WHERE length(w) > 0
        |GROUP BY 1""".stripMargin),

    // Hadoop Streaming's `-reducer aggregate` special form, composed
    // end-to-end (reference: StreamJob.java:722 binds the aggregate
    // library as the reduce): an external mapper process emits
    // "Type:id<TAB>value" descriptor lines, pipeKV reframes them, and
    // the aggregate library's data-driven reduce emits (id, report).
    // The awk program is one whitespace-free token (RDD.pipe
    // tokenizes the command on spaces).
    Query("q_pipe_aggregate", (s, dir) =>
      AggregateLib.aggregateReduce(
        Pipe.pipeKV(t(s, dir, "documents"),
          """awk {print("LongValueSum:"$1"\t1");print("UniqValueCount:langs\t"$1)}""",
          col("lang")),
        col("key"), col("value")),
      // q_pipe_aggregate: the mapper's descriptor lines replayed as
      // SQL — "LongValueSum:<lang> -> 1" sums to per-lang doc counts,
      // "UniqValueCount:langs -> <lang>" counts distinct langs
      """SELECT lang AS key, CAST(count(*) AS VARCHAR) AS value
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT 'langs' AS key, CAST(count(DISTINCT lang) AS VARCHAR) AS value
        |FROM documents""".stripMargin),

    // ---- §2.4 aggregation -------------------------------------------
    // decimal sums stay exact internally; final cast to double keeps the
    // output arrow type (float64) identical to the oracle's
    Query("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
               (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
                col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,4)")).cast("double").as("sum_disc_price"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
                count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |      AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |        / count(*), 4) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Query("q_agg_lib", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          AggregateLib.longValueSum(col("l_linenumber")).as("long_sum"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty_sum"),
          AggregateLib.longValueMax(col("l_partkey")).as("long_max"),
          AggregateLib.longValueMin(col("l_partkey")).as("long_min"),
          AggregateLib.stringValueMax(col("l_linestatus")).as("str_max"),
          AggregateLib.stringValueMin(col("l_linestatus")).as("str_min")),
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS long_sum,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum,
        |  max(CAST(l_partkey AS BIGINT)) AS long_max,
        |  min(CAST(l_partkey AS BIGINT)) AS long_min,
        |  max(l_linestatus) AS str_max,
        |  min(l_linestatus) AS str_min
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("q_uniq_capped", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          AggregateLib.uniqValueCount(col("l_partkey"), 50).as("uniq_50"),
          AggregateLib.uniqValueCount(col("l_partkey"), 1000000).as("uniq_all")),
      """SELECT l_returnflag,
        |  least(count(DISTINCT l_partkey), 50) AS uniq_50,
        |  least(count(DISTINCT l_partkey), 1000000) AS uniq_all
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("q_histogram", (s, dir) =>
      AggregateLib.valueHistogram(t(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_quantity")),
      """WITH freq AS (
        |  SELECT l_returnflag, CAST(l_quantity AS VARCHAR) AS v,
        |         count(*) AS freq
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |  count(*) AS n_values,
        |  min(freq) AS min_freq,
        |  median(freq) AS median_freq,
        |  max(freq) AS max_freq,
        |  round(CAST(sum(freq) AS DOUBLE) / count(*), 4) AS avg_freq,
        |  round(sqrt(CAST(sum(freq * freq) AS DOUBLE) / count(*)
        |        - power(CAST(sum(freq) AS DOUBLE) / count(*), 2)), 4)
        |    AS stddev_freq
        |FROM freq GROUP BY l_returnflag""".stripMargin),

    // distribution report: exact token-count percentiles per lang
    // (quantile_cont interpolation convention in both engines)
    Query("q_percentiles", (s, dir) =>
      AggregateLib.percentileReport(t(s, dir, "documents"),
        col("lang"),
        functions.TextAnalysis.tokenCount(col("text")).cast("long"),
        ps = Seq(0.5, 0.9, 0.99)),
      """WITH t AS (
        |  SELECT lang,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |                  x -> length(x) > 0)) AS BIGINT) AS v
        |  FROM documents)
        |SELECT lang AS grp, count(*) AS n,
        |       round(CAST(quantile_cont(v, 0.5) AS DOUBLE), 4) AS p50,
        |       round(CAST(quantile_cont(v, 0.9) AS DOUBLE), 4) AS p90,
        |       round(CAST(quantile_cont(v, 0.99) AS DOUBLE), 4) AS p99
        |FROM t GROUP BY lang""".stripMargin),

    // AccumulatingReducer: value type rides on the key prefix (l: =
    // long sum, s: = sorted concat; the f: double branch is spec'd,
    // not oracled — double-to-string formatting differs per engine)
    Query("q_accumulate", (s, dir) =>
      AggregateLib.accumulatingReduce(
        t(s, dir, "nation").select(
          when(col("n_nationkey") % 2 === 0, lit("l:even_keys"))
            .otherwise(lit("s:odd_names")).as("k"),
          when(col("n_nationkey") % 2 === 0,
            col("n_nationkey").cast("string"))
            .otherwise(col("n_name")).as("v")),
        col("k"), col("v")),
      """WITH kv AS (
        |  SELECT CASE WHEN n_nationkey % 2 = 0 THEN 'l:even_keys'
        |              ELSE 's:odd_names' END AS key,
        |         CASE WHEN n_nationkey % 2 = 0 THEN CAST(n_nationkey AS VARCHAR)
        |              ELSE n_name END AS value
        |  FROM nation)
        |SELECT key,
        |  CASE WHEN key LIKE 'l:%'
        |         THEN CAST(sum(TRY_CAST(value AS BIGINT)) AS VARCHAR)
        |       ELSE string_agg(value, ';' ORDER BY value) END AS value
        |FROM kv GROUP BY key""".stripMargin),

    // ---- §2.8 / record codecs: JSON record parsing ------------------
    Query("q_json_record", (s, dir) =>
      t(s, dir, "events")
        .select(col("value"),
          sources.Records.fromJson(col("props"), "k INT").getField("k").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")),
      """SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin),

    // ---- §2.6 window functions (superset of secondary sort) ---------
    Query("q_window_running", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        col("value").cast("decimal(18,2)").cast("double").as("v"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
          .as("running_sum"),
        lag(col("event_id"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
          .as("prev_event"))
    },
      """SELECT user_id, event_id,
        |  CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_sum,
        |  lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_event
        |FROM events""".stripMargin),

    // ---- §2.4 grouping sets (free superset: rollup) -----------------
    Query("q_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
               .as("sum_qty"),
             count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // ---- §0.1 dynamic-replication policy (batch form) ---------------
    Query("q_ewma", (s, dir) =>
      streaming.Heat.ewmaBatch(t(s, dir, "events"),
        col("user_id"), Seq(col("ts"), col("event_id")),
        col("value"), alpha = 0.5),
      """WITH w AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id,
        |  round(sum(CASE WHEN rn = 1 THEN value * power(0.5, n - 1)
        |                 ELSE 0.5 * value * power(0.5, n - rn) END), 4)
        |    AS ewma
        |FROM w GROUP BY user_id""".stripMargin),

    Query("q_replication_plan", (s, dir) =>
      streaming.Heat.replicationPlan(
        streaming.Heat.ewmaBatch(t(s, dir, "events"),
          col("user_id"), Seq(col("ts"), col("event_id")),
          col("value"), alpha = 0.5),
        col("user_id"), col("ewma")),
      """WITH w AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |h AS (
        |  SELECT user_id,
        |    round(sum(CASE WHEN rn = 1 THEN value * power(0.5, n - 1)
        |                   ELSE 0.5 * value * power(0.5, n - rn) END), 4)
        |      AS ewma
        |  FROM w GROUP BY user_id)
        |SELECT user_id, ewma,
        |  CAST(7 - ntile(4) OVER (ORDER BY ewma DESC, user_id ASC) AS INT)
        |    AS target_rep
        |FROM h""".stripMargin),

    // ---- §2.2 skip-bad-records (try + quarantine) -------------------
    Query("q_skip_bad", (s, dir) =>
      Resilient.applied(t(s, dir, "orders"),
        expr("try_cast(substr(md5(cast(o_orderkey as string)), 1, 1) AS INT)"),
        "d").select(col("o_orderkey"), col("d")),
      """SELECT o_orderkey,
        |       TRY_CAST(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS INT)
        |         AS d
        |FROM orders
        |WHERE TRY_CAST(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS INT)
        |      IS NOT NULL""".stripMargin),

    Query("q_skip_bad_quarantine", (s, dir) =>
      Resilient.quarantine(t(s, dir, "orders"),
        expr("try_cast(substr(md5(cast(o_orderkey as string)), 1, 1) AS INT)"))
        .select(col("o_orderkey"), col("o_custkey")),
      """SELECT o_orderkey, o_custkey
        |FROM orders
        |WHERE TRY_CAST(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS INT)
        |      IS NULL""".stripMargin),
  )
}
