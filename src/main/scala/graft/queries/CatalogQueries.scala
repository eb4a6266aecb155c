package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.Replay.{rmTree, scratchDir}
import Query.t

/** The metadata catalog and FsShell analytics (SURVEY.md §1, §2.1). */
object CatalogQueries {

  val all: Seq[Query] = Seq(
    // ---- §1/§2.1 metadata catalog + FsShell analytics ---------------
    Query("q_meta_du", (s, dir) =>
      meta.Catalog.du(
        meta.Catalog.fromDocuments(t(s, dir, "documents")), "/corpus"),
      """SELECT concat('/corpus/', source) AS child,
        |       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS length,
        |       count(*) AS n_files
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q_meta_count", (s, dir) =>
      meta.Catalog.countSummary(
        meta.Catalog.fromDocuments(t(s, dir, "documents")), "/corpus"),
      """SELECT CAST(0 AS BIGINT) AS dir_count,
        |       count(*) AS file_count,
        |       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS content_size
        |FROM documents""".stripMargin),

    // Balancer plan: classify each modeled datanode against the
    // cluster-average utilization band and size the required moves
    Query("q_balancer", (s, dir) =>
      meta.Catalog.balancerPlan(
        meta.Catalog.fromDocuments(t(s, dir, "documents")),
        blockSize = 256L, nNodes = 10, nodeCapacity = 100000L,
        threshold = 0.01),
      // balancer: the same md5 replica-placement model, utilization
      // band classification, and move sizing in plain SQL
      """WITH files AS (
        |  SELECT '/corpus/' || source || '/doc_' || doc_id AS path,
        |         CAST(n_chars AS BIGINT) AS len, 3 AS replication
        |  FROM documents WHERE n_chars > 0),
        |blocks AS (
        |  SELECT path, len, replication,
        |         unnest(range(CAST(ceil(CAST(len AS DOUBLE)/256)
        |                      AS BIGINT))) AS block_idx
        |  FROM files),
        |reps AS (
        |  SELECT path, block_idx, least(256, len - block_idx*256) AS bytes,
        |         unnest(range(replication)) AS r
        |  FROM blocks),
        |assigned AS (
        |  SELECT ('0x' || substr(md5(path || '#' || block_idx || '#' || r),
        |                         1, 6))::BIGINT % 10 AS node,
        |         bytes FROM reps),
        |usage AS (
        |  SELECT t.range AS node,
        |         CAST(coalesce(sum(a.bytes), 0) AS BIGINT) AS used_bytes
        |  FROM range(10) t LEFT JOIN assigned a ON a.node = t.range
        |  GROUP BY 1),
        |avgu AS (SELECT CAST(sum(used_bytes) AS DOUBLE)
        |                / (10 * 100000) AS avg_util FROM usage)
        |SELECT node, used_bytes,
        |  round(CAST(used_bytes AS DOUBLE) / 100000, 4) AS util,
        |  CASE WHEN CAST(used_bytes AS DOUBLE)/100000 > avg_util + 0.01
        |         THEN 'over'
        |       WHEN CAST(used_bytes AS DOUBLE)/100000 > avg_util
        |         THEN 'above'
        |       WHEN CAST(used_bytes AS DOUBLE)/100000 >= avg_util - 0.01
        |         THEN 'below'
        |       ELSE 'under' END AS node_class,
        |  CASE WHEN CAST(used_bytes AS DOUBLE)/100000 > avg_util + 0.01
        |         THEN CAST(floor((CAST(used_bytes AS DOUBLE)/100000
        |                          - avg_util - 0.01) * 100000) AS BIGINT)
        |       WHEN CAST(used_bytes AS DOUBLE)/100000 < avg_util - 0.01
        |         THEN CAST(floor((avg_util - 0.01
        |                          - CAST(used_bytes AS DOUBLE)/100000)
        |                         * 100000) AS BIGINT)
        |       ELSE 0 END AS bytes_to_move
        |FROM usage CROSS JOIN avgu""".stripMargin),

    Query("q_meta_fsck", (s, dir) =>
      meta.Catalog.fsck(
        meta.Catalog.fromDocuments(t(s, dir, "documents")),
        blockSize = 256L),
      """WITH blocks AS (
        |  SELECT concat('/corpus/', source) AS dir,
        |         CAST(ceil(CAST(n_chars AS DOUBLE) / 256) AS INT) AS nb
        |  FROM documents WHERE n_chars > 0)
        |SELECT dir,
        |       CAST(sum(CAST(nb AS BIGINT)) AS BIGINT) AS n_blocks,
        |       CAST(0 AS BIGINT) AS under_replicated,
        |       round(CAST(3 AS DOUBLE), 4) AS avg_replication
        |FROM blocks GROUP BY dir""".stripMargin),

    // TextOutputFormat graded END-TO-END (was sink-spec-only): write
    // nation as key<TAB>value text via the real sink, read the files
    // back as lines; the oracle reconstructs every line in SQL — the
    // separator, the null->'' coalesce, and the string casts are all
    // on the graded path
    Query("q_text_sink", (s, dir) => {
      val out = scratchDir(s, "textsink")
      sources.MultiIO.writeText(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        out, sep = "\t")
      s.read.text(out).select(col("value").as("line"))
    },
      // q_text_sink / q_getmerge: the same line set both ways (the
      // merge must be content-preserving); rows compare sorted, so
      // file order is not part of the hash
      """SELECT CAST(n_nationkey AS VARCHAR) || chr(9) || n_name AS line
        |FROM nation""".stripMargin),

    // FsShell getmerge graded END-TO-END: merge the text sink's part
    // files into ONE local file (name order, byte-for-byte), then
    // read the merged file — same oracle as the sink (merging must
    // lose/duplicate nothing)
    Query("q_getmerge", (s, dir) => {
      val out = scratchDir(s, "getmergesrc")
      sources.MultiIO.writeText(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        out, sep = "\t")
      val merged = java.nio.file.Paths
        .get(scratchDir(s, "getmergedst"), "merged.txt")
      new java.io.File(merged.getParent.toString).mkdirs()
      sources.MultiIO.getmerge(s, out, merged.toString)
      s.read.text(merged.toString).select(col("value").as("line"))
    },
      """SELECT CAST(n_nationkey AS VARCHAR) || chr(9) || n_name AS line
        |FROM nation""".stripMargin),

    // SequenceFileOutput/InputFormat graded END-TO-END (was
    // spec-only round trip): nation written as a (Text,Text)
    // SequenceFile via the real Writable sink, read back via the
    // real SequenceFile source — the binary container is on the
    // graded path even though the ORACLE reconstructs the rows from
    // the base table (DuckDB cannot read SequenceFiles; it doesn't
    // need to — lossless round trip means base-table equality)
    Query("q_seqfile_roundtrip", (s, dir) => {
      val out = scratchDir(s, "seqfile")
      rmTree(new java.io.File(out)) // saveAsSequenceFile refuses an existing dir
      sources.MultiIO.writeSequenceFile(
        t(s, dir, "nation"), "n_nationkey", "n_name", out)
      sources.MultiIO.readSequenceFile(s, out)
    },
      // q_seqfile_roundtrip: lossless (Text,Text) container round trip
      // == base-table equality on the stringified pair
      """SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS value
        |FROM nation""".stripMargin),

    // SequenceFileAsBinary graded END-TO-END: the same rows through
    // the UNINTERPRETED BytesWritable container (string -> UTF-8
    // bytes -> BytesWritable -> bytes -> string), proving the binary
    // path copies Writable buffers out correctly
    Query("q_seqfile_binary", (s, dir) => {
      val out = scratchDir(s, "seqbin")
      rmTree(new java.io.File(out))
      sources.MultiIO.writeSequenceFileBinary(
        t(s, dir, "nation")
          .select(col("n_nationkey").cast("string").as("k"),
            col("n_name").as("v")),
        "k", "v", out)
      sources.MultiIO.readSequenceFileBinary(s, out)
        .select(col("key").cast("string").cast("int").as("n_nationkey"),
          col("value").cast("string").as("n_name"))
    },
      """SELECT n_nationkey, n_name FROM nation"""),

    // MapFileOutputFormat + getEntry graded END-TO-END: build the
    // bucketed+sorted artifact (the MapFile analog), then point-look
    // two keys up through the bucket-pruned path; the oracle selects
    // the same keys from the base table. The SelectedBucketsCount
    // plan contract is asserted in ScaleSpec.
    Query("q_mapfile_lookup", (s, dir) => {
      val tbl = "graft_q_mapfile_nation"
      sources.Bucketing.writeBucketed(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        tbl, "n_nationkey", buckets = 4)
      sources.Bucketing.lookup(s, tbl, "n_nationkey", 3L)
        .unionByName(sources.Bucketing.lookup(s, tbl, "n_nationkey", 14L))
    },
      // q_mapfile_lookup: the two probed keys straight from the base
      // table — the artifact path must neither lose nor invent rows
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_nationkey IN (3, 14)""".stripMargin),

    // NLineInputFormat graded END-TO-END (was spec-only): deal the
    // doc_id-sorted corpus into row-exact 64-line splits, then emit
    // per-split (count, min, max); the oracle recomputes the dealing
    // arithmetic from row_number(), so an off-by-one in the split
    // math or a dropped/duplicated/misrouted row cannot hash-match
    Query("q_nline_splits", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .orderBy(col("doc_id"))
      sources.MultiIO.nLineSplit(docs, 64)
        .withColumn("split_id", spark_partition_id())
        .groupBy(col("split_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },
      // q_nline_splits: the oracle re-derives the row-exact dealing
      // (64 consecutive doc_id-ordered rows per split) from row_number
      """SELECT CAST(floor((rn - 1) / 64) AS INT) AS split_id,
        |       count(*) AS n_rows,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        |      FROM documents)
        |GROUP BY 1""".stripMargin),

    // SortValidator / TeraValidate graded END-TO-END (was spec-only):
    // total-order sort events by (user_id, event_id), then run the
    // distributed boundary-checking validator; the verdict row
    // (globally sorted + every row seen) IS the query result
    Query("q_sort_validate", (s, dir) => {
      val sorted = Sorting.totalOrderSort(
        t(s, dir, "events").select(col("user_id"), col("event_id")),
        col("user_id"), col("event_id"))
      val (ok, n) = Sorting.validateSorted(sorted, Seq("user_id", "event_id"))
      import s.implicits._
      Seq((ok, n)).toDF("is_sorted", "checked_rows")
    },
      // q_sort_validate: the validator must see every row and report
      // the sort globally intact
      """SELECT true AS is_sorted, count(*) AS checked_rows FROM events"""),

    // TotalOrderPartitioner + in-partition sort order graded
    // END-TO-END: the global rank read off the sorted partitions
    // themselves (zipWithIndex in partition order — no second sort,
    // no window) vs the oracle's row_number; a key routed past a
    // range boundary or an unsorted run shifts every later rank
    Query("q_total_order_rank", (s, dir) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val sorted = Sorting.totalOrderSort(
        t(s, dir, "customer").select(col("c_custkey")), col("c_custkey"))
      val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row(r.getLong(0), i + 1L) }
      s.createDataFrame(rows, StructType(Seq(
        StructField("c_custkey", LongType, nullable = false),
        StructField("global_rank", LongType, nullable = false))))
    },
      // q_total_order_rank: rank read off the sorted partitions equals
      // the true global row_number
      """SELECT c_custkey,
        |       row_number() OVER (ORDER BY c_custkey) AS global_rank
        |FROM customer""".stripMargin),

    // Salted skew join graded END-TO-END (was spec-only): the salted
    // plan must preserve exact join multiplicity — the oracle is the
    // PLAIN join; salts=8 fans the hot suppkey over 8 reducers
    Query("q_skew_join", (s, dir) => {
      val probe = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"))
      val build = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(probe, build, "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_orderkey")).as("key_sum"))
    },
      // q_skew_join: the salted plan vs the PLAIN join — multiplicity
      // must be preserved exactly
      """SELECT s_nationkey, count(*) AS cnt,
        |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin),

    // Counters graded END-TO-END (was spec-only): observe-metric
    // counters accumulated DURING one pass (no second scan), read
    // back after the action and emitted as rows; the oracle
    // recomputes both counts declaratively
    Query("q_counters", (s, dir) => {
      val (obs, counters) = Counters.observed(
        t(s, dir, "documents").select(col("lang")), "graft.q_counters",
        "records" -> count(lit(1)),
        "english" -> count(when(col("lang") === "en", lit(1))))
      obs.write.format("noop").mode("overwrite").save()
      val r = counters.get
      import s.implicits._
      Seq("english", "records").map(c => (c, r(c).asInstanceOf[Long]))
        .toDF("counter", "value")
    },
      // q_counters: both observe counters recomputed declaratively
      """SELECT 'english' AS counter,
        |       count(*) FILTER (WHERE lang = 'en') AS value
        |FROM documents
        |UNION ALL
        |SELECT 'records' AS counter, count(*) AS value FROM documents""".stripMargin),

    // StreamInputFormat custom-delimiter analog graded END-TO-END
    // (was spec-only): records separated by 0x07 instead of newline,
    // written and read through the lineSep option; oracle = the same
    // line reconstruction as q_text_sink
    Query("q_linesep", (s, dir) => {
      val out = scratchDir(s, "linesep")
      t(s, dir, "nation")
        .select(concat_ws("\t", col("n_nationkey").cast("string"),
          col("n_name")).as("value"))
        .write.mode("overwrite").option("lineSep", "\u0007").text(out)
      s.read.option("lineSep", "\u0007").text(out)
        .select(col("value").as("line"))
    },
      // q_linesep: same reconstruction as q_text_sink — the 0x07
      // delimiter must be invisible to the round trip
      """SELECT CAST(n_nationkey AS VARCHAR) || chr(9) || n_name AS line
        |FROM nation""".stripMargin),

    // Sorted-copartitioned (bucketed, zero-Exchange) join graded
    // END-TO-END (was plan-asserted only): both sides written
    // bucketed on the join key, joined through the bucket contract,
    // against the plain-join oracle — a bucket-routing mismatch
    // between writer and join silently drops rows, which the
    // base-join oracle catches
    Query("q_bucketed_join", (s, dir) => {
      sources.Bucketing.writeBucketed(
        t(s, dir, "orders").select(col("o_custkey").as("custkey"),
          col("o_orderkey")),
        "graft_q_bj_orders", "custkey", buckets = 8)
      sources.Bucketing.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey").as("custkey"),
          col("c_mktsegment")),
        "graft_q_bj_customer", "custkey", buckets = 8)
      sources.Bucketing.bucketedJoin(s, "graft_q_bj_orders",
        "graft_q_bj_customer", "custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), max(col("o_orderkey")).as("max_order"))
    },
      // q_bucketed_join: the zero-Exchange bucket contract vs the
      // plain join
      """SELECT c_mktsegment, count(*) AS cnt, max(o_orderkey) AS max_order
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin),

    // ReduceValuesIterator graded END-TO-END (was spec-only): the
    // reducer sees each group's values as a SORTED STREAM — graded
    // by an order-sensitive fold (first three order keys, in order,
    // plus the run length) that any buffering or ordering bug breaks
    Query("q_reduce_values", (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey"))
      Sorting.reduceSortedGroups[(Long, String, Long)](
        orders, Seq("o_custkey"), Seq(col("o_orderkey"))) { (key, rows) =>
        val first = new scala.collection.mutable.ArrayBuffer[Long](3)
        var n = 0L
        rows.foreach { r =>
          if (n < 3) first += r.getLong(1)
          n += 1
        }
        Iterator.single((key.head.asInstanceOf[Long], first.mkString(","), n))
      }.toDF("o_custkey", "first_orders", "n_orders")
    },
      // q_reduce_values: order-sensitive fold over the sorted value
      // stream — string_agg skips the NULLs the rn>3 CASE produces
      """SELECT o_custkey,
        |       string_agg(CASE WHEN rn <= 3 THEN CAST(o_orderkey AS VARCHAR) END,
        |                  ',' ORDER BY o_orderkey) AS first_orders,
        |       count(*) AS n_orders
        |FROM (SELECT o_custkey, o_orderkey,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_orderkey) AS rn
        |      FROM orders)
        |GROUP BY 1""".stripMargin),

    // MultipleOutputFormat / partitionedWrite graded END-TO-END:
    // nation written partitioned by region (one directory per key —
    // the reference's generateFileNameForKeyValue layout), read back
    // whole; the partition column round-trips through directory
    // names, cast back to its base type for the hash
    Query("q_partitioned_sink", (s, dir) => {
      val out = scratchDir(s, "partsink")
      sources.MultiIO.partitionedWrite(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey")),
        out, Seq("n_regionkey"))
      s.read.parquet(out).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int"))
    },
      // q_partitioned_sink / q_distcp / q_jdbc_roundtrip: lossless
      // artifact round trips == base-table equality
      """SELECT n_nationkey, n_name, n_regionkey FROM nation"""),

    // small-file compaction graded END-TO-END: nation written as
    // many tiny files per region dir, compacted (only violating dirs
    // rewritten, one file each at this size), the COMPACTED table
    // read back whole against the base-table oracle — a dropped,
    // duplicated, or cross-partition-leaked row cannot hash-match
    Query("q_compaction", (s, dir) => {
      val out = scratchDir(s, "compact")
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey"))
        .repartition(6)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("n_regionkey").parquet(out)
      val report = sources.Compaction.compact(s, out)
      require(report.filter(col("rewritten")).count() > 0,
        "compaction fixture produced no violating partition")
      s.read.parquet(out).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int"))
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation"""),

    // physical delete-by-key graded END-TO-END: customer written as
    // several files, three keys deleted (only hit files rewritten —
    // the pushdown hit scan + per-file surgery), the table read back
    // whole against a NOT IN oracle — an over- or under-deleted row
    // cannot hash-match
    Query("q_delete_keys", (s, dir) => {
      val out = scratchDir(s, "redact")
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        .repartition(6)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
      val report = sources.Redaction.deleteKeys(s, out, "c_custkey",
        Seq(1L, 2L, 3L))
      require(report.count() > 0, "delete fixture hit no file")
      s.read.parquet(out).select(col("c_custkey"), col("c_name"))
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (1, 2, 3)""".stripMargin),

    // DistCp graded END-TO-END: the partitioned layout copied
    // partition-parallel (layout preserved), the COPY read back
    // against the base-table oracle — a dropped or duplicated
    // partition cannot hash-match
    Query("q_distcp", (s, dir) => {
      val src = scratchDir(s, "distcp-src")
      val dst = scratchDir(s, "distcp-dst")
      sources.MultiIO.partitionedWrite(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey")),
        src, Seq("n_regionkey"))
      sources.MultiIO.distcp(s, src, dst, Seq("n_regionkey"))
      s.read.parquet(dst).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("int"))
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation"""),

    // DBOutputFormat + DBInputFormat graded END-TO-END against a
    // REAL embedded database (Derby, in-JVM): batched INSERTs out,
    // whole-table read back, base-table oracle — the SQL type
    // round trip (INTEGER/CLOB) is on the graded path
    Query("q_jdbc_roundtrip", (s, dir) => {
      System.setProperty("derby.stream.error.field",
        "java.lang.System.err") // no derby.log in CWD
      val url = s"jdbc:derby:${scratchDir(s, "derby")}/db;create=true"
      sources.Jdbc.write(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        url, "NATION_RT", org.apache.spark.sql.SaveMode.Overwrite)
      sources.Jdbc.read(s, url, "NATION_RT")
        .select(col("n_nationkey"), col("n_name"))
    },
      """SELECT n_nationkey, n_name FROM nation"""),

    // HAR graded END-TO-END: one small file per nation row packed
    // into the archive (concatenated part blobs + stock text index),
    // then EVERY file read back through the ranged part reader and
    // decoded — pack, index, seek arithmetic, and byte fidelity all
    // on the hash-checked path. The driver materializes the 25
    // source files (nation is a fixed-size dimension; O(rows) only
    // for this bounded table — harPack itself is driver-metadata +
    // task-side bytes at any scale).
    Query("q_har_roundtrip", (s, dir) => {
      val src = scratchDir(s, "harsrc")
      val dst = scratchDir(s, "hardst")
      rmTree(new java.io.File(src)); rmTree(new java.io.File(dst))
      new java.io.File(src).mkdirs()
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(src, s"f_${r.getInt(0)}.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      sources.MultiIO.harPack(s, src, dst)
      sources.MultiIO.readHar(s, dst)
        .select(regexp_extract(col("path"), "f_(\\d+)\\.txt", 1)
            .cast("int").as("n_nationkey"),
          col("bytes").cast("string").as("n_name"))
    },
      """SELECT n_nationkey, n_name FROM nation"""),

    // MultipleOutputs graded END-TO-END: one pass fanning nation
    // into two named sinks (region parity), both read back and
    // re-unioned — a row routed to the wrong sink, dropped, or
    // double-written cannot hash-match the base table
    Query("q_multiple_outputs", (s, dir) => {
      val base = scratchDir(s, "multiout")
      sources.MultiIO.multipleOutputs(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey")),
        Map(
          "even" -> ((d: DataFrame) => d.filter(col("n_regionkey") % 2 === 0),
            s"$base/even"),
          "odd" -> ((d: DataFrame) => d.filter(col("n_regionkey") % 2 === 1),
            s"$base/odd")))
      s.read.parquet(s"$base/even")
        .unionByName(s.read.parquet(s"$base/odd"))
    },
      """SELECT n_nationkey, n_name, n_regionkey FROM nation"""),

    // DistCh (distributed chmod/chown batch): recursive owner/perm
    // edits over the modeled namespace, ordered ops with later-wins
    // overlap — here "/corpus" re-owned wholesale, then src1's tree
    // overridden, plus a perm-only op leaving owners alone
    Query("q_distch", (s, dir) =>
      meta.Catalog.distCh(
        meta.Catalog.fromDocuments(t(s, dir, "documents"))
          .withColumn("owner", lit("root"))
          .withColumn("perm", lit("644")),
        Seq(meta.Catalog.ChOp("/corpus", owner = Some("etl")),
          meta.Catalog.ChOp("/corpus/src1", owner = Some("curator"),
            perm = Some("600")),
          meta.Catalog.ChOp("/corpus/src2", perm = Some("400"))))
        .select(col("path"), col("owner"), col("perm")),
      // q_distch: tree-scoped CASE edits in op order (later wins);
      // src1x/src2x sources exist at no fixture, but the LIKE guards
      // mirror the operator's /a-vs-/abc tree semantics anyway
      """SELECT '/corpus/' || source || '/doc_' || doc_id AS path,
        |       CASE WHEN source = 'src1' THEN 'curator'
        |            ELSE 'etl' END AS owner,
        |       CASE WHEN source = 'src1' THEN '600'
        |            WHEN source = 'src2' THEN '400'
        |            ELSE '644' END AS perm
        |FROM documents""".stripMargin),

    // Logalyzer (grep + column-sort over logs): whole lines matching
    // the pattern with occurrence counts — doc text stands in for
    // log lines; dedup'd lines sum their counts
    Query("q_logalyze", (s, dir) =>
      operators.TextOps.logalyze(t(s, dir, "documents"),
        col("text"), "data", sortCols = Seq(0)),
      // q_logalyze: per-line occurrence counts of the pattern, summed
      // over duplicate lines (rows are compared sorted, so the
      // column-sort itself is exercised by the spec, not the hash)
      """WITH m AS (
        |  SELECT text AS line,
        |         len(regexp_extract_all(text, 'data')) AS c
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT line, CAST(sum(c) AS BIGINT) AS cnt
        |FROM m WHERE c > 0 GROUP BY line""".stripMargin),

    // vaidya analog (post-hoc job diagnostics): run a deliberately
    // pathological pipeline — an md5-wrapped filter that defeats
    // pushdown, a 99%-hot-key repartition, a broadcast nested-loop
    // cross join — and grade the advisor's triggered rule set. Only
    // the scale-invariant rules are graded (small_files_scan etc.
    // legitimately depend on the fixture's file layout); the oracle
    // is the constant triggered set. AQE is pinned off for the
    // fixture: coalesced/skew-split partitions would change the
    // task-level statistics the skew rule reads (diagnose is eager,
    // so the conf is restored before any other query plans).
    Query("q_advisor", (s, dir) => {
      val prev = s.conf.get("spark.sql.adaptive.enabled")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val ev = t(s, dir, "events")
          .filter(substring(md5(col("event_id").cast("string")), 1, 1)
            === "0")
        val sk = ev.withColumn("k",
            when(col("event_id") % 100 === 0, col("event_id"))
              .otherwise(lit(0L)))
          .repartition(col("k"))
        val fixture = sk.crossJoin(
          broadcast(t(s, dir, "region").select(col("r_regionkey"))))
        // second fixture: an exact COUNT(DISTINCT) over the whole
        // events scan — the state-blowup pattern the new rule
        // prescribes the sketch panel for. distinctRows=1000 puts
        // every test scale >= 4x the threshold, so the severity
        // band is scale-invariant (impact pins at 1.0).
        val distinctFx = t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("d"))
        meta.Advisor.diagnose(fixture)
          .filter(col("rule").isin("balanced_shuffle_partitioning",
            "cartesian_join", "unpushed_filter"))
          .unionByName(
            meta.Advisor.diagnose(distinctFx, distinctRows = 1000L)
              .filter(col("rule") === "exact_distinct_at_scale"))
          .select(col("rule"), col("severity"))
          .distinct()
      } finally s.conf.set("spark.sql.adaptive.enabled", prev)
    },
      // q_advisor: the triggered rule set is a CONSTANT of the fixture
      // design (99%-hot key -> one busy reducer of N >= 4 -> impact
      // >= 0.75; md5 filter keeps ~1/16 -> impact ~0.94; BNLJ present
      // -> impact 1.0 — all 'high' at every scale and partition count)
      """SELECT 'balanced_shuffle_partitioning' AS rule, 'high' AS severity
        |UNION ALL SELECT 'cartesian_join', 'high'
        |UNION ALL SELECT 'exact_distinct_at_scale', 'high'
        |UNION ALL SELECT 'unpushed_filter', 'high'""".stripMargin),
  )
}
