package graft.meta

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One test per Advisor rule (the vaidya rule-test layout:
  * tests/BalancedReducePartitioning.java etc.), each with a firing
  * and a non-firing side where the rule allows it.
  */
class AdvisorSpec extends SparkSpec {
  import spark.implicits._

  private def rules(findings: DataFrame): Map[String, String] =
    findings.select("rule", "severity").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def withAqeOff[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("balanced_shuffle_partitioning fires on a hot-key shuffle, not a balanced one") {
    withAqeOff {
      // 99% of rows on one key -> one of 4 shuffle partitions carries
      // >= 90% of records -> impact 1 - 1/4 = 0.75 (high)
      val skewed = (1L to 2000L)
        .map(i => (if (i % 100 == 0) i else 0L, i)).toDF("k", "v")
        .repartition(col("k"))
      val got = rules(Advisor.diagnose(skewed))
      assert(got.get("balanced_shuffle_partitioning").contains("high"), got)
      // uniform keys -> every partition busy -> no finding
      val flat = (1L to 2000L).map(i => (i, i)).toDF("k", "v")
        .repartition(col("k"))
      val none = rules(Advisor.diagnose(flat))
      assert(!none.contains("balanced_shuffle_partitioning"), none)
    }
  }

  test("cartesian_join fires on cross joins (both physical forms)") {
    val a = (1L to 10L).toDF("x")
    val b = (1L to 10L).toDF("y")
    val got = rules(Advisor.diagnose(a.crossJoin(b)))
    assert(got.get("cartesian_join").contains("high"), got)
    val equi = rules(Advisor.diagnose(
      a.join(b.withColumnRenamed("y", "x"), "x")))
    assert(!equi.contains("cartesian_join"), equi)
    // the scalar-attach idiom stays unflagged: a 1-row broadcast
    // side makes the product O(|L|), and the retrieval family uses
    // it deliberately (crossJoin(broadcast(stats)))
    val stats = (1L to 10L).toDF("x")
      .agg(count(lit(1)).as("n_docs"))
    val attach = rules(Advisor.diagnose(
      a.crossJoin(broadcast(stats))))
    assert(!attach.contains("cartesian_join"), attach)
  }

  test("unpushed_filter fires when the predicate defeats pushdown") {
    withAqeOff {
      withTempDirs("adv") { case Seq(dir) =>
        (1L to 4000L).toDF("id").write.mode("overwrite")
          .parquet(s"$dir/t")
        // md5-wrapped predicate: nothing pushes, scan decodes all rows
        val wrapped = spark.read.parquet(s"$dir/t")
          .filter(substring(md5(col("id").cast("string")), 1, 1) === "0")
        val got = rules(Advisor.diagnose(wrapped))
        assert(got.get("unpushed_filter").contains("high"), got)
        // the same selectivity as a plain comparison pushes fine
        val plain = spark.read.parquet(s"$dir/t").filter(col("id") < 250)
        val none = rules(Advisor.diagnose(plain))
        assert(!none.contains("unpushed_filter"), none)
      }
    }
  }

  test("exact_distinct_at_scale fires on a wide COUNT(DISTINCT), not a small one") {
    val wide = (1L to 5000L).map(i => (i % 7, i)).toDF("g", "u")
      .groupBy(col("g")).agg(countDistinct(col("u")).as("d"))
    val got = rules(Advisor.diagnose(wide, distinctRows = 1000L))
    // 5000 input rows >= 4x the 1000-row threshold -> impact 1.0
    assert(got.get("exact_distinct_at_scale").contains("high"), got)
    // same shape under the threshold stays silent
    val small = rules(Advisor.diagnose(wide, distinctRows = 100000L))
    assert(!small.contains("exact_distinct_at_scale"), small)
    // a non-distinct aggregate never fires, whatever the volume
    val plain = (1L to 5000L).map(i => (i % 7, i)).toDF("g", "u")
      .groupBy(col("g")).agg(count(col("u")).as("d"))
    val none = rules(Advisor.diagnose(plain, distinctRows = 1000L))
    assert(!none.contains("exact_distinct_at_scale"), none)
  }

  test("object_agg_heap_state prices declared buffer bounds and collect " +
       "buffers against the heap budget") {
    import graft.operators.AggregateLib
    // 10^6-entry cap x 64 B declared bound x >= 7 groups >> 16 MB ->
    // fires (the q_uniq_capped sf10 OOM shape at test scale)
    val hungry = (1L to 2000L).map(i => (i % 7, i.toString)).toDF("g", "u")
      .groupBy(col("g"))
      .agg(AggregateLib.uniqValueCount(col("u"), 1000000).as("d"))
    val got = rules(Advisor.diagnose(hungry, maxAggStateBytes = 16L << 20))
    assert(got.get("object_agg_heap_state").contains("high"), got)
    // a small cap prices in KB -> silent at the same budget
    val capped = (1L to 2000L).map(i => (i % 7, i.toString)).toDF("g", "u")
      .groupBy(col("g"))
      .agg(AggregateLib.uniqValueCount(col("u"), 50).as("d"))
    val none = rules(Advisor.diagnose(capped, maxAggStateBytes = 16L << 20))
    assert(!none.contains("object_agg_heap_state"), none)
    // collect_set is priced from input rows (no declared bound needed)
    val coll = (1L to 2000L).map(i => (i % 7, i.toString)).toDF("g", "u")
      .groupBy(col("g")).agg(collect_set(col("u")).as("d"))
    val collGot = rules(Advisor.diagnose(coll, maxAggStateBytes = 16L << 10))
    assert(collGot.contains("object_agg_heap_state"), collGot)
    // the bounded-state twin (sketch) never plans an object agg here
    val sketch = (1L to 2000L).map(i => (i % 7, i.toString)).toDF("g", "u")
      .groupBy(col("g")).agg(approx_count_distinct(col("u")).as("d"))
    val sk = rules(Advisor.diagnose(sketch, maxAggStateBytes = 16L << 10))
    assert(!sk.contains("object_agg_heap_state"), sk)
  }

  test("small_files_scan fires on a fragmented write, not a compact one") {
    withTempDirs("adv") { case Seq(dir) =>
      (1L to 1000L).toDF("id").repartition(16).write
        .mode("overwrite").parquet(s"$dir/frag")
      val got = rules(Advisor.diagnose(spark.read.parquet(s"$dir/frag")))
      assert(got.get("small_files_scan").exists(Set("high", "medium")), got)
      (1L to 1000L).toDF("id").repartition(1).write
        .mode("overwrite").parquet(s"$dir/compact")
      // 1 file < minFiles -> silent regardless of size
      val none = rules(Advisor.diagnose(spark.read.parquet(s"$dir/compact")))
      assert(!none.contains("small_files_scan"), none)
    }
  }

  test("broadcast_candidate fires on an SMJ with a tiny side") {
    withAqeOff {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // force SMJ by disabling auto-broadcast at plan time...
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val big = (1L to 5000L).map(i => (i, s"p$i")).toDF("k", "pay")
        val small = (1L to 50L).toDF("k")
        val joined = big.join(small, "k")
        val qe = joined.queryExecution
        assert(qe.executedPlan.toString.contains("SortMergeJoin"))
        // ...then judge with the default threshold back on: the rule
        // reads the session conf at findings time
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        val got = rules(Advisor.diagnose(joined))
        assert(got.get("broadcast_candidate").contains("medium"), got)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("candidate_pair_blowup reads graft observe sites") {
    withAqeOff {
      // one wide bucket over many points x many intervals -> candidates
      // >> the 0 rows that survive an impossible between-filter...
      // actually keep a tiny surviving set: points at t=500k only
      val points = (1L to 400L).map(i => (i, i)).toDF("pid", "t")
      val ivals = (1L to 400L).map(i => (1000000L + i, 1000000L + i))
        .toDF("s", "e")
      val rj = graft.operators.Temporal.rangeJoin(
        points, col("t"), ivals, col("s"), col("e"),
        bucket = 10000000L, observeCandidates = true)
      val got = rules(Advisor.diagnose(rj))
      assert(got.contains("candidate_pair_blowup"), got)
    }
  }

  test("lineage_reexecution fires on an unpinned shared scan, not on " +
      "a pinned or single-consumer one") {
    withAqeOff {
      withTempDirs("adv-lre") { case Seq(dir) =>
        (1L to 5000L).map(i => (i, i * 2, s"v$i")).toDF("a", "b", "s")
          .write.mode("overwrite").parquet(s"$dir/t")
        val base = spark.read.parquet(s"$dir/t")
        // two differently-pruned consumers of the SAME relation: no
        // exchange to reuse between them -> the scan executes twice
        val twice = base.agg(sum(col("a")).as("sa"))
          .crossJoin(base.agg(avg(col("b")).as("ab")))
        val got = rules(Advisor.diagnose(twice, minRescanBytes = 1L))
        assert(got.get("lineage_reexecution").contains("medium"), got)
        // pinning the shared subtree removes the file scans entirely
        val pinned = base.localCheckpoint()
        val fixed = pinned.agg(sum(col("a")).as("sa"))
          .crossJoin(pinned.agg(avg(col("b")).as("ab")))
        val none = rules(Advisor.diagnose(fixed, minRescanBytes = 1L))
        assert(!none.contains("lineage_reexecution"), none)
        // a single consumer never fires
        val single = rules(Advisor.diagnose(
          base.agg(sum(col("a")).as("sa")), minRescanBytes = 1L))
        assert(!single.contains("lineage_reexecution"), single)
        // a small relation re-read twice is below the byte floor at
        // the default threshold
        val small = rules(Advisor.diagnose(twice))
        assert(!small.contains("lineage_reexecution"), small)
      }
    }
  }

  test("oversized_broadcast fires past the byte bound, once per " +
      "exchange, not under it") {
    val big = (1L to 20000L).map(i => (i, s"p$i")).toDF("k", "pay")
    val small = (1L to 2000L).map(i => (i, s"s$i")).toDF("k", "s")
    // past the (test-tiny) bound: fires high — the impact ramp is
    // saturated when the exchange is many multiples of the threshold
    val got = rules(Advisor.diagnose(
      big.join(broadcast(small), "k"), maxBroadcastBytes = 1L))
    assert(got.get("oversized_broadcast").contains("high"), got)
    // under the default 256 MB bound: silent
    val none = rules(Advisor.diagnose(big.join(broadcast(small), "k")))
    assert(!none.contains("oversized_broadcast"), none)
    // a REUSED exchange is built once and must be flagged once, even
    // though it appears under every consumer
    withAqeOff {
      val twice = big.join(broadcast(small), "k")
        .withColumnRenamed("s", "s1")
        .join(broadcast(small), "k")
      assert(twice.queryExecution.executedPlan.toString
        .contains("ReusedExchange"), "fixture must exercise reuse")
      val fs = Advisor.diagnose(twice, maxBroadcastBytes = 1L)
        .filter(col("rule") === "oversized_broadcast").count()
      assert(fs == 1L, s"expected one finding per built exchange, got $fs")
    }
  }

  test("lineage_reexecution does not double-count a reused scalar " +
      "subquery") {
    withAqeOff {
      withTempDirs("adv-rsq") { case Seq(dir) =>
        (1L to 5000L).map(i => (i, i * 2)).toDF("a", "b")
          .write.mode("overwrite").parquet(s"$dir/a")
        (1L to 5000L).map(i => (i, i * 3)).toDF("c", "d")
          .write.mode("overwrite").parquet(s"$dir/b")
        spark.read.parquet(s"$dir/a").createOrReplaceTempView("adv_rsq_a")
        spark.read.parquet(s"$dir/b").createOrReplaceTempView("adv_rsq_b")
        // the identical scalar subquery appears twice; subquery reuse
        // executes it ONCE (the second is a ReusedSubqueryExec) — its
        // scan must not be counted per consumer
        val q = spark.sql(
          """SELECT a FROM adv_rsq_a
            | WHERE a > (SELECT avg(d) FROM adv_rsq_b) / 4
            |    OR a + 7 > (SELECT avg(d) FROM adv_rsq_b)""".stripMargin)
        assert(q.queryExecution.executedPlan.toString
          .contains("ReusedSubquery"), "fixture must exercise reuse")
        val got = rules(Advisor.diagnose(q, minRescanBytes = 1L))
        assert(!got.contains("lineage_reexecution"), got)
      }
    }
  }

  test("disk_spill and task_reexecution stay silent on a healthy run") {
    val got = rules(Advisor.diagnose(
      (1L to 1000L).toDF("id").groupBy(col("id") % 10).count()))
    assert(!got.contains("disk_spill") && !got.contains("task_reexecution"),
      got)
  }

  test("disk_spill rule fires on synthetic task statistics") {
    // the pure rule engine on fabricated stats (a spill is hard to
    // force deterministically on a 4-core local run)
    val plan = (1L to 10L).toDF("id").queryExecution.executedPlan
    val stats = Seq(
      Advisor.TaskStat(1, 0, 1000L, 5L << 20, failed = false,
        speculative = false))
    val fs = Advisor.findings(plan, stats, Map.empty, spark,
      0.9, 3.0, 16L << 20, 8, 10.0)
    val spill = fs.filter(_.rule == "disk_spill")
    assert(spill.nonEmpty && spill.head.severity != "",
      fs.map(_.rule).toString)
  }

  test("task_reexecution rule fires on synthetic retry statistics") {
    val plan = (1L to 10L).toDF("id").queryExecution.executedPlan
    val stats = (0 until 10).map(i =>
      Advisor.TaskStat(1, 0, 100L, 0L, failed = false, speculative = false)) ++
      Seq(Advisor.TaskStat(1, 1, 100L, 0L, failed = false,
        speculative = false),
        Advisor.TaskStat(1, 0, 0L, 0L, failed = true, speculative = false))
    val fs = Advisor.findings(plan, stats, Map.empty, spark,
      0.9, 3.0, 16L << 20, 8, 10.0)
    assert(fs.exists(_.rule == "task_reexecution"), fs.map(_.rule).toString)
  }

  test("findings schema and severity bands are stable") {
    val out = Advisor.diagnose((1L to 10L).toDF("id"))
    assert(out.columns.toSeq ==
      Seq("rule", "severity", "impact", "evidence", "prescription"))
  }
}
