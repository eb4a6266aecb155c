package graft

/** Benchmark main: times every SparkEntry query at
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line for the driver
  * (`BENCH_r{N}.json`).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.querySession("graft-bench")
    // warm the JVM/codegen/file-source paths so the first measured
    // query isn't charged for session startup, and pre-JIT the heavy
    // operator kernels (shingling, signatures, window pair expansion,
    // cosine) on the tiny sf — janino codegen + C2 compilation swing
    // the heavy tail ±30% when paid inside the timed region. No data
    // from the measured sfDir is touched or cached here.
    Graft.table(spark, sfDir, "lineitem").limit(10).count()
    spark.range(100).selectExpr("sum(id)").collect()
    // best-effort: a missing warmup directory must not abort the
    // bench (measured queries have their own failure isolation).
    try {
      import org.apache.spark.sql.functions._
      val warmDocs = Graft.table(spark, "/root/testdata/sf0.001", "documents")
      functions.Dedup.minhashNearDups(warmDocs, col("doc_id"), col("text"),
        3, 16, 16, 0.5).count()
      functions.Dedup.simhashValidate(warmDocs, col("doc_id"), col("text"),
        4).count()
      functions.Dedup.connectedComponents(
        functions.Dedup.ngramJaccardPairs(warmDocs, col("doc_id"),
          col("text"), 3, 0.5)).count()
      val warmEmb = Graft.table(spark, "/root/testdata/sf0.001", "embeddings")
      functions.Similarity.bruteForcePairs(warmEmb, col("vec_id"),
        col("embedding"), 0.4).count()
      functions.Similarity.quantizedTopK(warmEmb, col("vec_id"),
        col("embedding"), warmEmb.filter(col("vec_id") < 2),
        col("vec_id"), col("embedding"), k = 3, overfetch = 2).count()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] kernel warmup skipped: ${e.getMessage}")
    }
    // median-of-N protocol: one timing sample is at the mercy of
    // whatever else the machine is doing (round 5's recorded run
    // showed phantom 12.8x "regressions" that an idle re-run erased).
    // Three cache-cleared passes per query, the MEDIAN is the query's
    // number of record, and the min/max spread is printed alongside so
    // a noisy round is visible as noise instead of as a regression.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    // optional subset for targeted A/B runs (dev tool; the driver
    // always benches the full surface)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val samples = (1 to passes).map { _ =>
        Graft.isolate(spark)
        val t0 = System.nanoTime()
        try {
          // toRdd.count() executes the PHYSICAL plan as built: a plain
          // Dataset.count() rewrites to Aggregate(count(1)) and prunes
          // deterministic projections, so projection-only queries
          // (scrub/langid/quality/...) would time a near-metadata-only
          // scan instead of their actual operator work
          fn(spark, sfDir).queryExecution.toRdd.count()
          ((System.nanoTime() - t0) / 1e9,
            SparkEntry.replayWriteNanos.get() / 1e9,
            SparkEntry.artifactWriteNanos.get() / 1e9)
        }
        catch { case scala.util.control.NonFatal(e) =>
          // NonFatal: an OOM/LinkageError must abort the bench loudly,
          // not record a silent -1 on a corrupted JVM
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          (-1.0, 0.0, 0.0) // a failed pass must not read as a (fast) success
        }
      }
      (name, samples)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // any failed pass marks the query failed (flaky != fast); the
    // failure sentinel must not leak into the published spread as if
    // it were a timing
    val meds = results.map { case (k, ss) =>
      if (ss.exists(_._1 < 0)) (k, -1.0, -1.0, -1.0, 0.0, 0.0)
      else (k, median(ss.map(_._1)), ss.map(_._1).min, ss.map(_._1).max,
        median(ss.map(_._2)), median(ss.map(_._3)))
    }
    val qs = meds.map { case (k, m, _, _, _, _) => "\"" + k + "\":" + fmt(m) }
      .mkString("{", ",", "}")
    val spread = meds.map { case (k, _, lo, hi, _, _) =>
      "\"" + k + "\":[" + fmt(lo) + "," + fmt(hi) + "]" }
      .mkString("{", ",", "}")
    // replay-harness split for the streaming queries: `queries` keeps
    // the full end-to-end number (protocol continuity with earlier
    // rounds); `replay_write` is the median temp-write harness cost,
    // and `stream_only` = query median − its own pass's harness, so
    // the operator cost is visible separately (VERDICT r6 #5)
    val harness = meds.filter(_._5 > 0.005)
    val replayWrite = harness.map { case (k, _, _, _, h, _) =>
      "\"" + k + "\":" + fmt(h) }.mkString("{", ",", "}")
    val streamOnly = results.toMap
    val streamOnlyJson = harness.map { case (k, _, _, _, _, _) =>
      "\"" + k + "\":" + fmt(median(streamOnly(k).map(s => s._1 - s._2))) }
      .mkString("{", ",", "}")
    // artifact-building queries (z-order rewrite): report the build
    // cost and the probe-only remainder separately — the rewrite
    // amortizes over every later probe, so the probe side is the
    // round-over-round signal that matters (VERDICT r8 #5)
    val artifact = meds.filter(_._6 > 0.005)
    val artifactWrite = artifact.map { case (k, _, _, _, _, a) =>
      "\"" + k + "\":" + fmt(a) }.mkString("{", ",", "}")
    val probeOnly = artifact.map { case (k, _, _, _, _, _) =>
      "\"" + k + "\":" + fmt(median(streamOnly(k).map(s => s._1 - s._3))) }
      .mkString("{", ",", "}")
    val zorderPruning = queries.RetrievalQueries.zorderBenchStats(spark, sfDir)
      .map(j => s""","zorder_pruning":$j""").getOrElse("")
    val failed = meds.collect { case (k, m, _, _, _, _) if m < 0 => "\"" + k + "\"" }
    val total = meds.collect { case (_, m, _, _, _, _) if m >= 0 => m }.sum
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","protocol":"median-of-$passes","queries":$qs,"spread":$spread,"replay_write":$replayWrite,"stream_only":$streamOnlyJson,"artifact_write":$artifactWrite,"probe_only":$probeOnly$zorderPruning,"failed":[${failed.mkString(",")}],"sf":"$sfDir","cpus":${Graft.cpus}}""")
    spark.stop()
  }
}
