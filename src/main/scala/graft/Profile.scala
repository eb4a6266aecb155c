package graft

import org.apache.spark.sql.functions._

/** Dev tool: stage-by-stage timing of the near-dup pipelines. */
object Profile {
  def main(args: Array[String]): Unit = {
    // flags are not paths: `Profile --scale10` must hit the default
    // sfDir, not read "--scale10/documents.parquet" — and neither are
    // flag OPERANDS: `--pentomino 5`'s depth must not become sfDir.
    // Only the operand right after a value-taking flag is dropped, so
    // a purely numeric sfDir (a relative dir named "10") still works.
    val valueFlags = Set("--zipf", "--pentomino")
    // --streamphases takes an OPTIONAL q_-prefixed query list; a
    // non-q_ operand after it (e.g. the sf dir) is not its operand
    val sfDir = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") &&
        !(i > 0 && (valueFlags.contains(args(i - 1)) ||
          (args(i - 1) == "--streamphases" && a.startsWith("q_")))) => a
    }.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-profile")
    val docs = Graft.table(spark, sfDir, "documents")
    docs.limit(5).count() // warm

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    import graft.functions.Dedup

    // --streamneardup: the graded q_stream_neardup replay with the
    // emission-budget ledger printed — pairs emitted, candidates
    // dropped past maxPairsPerTrigger, bucket-triggers that hit the
    // budget (the degrade evidence a saturated-corpus run needs;
    // pair with SPARK_GRAFT_STATE_PROVIDER=rocksdb at big sf, where
    // the heap state store is the binding constraint).
    if (args.contains("--streamneardup")) {
      time("q_stream_neardup replay")(
        SparkEntry.queries("q_stream_neardup")(spark, sfDir).count())
      val m = graft.streaming.StreamNearDup.emissionMetrics().get
      println(s"""[streamneardup] {"dropped_candidates":""" +
        s"""${m.droppedCandidates.value},"exhausted_bucket_triggers":""" +
        s"""${m.exhaustedBucketTriggers.value}}""")
      spark.stop()
      return
    }

    // --streamneardup8: the STREAMING form of the minhash guard's
    // re-banding prescription at corpus scale — the graded replay
    // harness (8 unordered parquet micro-batches, memory sink) but at
    // the production r=2 operating point (bands = numHashes/2 = 8),
    // where buckets key on PAIRS of min values and stay sparse on a
    // boilerplate-saturated corpus. Prints the wall + drop ledger next
    // to the r=1 graded point's, so the re-band's candidate cut and
    // honest recall trade are measured for the stream, not just batch.
    if (args.contains("--streamneardup8")) {
      Replay.withStateWidth(spark) {
        val src = Replay.unordered(spark,
          docs.select(col("doc_id"), col("text"))).stream
        val pairs = graft.streaming.StreamNearDup.pairs(src,
          col("doc_id"), col("text"), shingleN = 3, numHashes = 16,
          bands = 8, threshold = 0.5, site = "snd8")
        time("stream neardup r=2 replay") {
          val q = pairs.writeStream.outputMode("append").format("memory")
            .queryName("snd8_sink").start()
          try q.processAllAvailable() finally q.stop()
          spark.table("snd8_sink").count()
        }
      }
      val m = graft.streaming.StreamNearDup.emissionMetrics("snd8").get
      println(s"""[streamneardup8] {"dropped_candidates":""" +
        s"""${m.droppedCandidates.value},"exhausted_bucket_triggers":""" +
        s"""${m.exhaustedBucketTriggers.value}}""")
      spark.stop()
      return
    }

    // --streamphases [q1,q2,...]: phase ledger for the streaming
    // replays (the Profile --bigram pattern applied to streaming) —
    // where does a replay's wall go: source addBatch work, state-store
    // update/commit, or checkpoint/WAL fsyncs? Durations come from the
    // engine's own StreamingQueryProgress events (a listener sums them
    // across micro-batches); for q_stream_neardup the in-operator
    // accumulators additionally split addBatch's stateful work into
    // the O(numHashes) signature walks vs the exact-Jaccard reranks
    // (-Dgraft.stream.ledger=true is set here so the graded shape
    // builds with ledger=true). Defaults to the three slowest sf10
    // sweep entries.
    if (args.contains("--streamphases")) {
      val qs = args.dropWhile(_ != "--streamphases").drop(1).headOption
        .filter(_.startsWith("q_")).map(_.split(",").toSeq)
        .getOrElse(Seq("q_stream_neardup",
          "q_stream_replication_recovery", "q_stream_sessions"))
      sys.props("graft.stream.ledger") = "true"
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import scala.jdk.CollectionConverters._
      val durations =
        new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val stateMs =
        new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val batches = new java.util.concurrent.atomic.AtomicLong()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          batches.incrementAndGet()
          e.progress.durationMs.asScala.foreach { case (k, v) =>
            durations.merge(k, v.longValue(), (a, b) => a + b): Unit
          }
          e.progress.stateOperators.foreach { so =>
            stateMs.merge("state_update_ms", so.allUpdatesTimeMs, _ + _)
            stateMs.merge("state_removal_ms", so.allRemovalsTimeMs, _ + _)
            stateMs.merge("state_commit_ms", so.commitTimeMs, _ + _)
            stateMs.put("state_rows_final", so.numRowsTotal): Unit
          }
        }
      }
      spark.streams.addListener(listener)
      for (q <- qs) {
        durations.clear(); stateMs.clear(); batches.set(0L)
        time(q)(SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.toRdd.count())
        // progress events ride the async listener bus; drain briefly
        Thread.sleep(2000)
        val opSplit =
          if (q == "q_stream_neardup")
            graft.streaming.StreamNearDup.emissionMetrics().map { m =>
              f""","sig_walk_s":${m.sigWalkNanos.value / 1e9}%.1f""" +
                f""","rerank_s":${m.rerankNanos.value / 1e9}%.1f""" +
                s""","dropped_candidates":${m.droppedCandidates.value}"""
            }.getOrElse("")
          else ""
        val dur = durations.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s""""${k}_ms":$v""" }.mkString(",")
        val st = stateMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        println(s"""[streamphases] {"query":"$q","batches":${batches.get}""" +
          (if (dur.nonEmpty) s",$dur" else "") +
          (if (st.nonEmpty) s",$st" else "") + opSplit + "}")
      }
      spark.stop()
      return
    }

    // --tokens: does the whitespace tokens() HOF chain (split +
    // filter) cost enough per corpus pass to justify a native twin of
    // BpeishTokens? Compares the two full-corpus passes head-to-head
    // plus the hottest whitespace consumer (qualityMetrics).
    if (args.contains("--tokens")) {
      import graft.functions.TextAnalysis
      for (_ <- 1 to 2) {
        time("whitespace tokens() pass") {
          docs.select(sum(size(TextAnalysis.tokens(col("text"))))
            .cast("long")).head.getLong(0)
        }
        time("bpeish native pass") {
          docs.select(sum(size(TextAnalysis.bpeishTokens(col("text"))))
            .cast("long")).head.getLong(0)
        }
        time("qualityMetrics pass") {
          docs.select(col("doc_id"),
            TextAnalysis.qualityMetrics(col("text")).as("q"))
            .queryExecution.toRdd.count()
        }
        // qualityMetrics component attribution
        time("punct regexp_replace pass") {
          docs.select(sum(length(regexp_replace(col("text"),
            "[^!-/:-@\\[-`{-~]", ""))).cast("long")).head.getLong(0)
        }
        time("stopword HOF-isin pass") {
          docs.select(sum(size(filter(
            TextAnalysis.bpeishTokens(col("text")),
            t => t.isin(TextAnalysis.stopwords("en"): _*))))
            .cast("long")).head.getLong(0)
        }
      }
      spark.stop()
      return
    }

    // --bigram: phase ledger for the graded q_bigram_lm shape —
    // where does the wall go on a saturated corpus: the tokenize +
    // hash + unigram count pass, the doc-local bigram frequency
    // reduction (the one corpus-sized shuffle left after the
    // xxhash64 key change), or the count joins + per-doc micro sum?
    if (args.contains("--bigram")) {
      import graft.functions.TextAnalysis
      val d = docs.select(col("doc_id"), col("text"))
      time("phase0 tokenize_only (legacy transform+xxhash64)") {
        d.select(transform(TextAnalysis.bpeishTokens(col("text")),
            t => xxhash64(t)).as("tk"))
          .select(sum(size(col("tk"))).cast("long")).head.getLong(0)
      }
      time("phase0b tokenize_only (fused HashedBpeishTokens)") {
        d.select(graft.plans.HashedBpeishTokens(col("text")).as("tk"))
          .select(sum(size(col("tk"))).cast("long")).head.getLong(0)
      }
      time("full bigramLogProb") {
        TextAnalysis.bigramLogProb(d, col("doc_id"), col("text")).count()
      }
      spark.stop()
      return
    }

    // --semdedup: phase ledger for the graded q_semdedup shape —
    // where does the wall go at scale: the IVF index build (Lloyd
    // rounds + final assignment), the within-cluster exact pair
    // graph (the published recipe's deliberate nlist x (n/nlist)^2
    // quadratic), or the transitive closure? Prints the exact
    // candidate-pair bound (sum C(cluster,2)) alongside, candstats
    // style, so the quadratic's price is a measured number.
    if (args.contains("--semdedup")) {
      import graft.functions.{Dedup, Ivf, Similarity}
      val base = Graft.table(spark, sfDir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("cv"))
      val corpus = base.unionByName(base.select(
        (col("vec_id") + lit(1000000L)).as("vec_id"), col("cv")))
      val nlist = math.max(8L, 2L * base.count() / 8192L).toInt
      var indexed: org.apache.spark.sql.DataFrame = null
      time(s"phase1 ivf_index nlist=$nlist") {
        indexed = Ivf.index(corpus, col("vec_id"), col("cv"),
          nlist, 2)._1.localCheckpoint()
        indexed.count()
      }
      val bound = indexed.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2).cast("long"))
        .head.getLong(0)
      println(s"""[semdedup] {"candidate_pair_bound":$bound,"nlist":$nlist}""")
      var pairs: org.apache.spark.sql.DataFrame = null
      time("phase2 within_cluster_pairs") {
        val a = indexed.select(col("cluster"), col("vec_id").as("id_a"),
          col("v").as("va"))
        val b = indexed.select(col("cluster"), col("vec_id").as("id_b"),
          col("v").as("vb"))
        pairs = a.join(b, Seq("cluster"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("__cos", Similarity.cosine(col("va"), col("vb")))
          .filter(col("__cos") >= 0.98 - 1e-4)
          .withColumn("cos", round(col("__cos"), 4))
          .filter(col("cos") >= 0.98)
          .select(col("id_a"), col("id_b"))
          .localCheckpoint()
        pairs.count()
      }
      time("phase3 closure_and_keep") {
        val drops = Dedup.connectedComponents(pairs)
          .filter(col("doc_id") =!= col("class_rep"))
          .select(col("doc_id").as("vec_id"))
        indexed.select(col("vec_id"))
          .join(drops, Seq("vec_id"), "left_anti").count()
      }
      spark.stop()
      return
    }

    // --guard: incremental cost of the maxCandidates pre-flight
    // (pin + bound aggregation) vs the unguarded lazy path, per pair
    // operator, warm, alternating
    if (args.contains("--guard")) {
      def pairs(guarded: Boolean): Unit = {
        val mc = if (guarded) 2_000_000_000L else 0L
        val tag = if (guarded) "guarded" else "unguarded"
        time(s"ngramJaccard $tag")(Dedup.ngramJaccardPairs(docs,
          col("doc_id"), col("text"), 3, 0.5, maxCandidates = mc).count())
        time(s"containment $tag")(Dedup.containmentPairs(docs,
          col("doc_id"), col("text"), 3, 0.5, maxCandidates = mc).count())
        time(s"prefixJaccard $tag")(Dedup.prefixJaccardPairs(docs,
          col("doc_id"), col("text"), 3, 0.5, maxCandidates = mc).count())
      }
      pairs(guarded = true) // warm JIT/codegen on the guarded shapes
      (1 to 2).foreach { _ =>
        pairs(guarded = true)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        pairs(guarded = false)
        spark.catalog.clearCache()
      }
      spark.stop()
      return
    }

    // --statestore (keys via SPARK_GRAFT_SS_KEYS, default 10M): the
    // streaming state-backend scale point —
    // StreamDedup over an N-unique-key replay (8 micro-batches,
    // fingerprint-shaped 32-char keys: the graded pattern holds
    // digests, never documents) under the heap-backed default vs the
    // RocksDB provider. Reports wall, state rows, the provider's own
    // memory accounting, and post-GC JVM heap — the number that
    // shows WHERE the state lives. Restrict with --heap / --rocksdb
    // (so a constrained-heap run can demonstrate the heap provider's
    // ceiling without killing the RocksDB leg with it).
    if (args.contains("--statestore")) {
      val keys = sys.env.getOrElse("SPARK_GRAFT_SS_KEYS",
        "10000000").toLong
      val providers =
        if (args.contains("--heap")) Seq("heap")
        else if (args.contains("--rocksdb")) Seq("rocksdb")
        else Seq("heap", "rocksdb")
      val replay = Replay.unordered(spark, spark.range(keys).select(
        expr("timestamp '2026-01-01 00:00:00'").as("ts"),
        md5(col("id").cast("string")).as("k")))
      providers.foreach { p =>
        graft.streaming.StateBackend.withProvider(spark, p) {
          val dd = graft.streaming.StreamDedup.withinWatermark(
            replay.stream, "ts", "3650 days", Seq("k"))
          val t0 = System.nanoTime()
          val q = dd.writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", s"${replay.checkpoint}/$p").start()
          try {
            q.processAllAvailable()
            val wall = (System.nanoTime() - t0) / 1e9
            System.gc(); Thread.sleep(500); System.gc()
            val heapMb = (Runtime.getRuntime.totalMemory() -
              Runtime.getRuntime.freeMemory()) >> 20
            val s0 = q.lastProgress.stateOperators.head
            import scala.jdk.CollectionConverters._
            val custom = s0.customMetrics.asScala.collect {
              case (k, v) if k.toLowerCase.contains("memory") ||
                k.contains("SstFileSize") => s""""$k":$v"""
            }.mkString("{", ",", "}")
            println(s"""[statestore] {"provider":"$p","keys":$keys,""" +
              s""""wall_s":${math.rint(wall * 10) / 10},""" +
              s""""state_rows":${s0.numRowsTotal},""" +
              s""""state_mem_bytes":${s0.memoryUsedBytes},""" +
              s""""post_gc_heap_mb":$heapMb,"custom":$custom}""")
          } finally q.stop()
        }
      }
      spark.stop()
      return
    }

    // --scale10: 10x the corpus (salted ids) to spot-check that the
    // near-dup pipelines scale ~linearly, not quadratically
    if (args.contains("--scale10")) {
      val docs10 = (0 until 10).map { i =>
        docs.select((col("doc_id") + lit(i * 1000000)).as("doc_id"), col("text"))
      }.reduce(_.unionByName(_))
      time("minhash full 10x")(Dedup.minhashNearDups(docs10, col("doc_id"),
        col("text"), bands = 16, threshold = 0.5).count())
      time("ngram jaccard 10x")(Dedup.ngramJaccardPairs(docs10, col("doc_id"),
        col("text"), 3, 0.5).count())
      time("simhash full 10x")(Dedup.simhashNearDups(docs10, col("doc_id"),
        col("text"), 4).count())
      time("simhash witness 10x")(Dedup.simhashValidate(docs10, col("doc_id"),
        col("text"), 4).count())
      val emb = Graft.table(spark, sfDir, "embeddings")
      val emb10 = (0 until 10).map { i =>
        emb.select((col("vec_id") + lit(i * 1000000)).as("vec_id"),
          col("embedding"))
      }.reduce(_.unionByName(_))
      time("embed banded neardup 10x")(graft.functions.Similarity
        .embeddingNearDups(emb10, col("vec_id"), col("embedding"),
          threshold = 0.95).count())
      spark.stop()
      return
    }

    // --lsh: the PRODUCTION banded-LSH operating point standalone at
    // corpus scale (the graded q_minhash_banded pays for an exact
    // witness; this measures the operator alone): a Generate-seeded
    // corpus with planted near-dups, minhashNearDups at r=2
    // (bands=8 of 16 hashes) vs r=1 (bands=16) — candidate mass,
    // recall of r=2 against the r=1-derived truth set (r=1 + exact
    // rerank misses a J>=0.5 pair with P=(1-J)^16 <= 1.5e-5), and
    // wall time per leg. Docs dialed by SPARK_GRAFT_LSH_DOCS
    // (default 500k -> ~50k planted pairs).
    if (args.contains("--lsh")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_LSH_DOCS", "500000").toLong
      val base = graft.sources.Generate.randomText(spark, n,
        minWords = 25, maxWords = 35, vocab = 50000, seed = 7L,
        numPartitions = 32, portable = false)
      // planted near-dups: every 10th doc gets a copy (id + 10^9)
      // with every 15th word mutated -> ~2-3 of ~30 words differ,
      // exact 3-gram Jaccard lands ~0.5-0.7 (the near-dup band)
      val mutated = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            (w, i) => when(pmod(i, lit(15)) === 0, concat(lit("zz"), w))
              .otherwise(w)), " ").as("text"))
      val corpus = base.unionByName(mutated).localCheckpoint()
      println(s"[profile] lsh corpus: ${corpus.count()} docs " +
        s"($n base + planted copies)")
      import graft.functions.Dedup
      val sigs = Dedup.minhashSignature(corpus, col("doc_id"),
        col("text"), shingleN = 3, numHashes = 16).localCheckpoint()
      for (bands <- Seq(16, 8)) {
        val r = 16 / bands
        time(s"lsh candidates r=$r")(
          Dedup.lshCandidates(sigs, bands).count())
      }
      def pairs(bands: Int) = Dedup.minhashNearDups(corpus,
        col("doc_id"), col("text"), shingleN = 3, numHashes = 16,
        bands = bands, threshold = 0.5)
      val truth = pairs(16).localCheckpoint()
      time("neardups r=1 (truth)")(truth.count())
      val r2 = pairs(8).localCheckpoint()
      time("neardups r=2 (production)")(r2.count())
      val hit = truth.join(r2, Seq("id_a", "id_b"), "left_semi").count()
      val tot = truth.count()
      println(f"[profile] r=2 recall vs r=1 truth: $hit/$tot " +
        f"(${hit.toDouble / math.max(tot, 1)}%.4f)")
      val planted = truth.filter(col("id_b") === col("id_a")
        + 1000000000L).count()
      val plantedR2 = r2.filter(col("id_b") === col("id_a")
        + 1000000000L).count()
      println(s"[profile] planted pairs in truth: $planted; " +
        s"found by r=2: $plantedR2")
      // BOILERPLATE leg — the round-9 saturation regime: every doc
      // shares a fixed 12-word preamble (crawl boilerplate), so
      // single min values collide corpus-wide. r=1 buckets then
      // blow past maxBucket and the guard DROPS them (recall dies
      // loudly in the observed metric); r=2 keys on PAIRS of mins
      // and stays selective. This is the measured case for why
      // bands=8 of 16 is the production operating point.
      val boiler = "hm0 hm1 hm2 hm3 hm4 hm5 hm6 hm7 hm8 hm9 hm10 hm11"
      val bcorp = corpus.select(col("doc_id"),
        concat(lit(boiler + " "), col("text")).as("text"))
        .localCheckpoint()
      val bsigs = Dedup.minhashSignature(bcorp, col("doc_id"),
        col("text"), shingleN = 3, numHashes = 16).localCheckpoint()
      for (bands <- Seq(16, 8)) {
        val r = 16 / bands
        time(s"boiler candidates r=$r")(
          Dedup.lshCandidates(bsigs, bands).count())
      }
      def bpairs(bands: Int) = Dedup.minhashNearDups(bcorp,
        col("doc_id"), col("text"), shingleN = 3, numHashes = 16,
        bands = bands, threshold = 0.5)
      val b1 = bpairs(16).localCheckpoint()
      time("boiler neardups r=1")(b1.count())
      val b2 = bpairs(8).localCheckpoint()
      time("boiler neardups r=2")(b2.count())
      val bp1 = b1.filter(col("id_b") === col("id_a") + 1000000000L)
        .count()
      val bp2 = b2.filter(col("id_b") === col("id_a") + 1000000000L)
        .count()
      println(s"[profile] boiler planted found: r=1 $bp1, r=2 $bp2 " +
        s"of $planted (boilerplate raises true J, so both should " +
        "find >= the clean corpus' counts UNLESS buckets saturate)")
      spark.stop()
      return
    }

    // --bpe: the iterative trainer's per-round cost at scale (the
    // graded query covers only round 0's statistic)
    if (args.contains("--bpe")) {
      import graft.functions.Bpe
      time("bpe pairCounts")(Bpe.pairCounts(docs, col("text")).count())
      time("bpe train n=8")(Bpe.train(docs, col("text"), 8).count())
      spark.stop()
      return
    }

    // --cms: portable (md5) vs fast (xxhash64) sketch build over the
    // corpus word stream — the hash is the whole cost at scale
    if (args.contains("--cms")) {
      import graft.functions.Sketches
      val words = docs
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      for (_ <- 1 to 2) {
        time("cms md5 portable")(Sketches.cmsTable(words, col("w"),
          depth = 4, width = 64).count())
        time("cms xxhash64 fast")(Sketches.cmsTable(words, col("w"),
          depth = 4, width = 64, portable = false).count())
      }
      spark.stop()
      return
    }

    // --langid: per-row HOF-filter scoring vs an explode+agg twin
    if (args.contains("--langid")) {
      import graft.functions.TextAnalysis
      for (_ <- 1 to 2) {
        time("langid current")(docs.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("pred"))
          .queryExecution.toRdd.count())
        // prototype: one tokenize, explode, conditional-count agg
        val langs = Seq("en", "de", "es", "fr")
        val tok = docs.select(col("doc_id"),
          explode(TextAnalysis.bpeishTokens(col("text"))).as("tk"))
        val agg = tok.groupBy(col("doc_id")).agg(
          langs.map(l => sum(when(col("tk")
            .isin(TextAnalysis.stopwords(l): _*), 1L).otherwise(0L))
            .as(s"s_$l")).head,
          langs.map(l => sum(when(col("tk")
            .isin(TextAnalysis.stopwords(l): _*), 1L).otherwise(0L))
            .as(s"s_$l")).tail: _*)
        time("langid explode+agg")(agg.queryExecution.toRdd.count())
        // prototype: tokenize once, ONE interpreted fold accumulating
        // all four counts (still narrow/shuffle-free)
        val folded = docs.select(col("doc_id"),
          aggregate(TextAnalysis.bpeishTokens(col("text")),
            struct(langs.map(l => lit(0L).as(l)): _*),
            (acc, t) => struct(langs.map(l =>
              (acc.getField(l) + when(t.isin(
                TextAnalysis.stopwords(l): _*), 1L).otherwise(0L)).as(l)): _*))
            .as("scores"))
        time("langid single fold")(folded.queryExecution.toRdd.count())
        time("quality metrics")(docs.select(col("doc_id"),
          TextAnalysis.qualityMetrics(col("text")).as("q"))
          .queryExecution.toRdd.count())
        // the pre-round-7 form (unbound nToks: re-tokenizes per field)
        val toksOld = TextAnalysis.tokens(col("text"))
        val nToksOld = size(toksOld)
        val nCharsOld = length(col("text"))
        val punctOld = length(regexp_replace(col("text"),
          "[^!-/:-@\\[-`{-~]", ""))
        val nStopOld = size(filter(TextAnalysis.bpeishTokens(col("text")),
          t => t.isin(TextAnalysis.stopwords("en"): _*)))
        time("quality metrics unbound")(docs.select(col("doc_id"), struct(
            nCharsOld.as("n_chars"), nToksOld.as("n_tokens"),
            round(nCharsOld.cast("double") / greatest(nToksOld, lit(1)), 4)
              .as("chars_per_token"),
            round(punctOld.cast("double") / greatest(nCharsOld, lit(1)), 4)
              .as("punct_ratio"),
            round(nStopOld.cast("double") / greatest(nToksOld, lit(1)), 4)
              .as("stopword_ratio")).as("q"))
          .queryExecution.toRdd.count())
      }
      spark.stop()
      return
    }

    // --overhead: attribute the round-7 flat per-query bench delta.
    // Times cheap queries under the protocol matrix — round-6 form
    // (Dataset.count), round-7 form (toRdd.count), and toRdd with the
    // per-pass System.gc() toggled — so the +0.1-0.2 s shows up as
    // either (a) the strictly-harder toRdd protocol, (b) the forced
    // full GC, or (c) neither (machine band).
    if (args.contains("--overhead")) {
      val names = Seq("q_regex_filter", "q_join_inner", "q_sample_hash")
      def medianOf(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      def run(name: String, gc: Boolean, toRdd: Boolean): Double =
        medianOf((1 to 7).map { _ =>
          spark.catalog.clearCache()
          if (gc) System.gc()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (toRdd) df.queryExecution.toRdd.count() else df.count()
          (System.nanoTime() - t0) / 1e9
        })
      // one throwaway warm pass per query so JIT/codegen is identical
      // across the matrix cells
      names.foreach(n => run(n, gc = false, toRdd = true))
      for (n <- names) {
        val r7 = run(n, gc = true, toRdd = true)
        val noGc = run(n, gc = false, toRdd = true)
        val r6 = run(n, gc = true, toRdd = false)
        val r6noGc = run(n, gc = false, toRdd = false)
        println(f"[overhead] $n%-16s r7(gc+toRdd)=$r7%6.3f  toRdd=$noGc%6.3f  gc+count=$r6%6.3f  count=$r6noGc%6.3f")
      }
      spark.stop()
      return
    }

    // --cc: the transitive-closure queries (pointer-doubling kernel
    // check) under the bench protocol
    if (args.contains("--cc")) {
      for (qn <- Seq("q_dedup_classes", "q_pipeline_neardup"); _ <- 1 to 2)
        time(qn)(SparkEntry.queries(qn)(spark, sfDir)
          .queryExecution.toRdd.count())
      spark.stop()
      return
    }

    // --ccalt: distributed closure kernels head-to-head on a
    // synthetic graph big enough that per-round join volume matters
    // (the graded corpora route to the small-graph fast path):
    // 50k chains of length 16 (deep: pointer-doubling's case) +
    // 200k star pairs (shallow: converge round 2 — frontier's case).
    // Both kernels produce identical labels (FuzzSpec); this times
    // pointer-doubling full-propagation vs frontier change-propagation.
    if (args.contains("--ccalt")) {
      val chains = spark.range(800000L)
        .selectExpr("id AS id_a", "id + 1 AS id_b")
        .where("id % 16 <> 15")
      val stars = spark.range(1000000L, 1400000L, 2)
        .selectExpr("id AS id_a", "id + 1 AS id_b")
      val pairs = chains.union(stars)
      for (frontier <- Seq(false, true, false, true)) {
        val tag = if (frontier) "cc-frontier" else "cc-doubling"
        time(tag)(Dedup.connectedComponentsDistributed(
            pairs.localCheckpoint(), maxIters = 30, frontier = frontier)
          .queryExecution.toRdd.count())
      }
      spark.stop()
      return
    }

    // --prefix: inverted-index exact Jaccard vs prefix-filtered exact
    // Jaccard across thresholds (same output set at each t) — the
    // candidate-pruning payoff scales as (1-t), so the gap should
    // widen as the threshold rises
    if (args.contains("--prefix")) {
      for (th <- Seq(0.5, 0.7, 0.9); _ <- 1 to 2) {
        time(f"ngram  jaccard t=$th%.1f")(Dedup.ngramJaccardPairs(docs,
          col("doc_id"), col("text"), 3, th).count())
        time(f"prefix jaccard t=$th%.1f")(Dedup.prefixJaccardPairs(docs,
          col("doc_id"), col("text"), 3, th).count())
      }
      spark.stop()
      return
    }

    // --containment: df-capped inverted-index containment vs the
    // min-side-prefix exact form across thresholds (outputs agree
    // wherever the cap doesn't bite; the prefix form is the exact
    // superset where it does)
    if (args.contains("--containment")) {
      for (th <- Seq(0.5, 0.7, 0.9); _ <- 1 to 2) {
        // routeThreshold = 2.0 pins the inverted-index general form
        // (the default would route t >= 0.7 to the prefix plan and
        // make this A/B vacuous)
        time(f"inv    containment t=$th%.1f")(Dedup.containmentPairs(docs,
          col("doc_id"), col("text"), 3, th, routeThreshold = 2.0).count())
        time(f"prefix containment t=$th%.1f")(Dedup.prefixContainmentPairs(
          docs, col("doc_id"), col("text"), 3, th).count())
      }
      spark.stop()
      return
    }

    // --candstats: candidate-POPULATION accounting for the exact
    // near-dup family, computed entirely with aggregations (no pair
    // explosion — safe on corpora where the pair joins themselves
    // are infeasible). Explains WHERE a candidate blowup comes from:
    // the df distribution (is anything rare?) and the resulting
    // Σ C(group,2) bounds per blocking scheme.
    def candStats(corpus: org.apache.spark.sql.DataFrame): Unit = {
      val inv = corpus
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(Dedup.shinglesRaw(col("text"), 3)).as("s0"))
        .select(col("doc_id"), xxhash64(col("s0")).as("s"))
        .dropDuplicates("doc_id", "s")
        .localCheckpoint()
      val nDocs = inv.select(countDistinct(col("doc_id"))).first().getLong(0)
      val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .localCheckpoint()
      val stats = dfreq.agg(count(lit(1)).as("distinct_shingles"),
        expr("percentile_approx(df, array(0.5, 0.9, 0.99), 10000)").as("q"),
        max(col("df")).as("max_df"), min(col("df")).as("min_df")).first()
      println(s"[candstats] docs=$nDocs distinct_shingles=${stats.getLong(0)} " +
        s"df_p50_p90_p99=${stats.getSeq[Long](1).mkString("/")} " +
        s"df_min=${stats.get(3)} df_max=${stats.get(2)}")
      val withN = inv.withColumn("n_sh", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))).cast("int"))
      for (t <- Seq(0.5, 0.8, 0.9)) {
        val prefix = withN.join(dfreq, "s")
          .withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
              .orderBy(col("df"), col("s"))))
          .filter(col("__rk") <=
            col("n_sh") - ceil(lit(t) * col("n_sh") - lit(1e-9)) + 1)
        val g = prefix.groupBy(col("s")).agg(count(lit(1)).as("c"),
          first(col("df")).as("df"))
        val r = g.agg(
          sum(col("c") * (col("c") - 1) / 2).as("jaccard_cand_rows"),
          sum(col("c") * (col("df") - 1)).as("containment_cand_rows"),
          count(lit(1)).as("prefix_shingles")).first()
        println(f"[candstats] t=$t%.1f prefix_shingles=${r.get(2)} " +
          s"prefixJaccard_cand_rows=${r.get(0)} " +
          s"containment_prefixXfull_rows=${r.get(1)}")
      }
      val sig = Dedup.minhashSignature(corpus, col("doc_id"), col("text"),
        3, 16).localCheckpoint()
      for (bands <- Seq(16, 8, 4)) {
        val rows = 16 / bands
        val banded = sig.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))))
          .toDF("doc_id", "band", "bucket")
        val c = banded.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * (col("c") - 1) / 2)).first().get(0)
        println(s"[candstats] minhash k=16 bands=$bands r=$rows " +
          s"cand_rows=$c")
      }
    }

    if (args.contains("--candstats")) {
      candStats(docs)
      spark.stop()
      return
    }

    // --maintenance: time the table-maintenance operators on a
    // scratch copy of this sf's customer table — small-file
    // compaction over a fragmented partitioned layout, and
    // delete-by-key against a bloom-filtered layout (hit-scan
    // pruning + O(hit files) rewrite + idempotent re-run)
    if (args.contains("--maintenance")) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-maint")
        .toString
      val cust = Graft.table(spark, sfDir, "customer")
      val nCust = cust.count()
      println(s"[maintenance] customer rows = $nCust")
      val frag = s"$tmp/frag"
      cust.repartition(64)
        .write.partitionBy("c_mktsegment").parquet(frag)
      time("compact fragmented 5x64") {
        val r = graft.sources.Compaction.compact(spark, frag)
        val rewrote = r.filter(col("rewritten")).count()
        println(s"[maintenance] " + r.collect().mkString(" "))
        rewrote
      }
      time("compact idempotent re-run")(
        graft.sources.Compaction.compact(spark, frag)
          .filter(col("rewritten")).count())
      val bloomed = s"$tmp/bloomed"
      cust.write
        .option("parquet.bloom.filter.enabled#c_custkey", "true")
        .option("maxRecordsPerFile", math.max(1L, nCust / 64).toString)
        .parquet(bloomed)
      val keys: Seq[Any] = Seq(7L, 77777L, 777777L)
      time("deleteKeys 3 keys") {
        val r = graft.sources.Redaction.deleteKeys(spark, bloomed,
          "c_custkey", keys)
        println(s"[maintenance] " + r.collect().mkString(" "))
        r.count()
      }
      time("deleteKeys idempotent re-run")(
        graft.sources.Redaction.deleteKeys(spark, bloomed,
          "c_custkey", keys).count())
      spark.stop()
      return
    }

    // --blockingstats: time the PRODUCT pre-flight diagnostic
    // (Dedup.blockingStats — string-ranked, engine-recomputable) on
    // this corpus; the operator form of --candstats' accounting.
    if (args.contains("--blockingstats")) {
      for (_ <- 1 to 2)
        time("blockingStats 0.5/0.8/0.9") {
          val rs = Dedup.blockingStats(docs, col("doc_id"), col("text"),
            shingleN = 3, thresholds = Seq(0.5, 0.8, 0.9)).collect()
          rs.foreach(r => println(s"[blockingstats] $r"))
          rs.length.toLong
        }
      spark.stop()
      return
    }

    // --zipf [nDocs]: the same near-dup operators at sf10-scale doc
    // COUNTS but with a realistically heavy-tailed (log-uniform ≈
    // zipf s=1) 50k-word vocabulary — the regime real corpora are in,
    // where prefix filtering has rare shingles to key on. The graded
    // synthetic fixture's 31-word vocabulary saturates every blocking
    // scheme by construction (df_min ≈ corpus/30k); this mode is the
    // evidence that the SAME plans collapse back to near-linear when
    // df is heavy-tailed. 10% of docs are planted near-dups of their
    // decade head (16 of 160 words dropped → J ≈ 0.9).
    if (args.contains("--zipf")) {
      val nDocs = args.dropWhile(_ != "--zipf").drop(1).headOption
        .filter(_.forall(_.isDigit)).map(_.toLong).getOrElse(500000L)
      val lnV = math.log(50000.0)
      val base = spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % 10 === 9, col("id") - 9).otherwise(col("id")).as("seed"),
        when(col("id") % 10 === 9, lit(144)).otherwise(lit(160)).as("len"))
      val corpus = base.select(col("doc_id"),
        array_join(transform(sequence(lit(1), col("len")),
          i => concat(lit("w"), floor(exp(
            (pmod(xxhash64(col("seed"), i), lit(1000000L)).cast("double") /
              lit(1000000.0)) * lit(lnV))).cast("long"))), " ").as("text"))
        .localCheckpoint()
      println(s"[zipf] corpus ready: ${corpus.count()} docs")
      candStats(corpus)
      for (t <- Seq(0.9, 0.5)) {
        time(f"zipf prefixJaccard t=$t%.1f")(Dedup.prefixJaccardPairs(corpus,
          col("doc_id"), col("text"), 3, t).count())
      }
      time("zipf containment t=0.8")(Dedup.containmentPairs(corpus,
        col("doc_id"), col("text"), 3, 0.8).count())
      // 16/16 (r=1, the graded oracle-parity banding) is measured by
      // candStats only: r=1 candidates ≈ hashes·E[J]·C(n,2) — linear
      // in pair COUNT on every corpus with any stopword sharing, so
      // it stops being runnable around 10^5 docs regardless of vocab
      // shape. b=8 (r=2) is the production S-curve: J=0.5 recall 90%,
      // J>=0.9 recall 1 - (1-0.81)^8 ≈ 0.999998.
      time("zipf minhash 16/8 t=0.5")(Dedup.minhashNearDups(corpus,
        col("doc_id"), col("text"), 3, 16, 8, 0.5).count())
      spark.stop()
      return
    }

    // --minhash8: MinHash near-dup end-to-end under the PRODUCTION
    // S-curve banding (k=16, b=8, r=2) — the configuration that
    // remains feasible when r=1 (the graded oracle-parity banding)
    // saturates; see --candstats for the candidate-count contrast.
    // --pairphases: where does a guarded exact-pair call spend its
    // wall? Times the guarded default (eager: pins + pre-flight gate
    // + final plan) against maxCandidates = 0 (fully lazy, ONE
    // execution, no pins/gates) for the two prefix-routed operators —
    // the delta IS the guard protocol's overhead at this scale.
    if (args.contains("--pairphases")) {
      for (_ <- 1 to 2) {
        time("prefixJaccard guarded t=.5")(Dedup.prefixJaccardPairs(docs,
          col("doc_id"), col("text"), 3, 0.5).count())
        time("prefixJaccard lazy    t=.5")(Dedup.prefixJaccardPairs(docs,
          col("doc_id"), col("text"), 3, 0.5, maxCandidates = 0L).count())
        time("containPrefix guarded t=.8")(Dedup.prefixContainmentPairs(
          docs, col("doc_id"), col("text"), 3, 0.8).count())
        time("containPrefix lazy    t=.8")(Dedup.prefixContainmentPairs(
          docs, col("doc_id"), col("text"), 3, 0.8,
          maxCandidates = 0L).count())
        time("inv jaccard guarded  t=.4")(Dedup.ngramJaccardPairs(docs,
          col("doc_id"), col("text"), 3, 0.4).count())
        time("inv jaccard lazy     t=.4")(Dedup.ngramJaccardPairs(docs,
          col("doc_id"), col("text"), 3, 0.4, maxCandidates = 0L).count())
      }
      spark.stop()
      return
    }

    // --ivfpqphases: where does q_embed_ivfpq's wall go at a given sf?
    // Times each eager step of the graded pipeline separately.
    if (args.contains("--ivfpqphases")) {
      import graft.functions.{Ivf, IvfPq, Pq, Similarity}
      val e = Graft.table(spark, sfDir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val k = 5
      val overfetch = math.max(8L, e.count() / (25L * k)).toInt
      val u = e.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("vec_id"), col("embedding"))
      var ivfOut: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = null
      time("ivf.index (nlist=16, 1 iter)") {
        ivfOut = Ivf.index(e.select(col("vec_id"),
          col("embedding").as("uv")), col("vec_id"), col("uv"), 16, 1)
        ivfOut._2.count()
      }
      // replicate IvfPq.index step-by-step (same frames, same params)
      val uVec = {
        val v = transform(col("embedding"), x => x.cast("double"))
        val n2 = aggregate(v, lit(0.0), (acc, x) => acc + x * x)
        val inv = when(sqrt(n2) > 0.0, lit(1.0) / sqrt(n2))
          .otherwise(lit(0.0))
        zip_with(v, array_repeat(inv, size(v)), (x, s) => x * s)
      }
      val uN = e.filter(col("embedding").isNotNull)
        .select(col("vec_id"), uVec.as("uv"))
      var asg: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = null
      time("step1 ivf.index(unit)") {
        asg = Ivf.index(uN, col("vec_id"), col("uv"), 16, 1)
        asg._2.count()
      }
      time("step1b uN noop") {
        uN.write.format("noop").mode("overwrite").save(); 0L }
      time("step1c assigned noop") {
        asg._1.write.format("noop").mode("overwrite").save(); 0L }
      time("step1d resid-no-pin noop") {
        asg._1.join(broadcast(asg._2), Seq("cluster"))
          .select(col("vec_id"), col("cluster"),
            zip_with(col("v"), col("cv"), (x, c) => x - c).as("rv"))
          .write.format("noop").mode("overwrite").save(); 0L }
      time("step1e join only, rv=v") {
        val df = asg._1.join(broadcast(asg._2), Seq("cluster"))
          .select(col("vec_id"), col("cluster"), col("v").as("rv"))
        df.write.format("noop").mode("overwrite").save()
        println("[step1e plan]\n" + df.queryExecution.executedPlan
          .toString.take(6000)); 0L }
      time("step1f zipwith v,v no join") {
        asg._1.select(col("vec_id"), col("cluster"),
            zip_with(col("v"), col("v"), (x, c) => x - c).as("rv"))
          .write.format("noop").mode("overwrite").save(); 0L }
      time("step1g barrier+join+zip") {
        asg._1.repartition(col("vec_id"))
          .join(broadcast(asg._2), Seq("cluster"))
          .select(col("vec_id"), col("cluster"),
            zip_with(col("v"), col("cv"), (x, c) => x - c).as("rv"))
          .write.format("noop").mode("overwrite").save(); 0L }
      var resid: org.apache.spark.sql.DataFrame = null
      time("step2 resid pin") {
        resid = asg._1.join(broadcast(asg._2), Seq("cluster"))
          .select(col("vec_id"), col("cluster"),
            zip_with(col("v"), col("cv"), (x, c) => x - c).as("rv"))
          .localCheckpoint()
        0L
      }
      var cb: org.apache.spark.sql.DataFrame = null
      time("step3 pq.train resid") {
        cb = Pq.train(resid, col("vec_id"), col("rv"), 16, 16,
          iters = 2, normalize = false)
        cb.count()
      }
      time("step4 encode+pin") {
        Pq.encode(resid, col("vec_id"), col("rv"), cb, 16,
          normalize = false).localCheckpoint().count()
      }
      var full: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = null
      time("ivfpq.index full") {
        full = IvfPq.index(e, col("vec_id"), col("embedding"),
          nlist = 16, m = 16, ksub = 16)
        full._1.count()
      }
      time("ivfpq.topK probe") {
        IvfPq.topK(full._1, full._2, full._3, e, col("vec_id"),
          col("embedding"), queries, col("vec_id"), col("embedding"),
          k = k, m = 16, ksub = 16, nprobe = 8,
          overfetch = overfetch).count()
      }
      time("bruteForceTopK") {
        Similarity.bruteForceTopK(e, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = k).count()
      }
      u.count(): Unit
      spark.stop()
      return
    }

    if (args.contains("--minhash8")) {
      for (_ <- 1 to 2)
        time("minhash 16/8 t=0.5")(Dedup.minhashNearDups(docs,
          col("doc_id"), col("text"), 3, 16, 8, 0.5).count())
      spark.stop()
      return
    }

    // --pentomino [depth]: the reference's actual published search
    // workload — the ONE-SIDED 9x10 pentomino DistributedPentomino
    // solves by default ("takes about 2.5 hours on 20 nodes with
    // 2 cpus/node", DistributedPentomino.java:150-152, depth 5 /
    // 2000 maps). Measures driver-side split wall, prefix count, and
    // the distributed solve wall + solution count on local[cpus].
    if (args.contains("--pentomino")) {
      val depth = args.dropWhile(_ != "--pentomino").drop(1).headOption
        .filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(4)
      val spec = graft.operators.PentominoSpec(9, 10, oneSided = true)
      time(s"9x10 one-sided split depth=$depth")(
        spec.build().split(depth).size.toLong)
      val sols = graft.operators.Search.pentominoSolutions(
        spark, 9, 10, oneSided = true, depth = depth)
      time("9x10 one-sided distributed solve")(sols.count())
      spark.stop()
      return
    }

    // --sweep: bucketed range join vs boundary-counting sweep on the
    // same graded count-active-sessions workload (Bench's toRdd
    // protocol so Catalyst can't prune either plan's work)
    if (args.contains("--sweep")) {
      for (q <- Seq("q_range_join", "q_active_count"); _ <- 1 to 2)
        time(q)(SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.toRdd.count())
      spark.stop()
      return
    }

    time("shingles explode")(docs.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), 3)).as("s")).count())
    val sig = Dedup.minhashSignature(docs, col("doc_id"), col("text"))
    time("minhash signatures")(sig.count())
    val cands = Dedup.lshCandidates(sig, bands = 16)
    time("lsh candidates")(cands.count())
    time("lsh candidates b=32")(Dedup.lshCandidates(sig, bands = 32).count())
    time("minhash full")(Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
      bands = 16, threshold = 0.5).count())
    time("minhash full b=32")(Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
      bands = 32, threshold = 0.5).count())
    val sig16 = Dedup.minhashSignature(docs, col("doc_id"), col("text"), 3, 16)
    time("minhash sig k=16")(sig16.count())
    time("lsh candidates k=16 b=16")(Dedup.lshCandidates(sig16, bands = 16).count())
    time("minhash full 16/16 (graded)")(Dedup.minhashNearDups(docs, col("doc_id"),
      col("text"), 3, 16, 16, 0.5).count())
    time("ngram jaccard full")(Dedup.ngramJaccardPairs(docs, col("doc_id"),
      col("text"), 3, 0.5).count())
    time("simhash sigs")(Dedup.simhashSignatures(docs, col("doc_id"), col("text")).count())
    time("simhash full")(Dedup.simhashNearDups(docs, col("doc_id"), col("text"), 12).count())
    spark.stop()
  }
}
