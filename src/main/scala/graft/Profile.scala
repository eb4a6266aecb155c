package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool with two modes:
  *  - `--statestore [--heap | --rocksdb]`: the streaming state-backend
  *    scale point, [[stateStore]] at [[StateStoreKeys]] keys on both
  *    providers or the one named (`tools/rocksdb_soak.sh` runs the
  *    rocksdb leg);
  *  - `--streamphases [q_a,q_b,...] [sfDir]`: where a streaming
  *    replay's wall goes, micro-batch phase by phase.
  */
object Profile {

  val Usage = "usage: graft.Profile --statestore [--heap | --rocksdb]" +
    " | --streamphases [q_a,q_b,...] [sfDir]"

  /** Unique keys of the `--statestore` point. */
  val StateStoreKeys = 10000000L

  private val Modes = Seq("--statestore", "--streamphases")
  private val Flags = Modes ++ Seq("--heap", "--rocksdb")

  /** The one mode `args` select, or None when they name no mode, both
    * modes, or a flag neither mode takes.
    */
  private[graft] def mode(args: Seq[String]): Option[String] = {
    val flags = args.filter(_.startsWith("--"))
    val modes = Modes.filter(flags.contains)
    if (modes.size == 1 && flags.forall(Flags.contains)) modes.headOption
    else None
  }

  def main(args: Array[String]): Unit = {
    val m = mode(args.toSeq).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    // --streamphases takes an OPTIONAL q_-prefixed query list; a
    // non-q_ operand after it (e.g. the sf dir) is not its operand
    val sfDir = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") &&
        !(i > 0 && args(i - 1) == "--streamphases" && a.startsWith("q_")) => a
    }.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Graft.querySession("graft-profile")
    try {
      if (m == "--streamphases") {
        // default: the three slowest sf10 sweep entries
        val qs = args.dropWhile(_ != "--streamphases").drop(1).headOption
          .filter(_.startsWith("q_")).map(_.split(",").toSeq)
          .getOrElse(Seq("q_stream_neardup",
            "q_stream_replication_recovery", "q_stream_sessions"))
        streamPhases(spark, sfDir, qs)
      } else {
        // --heap / --rocksdb restrict the point to one provider, so a
        // constrained-heap run can demonstrate the heap provider's
        // ceiling without killing the RocksDB leg with it
        val providers =
          if (args.contains("--heap")) Seq("heap")
          else if (args.contains("--rocksdb")) Seq("rocksdb")
          else Seq("heap", "rocksdb")
        providers.foreach(p =>
          println(s"[statestore] ${stateStore(spark, StateStoreKeys, p)}"))
      }
    } finally spark.stop()
  }

  // --streamphases [q1,q2,...]: phase ledger for the streaming
  // replays — where does a replay's wall go: source addBatch work,
  // state-store update/commit, or checkpoint/WAL fsyncs? Durations
  // come from the engine's own StreamingQueryProgress events (a
  // listener sums them across micro-batches); for q_stream_neardup
  // the in-operator accumulators additionally split addBatch's
  // stateful work into the O(numHashes) signature walks vs the
  // exact-Jaccard reranks (-Dgraft.stream.ledger=true is set here so
  // the graded shape builds with ledger=true).
  private def streamPhases(spark: SparkSession, sfDir: String,
                           qs: Seq[String]): Unit = {
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
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).queryExecution.toRdd.count()
      println(f"[profile] $q%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
      // progress events ride the async listener bus
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
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
  }

  /** The streaming state-backend scale point: StreamDedup over a
    * `keys`-unique-key replay (8 micro-batches, fingerprint-shaped
    * 32-char keys: the graded pattern holds digests, never documents)
    * on `provider` ("heap" or "rocksdb"). Its JSON record gives wall,
    * state rows, the provider's own memory accounting, and post-GC
    * JVM heap — the number that shows WHERE the state lives.
    */
  def stateStore(spark: SparkSession, keys: Long, provider: String): String = {
    val replay = Replay.unordered(spark, spark.range(keys).select(
      expr("timestamp '2026-01-01 00:00:00'").as("ts"),
      md5(col("id").cast("string")).as("k")))
    // the replays' state width and checkpoint settings (Replay's scope)
    Replay.withStateWidth(spark)(
        graft.streaming.StateBackend.withProvider(spark, provider) {
      val dd = graft.streaming.StreamDedup.withinWatermark(
        replay.stream, "ts", "3650 days", Seq("k"))
      val t0 = System.nanoTime()
      val q = dd.writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", replay.checkpoint).start()
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
        s"""{"provider":"$provider","keys":$keys,""" +
          s""""wall_s":${math.rint(wall * 10) / 10},""" +
          s""""state_rows":${s0.numRowsTotal},""" +
          s""""state_mem_bytes":${s0.memoryUsedBytes},""" +
          s""""post_gc_heap_mb":$heapMb,"custom":$custom}"""
      } finally q.stop()
    })
  }
}
