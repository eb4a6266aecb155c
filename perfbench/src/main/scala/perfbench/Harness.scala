package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Graft, SparkEntry}

/** One closed-loop client over a workload's queries.
  *
  *   java ... perfbench.Harness <dataDir> <q1,q2,...> <seconds> <trace 0|1>
  *     <cpus> <verifyDir> <outJson>
  *
  * 1. Correctness pass (also the warmup): each query's result is
  *    written to `verifyDir/<query>` as parquet, next to
  *    `oracle_sql.json`, for the DuckDB comparison.
  * 2. Timed passes: the queries back to back, one at a time, isolated
  *    the way `graft.Bench` isolates them, until `seconds` have gone.
  *    With trace=1 the passes alternate untraced/traced, so one run
  *    yields both the per-layer spans and the tracing overhead.
  *
  * Raw records go to `outJson`; perfbench/metrics.py derives every
  * metric from them.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, queryList, secondsArg, traceArg, cpusArg, verifyDir,
      outJson) = args
    val queries = queryList.split(",").toSeq
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus, appName = "perfbench")
    val sessionS = (nowMs() - jvmStartMs) / 1e3
    val heap = new HeapPeak
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val tracer = new Tracer(nowMs())

    // correctness pass, which is also the warmup
    val correctness = mutable.LinkedHashMap.empty[String, Any]
    for (q <- queries) {
      isolate(spark)
      drain(spark)
      val firstJob = org.apache.spark.PerfbenchAccess.nextJobId(spark.sparkContext)
      val t0 = System.nanoTime()
      val error = try {
        SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite")
          .parquet(s"$verifyDir/$q")
        null
      } catch { case scala.util.control.NonFatal(e) => String.valueOf(e) }
      val durS = (System.nanoTime() - t0) / 1e9
      drain(spark)
      correctness(q) = Map("error" -> error, "dur_s" -> durS) ++
        org.apache.spark.PerfbenchAccess.stageIo(spark.sparkContext, firstJob)
    }
    drain(spark); progress.take()
    Files.writeString(Paths.get(verifyDir, "oracle_sql.json"), Json.write(
      queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    val setupS = (nowMs() - jvmStartMs) / 1e3

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // trace=1 alternates untraced/traced passes and needs one of each
    while (elapsed < seconds || (trace && passes.size < 2)) {
      val traced = trace && passes.size % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(tracer)
      heap.reset()
      val jit0 = jitMs()
      val records = queries.map(q => runQuery(spark, dataDir, q, progress,
        if (traced) Some(tracer) else None))
      if (traced) spark.sparkContext.removeSparkListener(tracer)
      passes += Map("traced" -> traced, "heap_peak_bytes" -> heap.peak,
        "jit_ms" -> (jitMs() - jit0),
        "queries" -> records)
    }

    Files.writeString(Paths.get(outJson), Json.write(Map(
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "cpus" -> cpus,
      "correctness" -> correctness,
      "passes" -> passes,
      "spans" -> tracer.spans)))
    spark.stop()
  }

  def nowMs(): Double = System.currentTimeMillis().toDouble

  /** JIT compiler time so far; it competes with the queries for cores. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** What graft.Bench does between queries: drop cached frames and
    * persistent RDDs, nudge the cleaner, reset the harness counters. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    SparkEntry.replayWriteNanos.set(0L)
    SparkEntry.artifactWriteNanos.set(0L)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def runQuery(spark: SparkSession, dataDir: String, q: String,
               progress: ProgressRecorder,
               tracer: Option[Tracer]): Map[String, Any] = {
    isolate(spark)
    drain(spark); progress.take()
    val firstJob = org.apache.spark.PerfbenchAccess.nextJobId(spark.sparkContext)
    val span = tracer.map(_.openQuery(q))
    span.foreach(id => spark.sparkContext.setJobGroup(s"perfbench-$id", q))
    val startMs = nowMs()
    val t0 = System.nanoTime()
    val error = try {
      // toRdd.count() executes the physical plan as built, as graft.Bench does
      SparkEntry.queries(q)(spark, dataDir).queryExecution.toRdd.count()
      null
    } catch { case scala.util.control.NonFatal(e) => String.valueOf(e) }
    val durS = (System.nanoTime() - t0) / 1e9
    val endMs = nowMs()
    // the tracer gives each job the query open when it handles the job's
    // start event, so every event of this query must be handled first
    drain(spark)
    span.foreach { id =>
      spark.sparkContext.clearJobGroup()
      tracer.get.closeQuery(id, startMs, endMs)
    }
    val batches = progress.take()
    tracer.foreach(_.addBatches(span.get, batches))
    val io = org.apache.spark.PerfbenchAccess.stageIo(spark.sparkContext, firstJob)
    Map("name" -> q, "span" -> span.getOrElse(-1L), "start_ms" -> startMs, "end_ms" -> endMs,
      "dur_s" -> durS,
      "replay_s" -> SparkEntry.replayWriteNanos.get() / 1e9,
      "artifact_s" -> SparkEntry.artifactWriteNanos.get() / 1e9,
      "error" -> error, "batches" -> batches) ++ io
  }
}

/** Highest heap usage right after a collection, over every GC since
  * the last reset, from the JVM's own GC notifications. Only the heap
  * pools count: Metaspace and the code cache hold classes, not data. */
class HeapPeak {
  @volatile var peak = 0L
  def reset(): Unit = peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
      }, null, null)
    case _ =>
  }
}

/** Copies the progress events Spark already emits for every micro-batch. */
class ProgressRecorder extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    events.add(Map(
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "input_rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "commit_ms" -> s.commitTimeMs, "memory_bytes" -> s.memoryUsedBytes,
        "instances" -> s.numStateStoreInstances))))
  }
  /** Events recorded since the last call, oldest first. */
  def take(): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }
}

/** Span tree run → workload → query → job → stage (plus micro-batch
  * spans under their query), kept in memory and written at the end.
  * Counts ride the spans they were recorded at: task metrics on stage
  * spans, task counts on stage spans, rows and state on micro-batches. */
class Tracer(runStartMs: Double) extends SparkListener {
  val runId: String = java.util.UUID.randomUUID().toString
  private val out = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(2)
  // 0 = run, 1 = workload; both close when spans are read
  @volatile private var currentQuery = -1L
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private case class TaskAgg(var n: Long = 0, var failed: Long = 0,
                             var overheadMs: Long = 0,
                             reads: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
  private val tasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()

  private def span(id: Long, parent: Long, kind: String, name: String,
                   startMs: Double, endMs: Double, attrs: Map[String, Any]): Unit =
    out.add(Map("run" -> runId, "id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs))

  private val queryNames = mutable.Map.empty[Long, String]
  def openQuery(name: String): Long = {
    currentQuery = ids.getAndIncrement()
    queryNames(currentQuery) = name
    currentQuery
  }
  def closeQuery(id: Long, startMs: Double, endMs: Double): Unit = {
    currentQuery = -1L
    span(id, 1, "query", queryNames.remove(id).get, startMs, endMs, Map.empty)
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = ids.getAndIncrement()
    jobSpan.put(e.jobId, id)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
    val props = Option(e.properties)
    jobStart.put(e.jobId, Map("parent" -> currentQuery, "start" -> e.time.toDouble,
      "stream" -> props.exists(_.getProperty("sql.streaming.queryId") != null),
      "group" -> props.map(_.getProperty("spark.jobGroup.id")).orNull))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = jobStart.remove(e.jobId)
    if (st != null) span(jobSpan.get(e.jobId), st("parent").asInstanceOf[Long], "job",
      s"job ${e.jobId}", st("start").asInstanceOf[Double], e.time.toDouble,
      Map("stream" -> st("stream"), "group" -> st("group")))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val agg = tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => TaskAgg())
    agg.synchronized {
      agg.n += 1
      if (e.taskInfo.failed || e.taskInfo.killed) agg.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        agg.overheadMs += e.taskInfo.duration - m.executorRunTime
        agg.reads += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val agg = Option(tasks.remove((si.stageId, si.attemptNumber()))).getOrElse(TaskAgg())
    val m = si.taskMetrics
    val reads = agg.reads.sorted
    val skew = if (reads.isEmpty) 0L else reads.last - reads(reads.size / 2)
    val metrics: Map[String, Any] = if (m == null) Map.empty else Map(
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "input_rows" -> m.inputMetrics.recordsRead,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "output_rows" -> m.outputMetrics.recordsWritten,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    span(ids.getAndIncrement(), Option(stageJob.get(si.stageId)).map(_.longValue).getOrElse(-1L),
      "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
      si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
      metrics ++ Map("tasks" -> agg.n, "failed_tasks" -> agg.failed,
        "task_overhead_ms" -> agg.overheadMs, "skew_bytes" -> skew,
        "failed" -> si.failureReason.isDefined))
  }
  def addBatches(query: Long, batches: Seq[Map[String, Any]]): Unit =
    batches.foreach { b =>
      val start = b("start_ms").asInstanceOf[Double]
      val dur = b("durations").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L)
      span(ids.getAndIncrement(), query, "batch", s"batch ${b("batch")}",
        start, start + dur, b)
    }
  def spans: Seq[Map[String, Any]] = {
    val all = out.asScala.toSeq
    if (all.isEmpty) all
    else {
      val end = all.map(_("end_ms").asInstanceOf[Double]).max
      Map("run" -> runId, "id" -> 0L, "parent" -> -1L, "kind" -> "run", "name" -> "run",
        "start_ms" -> runStartMs, "end_ms" -> end, "attrs" -> Map.empty) +:
        Map("run" -> runId, "id" -> 1L, "parent" -> 0L, "kind" -> "workload",
          "name" -> "workload", "start_ms" -> runStartMs, "end_ms" -> end,
          "attrs" -> Map.empty) +: all
    }
  }
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
