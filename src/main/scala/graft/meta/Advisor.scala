package graft.meta

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec,
  InputAdapter, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec,
  ObjectHashAggregateExec, ScalaAggregator}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec, SortMergeJoinExec}

/** Post-execution job diagnostics — the vaidya analog (reference:
  * src/contrib/vaidya/.../postexdiagnosis/PostExPerformanceDiagnoser
  * .java, DiagnosticTest.java:92-96): a rule engine over job
  * execution statistics, each rule evaluating to an impact level in
  * [0, 1] with a prescription, reported only when the impact clears
  * its threshold. The reference reads MapReduce job-history counters;
  * the Spark-native statistics surface is the executed physical
  * plan's SQLMetrics (per-node rows/bytes/spill), the driver-side
  * task-end events (per-task shuffle records — the reference's
  * per-reducer INPUT_RECORDS), and `QueryExecution.observedMetrics`
  * (graft's own `observe` sites). Rules:
  *
  *  - `balanced_shuffle_partitioning` (BalancedReducePartitioning
  *    .java:80-108): sort a stage's tasks by shuffle-read records
  *    descending, count the "busy" tasks covering `percent` (0.90)
  *    of all records; impact = 1 − busy/total. A 90%-on-one-task
  *    stage on a 32-partition shuffle scores 0.97.
  *  - `disk_spill` (MapSideDiskSpill.java:51-90): impact =
  *    min(1, spillBytes / shuffleWriteBytes / normF) summed over
  *    plan nodes; any spill is worth surfacing, a multiple of the
  *    shuffle volume is critical.
  *  - `task_reexecution` (MapsReExecutionImpact.java:61 /
  *    ReducesReExecutionImpact): impact = re-executed attempts /
  *    first attempts (failed or speculative task attempts observed).
  *  - `cartesian_join` (no reference analog — MapReduce cannot
  *    express it; Spark can, catastrophically): a CartesianProduct
  *    or BroadcastNestedLoopJoin node in the executed plan. Impact
  *    1.0 — O(|L|·|R|) never survives a 100 TB side. Exception: a
  *    side that materialized ≤ 1 row (the deliberate
  *    crossJoin(broadcast(one-row stats)) scalar-attach idiom) is
  *    O(|L|) and stays unflagged.
  *  - `unpushed_filter`: a Filter directly above a parquet scan
  *    whose PushedFilters is empty — the scan decoded every row the
  *    filter then discarded. Impact = 1 − kept/scanned (what
  *    fraction of scan work a pushable predicate would have saved).
  *    Classic cause: wrapping the filtered column in a
  *    non-translatable expression (md5, UDF) instead of a plain
  *    comparison.
  *  - `small_files_scan` (the reference's too-many-map-tasks
  *    pathology — each map started a JVM; here each file pays task
  *    scheduling + footer/open cost): a scan touching >= `minFiles`
  *    files at average size under `smallFileBytes`. Impact =
  *    1 − avg/smallFileBytes. Prescription: compact (bucketing /
  *    z-order rewrite both do).
  *  - `broadcast_candidate`: a SortMergeJoin whose smaller side's
  *    materialized data size is under the session's
  *    autoBroadcastJoinThreshold — statistics defeated the planner
  *    (and AQE, if on, didn't catch it either); an explicit
  *    `broadcast()` hint would delete the large side's exchange.
  *  - `exact_distinct_at_scale`: an aggregate carrying a DISTINCT
  *    aggregate expression (COUNT(DISTINCT x) and kin — physically
  *    the multi-stage distinct rewrite) fed by at least
  *    `distinctRows` input rows. Exact distinct keeps the whole key
  *    universe in aggregation state; at 100 TB that is the state
  *    blowup the sketch family exists to avoid. Impact ramps with
  *    input volume (1.0 at 4× the threshold). Prescription: the
  *    mergeable sketch panel ([[graft.functions.Sketches
  *    .sketchPanel]] / `panelRollup` — exact below sketch capacity,
  *    bounded state always) or `approx_count_distinct`.
  *  - `lineage_reexecution`: the SAME file relation (identical
  *    location and pushed filters; read schema deliberately NOT in
  *    the key — differently-pruned copies ARE the defect) scanned by
  *    k > 1 scan nodes in one executed plan, none of them satisfied
  *    by a reused exchange — the signature of an unpinned shared subtree
  *    whose whole lineage re-executes once per consumer (the class
  *    of defect hand-fixed twice in the IVF-PQ residual frame and
  *    the prefix-join pin: differently-pruned consumer copies defeat
  *    exchange reuse, so each consumer re-runs the scan and
  *    everything above it). Impact = 1 − 1/k, reported when the
  *    re-read relation is at least `minRescanBytes` (tiny dimension
  *    tables re-read twice are noise). Prescription: pin the shared
  *    subtree (localCheckpoint — see the [[graft.functions
  *    .Checkpoints]] lifecycle) or restructure identical consumers
  *    so exchange reuse applies.
  *  - `oversized_broadcast`: a BroadcastExchange that materialized
  *    more than `maxBroadcastBytes` (default 256 MB) of build-side
  *    data — the tombstone-ledger failure class generalized: every
  *    executor holds the whole relation, the driver assembles it,
  *    and growth is silent until an OOM. Impact ramps from 0.3 at
  *    the threshold to 1.0 at 4×. Prescription is the shuffle
  *    degrade [[graft.functions.Retrieval.compactSearchIndex]]
  *    implements by hand: drop the broadcast hint (or cap
  *    autoBroadcastJoinThreshold) so the join shuffles on its key,
  *    and compact/bound the relation that grew.
  *  - `candidate_pair_blowup`: a graft `observe` site
  *    (`graft.<op>.cand.<n>`, e.g. [[graft.operators.Temporal
  *    .rangeJoin]] run with `observeCandidates = true` — the
  *    diagnostic dial) reporting a candidate population more than
  *    `blowupFactor` times the query's output rows — the signal that
  *    a count-shaped consumer should route to the operator's scale
  *    twin (rangeJoinCount / prefixJaccardPairs).
  *  - `object_agg_heap_state`: an ObjectHashAggregate whose
  *    per-group object buffers are priced near the heap budget —
  *    the q_uniq_capped-at-sf10 OOM signature. Typed `Aggregator`
  *    buffers are unmanaged JVM objects Spark's memory manager
  *    neither tracks nor spills, so a cap-bounded exact-distinct
  *    set ([[graft.operators.AggregateLib.UniqValueCount]]) at a
  *    large cap is silent heap debt: partial-map groups × declared
  *    [[graft.BufferBound]] bytes. `collect_set`/`collect_list`
  *    buffers are priced from input rows (every row lands in some
  *    buffer). Fires when the estimate exceeds `maxAggStateBytes`
  *    (default half the JVM heap); impact ramps to 1.0 at 4×.
  *    Prescription: the bounded-state twin —
  *    `uniqValueCountApprox` / the sketch panel (measured at sf10:
  *    sketches 0.6-0.8 s where the 10⁶-cap exact form OOM'd a
  *    shared 8 GB JVM).
  *
  * Severity bands over impact (the reference's SuccessThreshold
  * generalized): high >= 0.7, medium >= 0.3, low otherwise.
  *
  * Scale note: the report is O(rules × plan nodes) rows built
  * driver-side — a diagnostic, not a data path. The statistics it
  * reads are already on the driver (SQLMetrics accumulators, listener
  * events); nothing re-reads data.
  */
object Advisor {

  /** One diagnostic finding. `impact` is the vaidya-style [0,1]
    * level; `evidence` carries the numbers that produced it (task
    * counts, row counts, byte sizes — deterministic for a
    * deterministic plan, except where it quotes byte sizes).
    */
  final case class Finding(rule: String, severity: String, impact: Double,
                           evidence: String, prescription: String)

  /** Per-task statistics harvested from task-end events — the
    * reference's per-task counter table (TaskStatistics.java), cut
    * to what the rules read.
    */
  final case class TaskStat(stageId: Int, attemptNumber: Int,
                            shuffleReadRecords: Long, spillBytes: Long,
                            failed: Boolean, speculative: Boolean)

  private def severity(impact: Double): String =
    if (impact >= 0.7) "high" else if (impact >= 0.3) "medium" else "low"

  private def finding(rule: String, impact: Double, evidence: String,
                      prescription: String): Finding =
    Finding(rule, severity(impact),
      math.rint(impact * 100) / 100, evidence, prescription)

  /** A node's children through the AQE / query-stage wrappers. A
    * reused exchange leads to the plan it reuses only with
    * `followReuse`: that plan ran once, for all its consumers. (A
    * reused subquery is a leaf either way.)
    */
  private def children(p: SparkPlan, followReuse: Boolean): Seq[SparkPlan] =
    p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => if (followReuse) Seq(r.child) else Nil
      case _ => p.children
    }

  /** Flatten an executed plan through AQE / query-stage / codegen
    * wrappers (and into subqueries) so rules see every operator.
    */
  private[graft] def flatten(p: SparkPlan, followReuse: Boolean = true): Seq[SparkPlan] =
    p +: (children(p, followReuse) ++ p.subqueries).flatMap(flatten(_, followReuse))

  /** Node metric by its SQLMetric map key (numOutputRows, numFiles,
    * filesSize, spillSize, dataSize, shuffleBytesWritten, ...).
    */
  private[graft] def metric(p: SparkPlan, key: String): Option[Long] =
    p.metrics.get(key).map(_.value).filter(_ >= 0)

  /** Execute `df` to completion under a task-stats listener, then
    * run every rule over (executed plan, task stats, observed
    * metrics) and return the findings as a DataFrame
    * (rule, severity, impact, evidence, prescription).
    *
    * Pass a FRESH DataFrame: SQLMetrics accumulate per plan
    * instance, so diagnosing an already-executed plan double-counts.
    * The plan is consumed row-by-row exactly once (the noop-sink
    * read), so sort/spill/shuffle metrics reflect a real full run.
    */
  def diagnose(df: DataFrame, percent: Double = 0.90,
               normF: Double = 3.0, smallFileBytes: Long = 16L << 20,
               minFiles: Int = 8, blowupFactor: Double = 10.0,
               distinctRows: Long = 1L << 22,
               minRescanBytes: Long = 8L << 20,
               maxBroadcastBytes: Long = 256L << 20,
               maxAggStateBytes: Long = Runtime.getRuntime.maxMemory() / 2)
      : DataFrame = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[TaskStat]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        buf.add(TaskStat(t.stageId, t.taskInfo.attemptNumber,
          if (m == null) 0L else m.shuffleReadMetrics.recordsRead,
          if (m == null) 0L else m.diskBytesSpilled,
          t.taskInfo.failed, t.taskInfo.speculative))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      qe.executedPlan.execute().foreachPartition(
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
          it.foreach(_ => ()))
      // every task end is posted before the action returns; wait for
      // the asynchronous bus to hand them all to the listener
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val fs = findings(qe.executedPlan, buf.asScala.toSeq,
      qe.observedMetrics.toMap, spark, percent, normF, smallFileBytes,
      minFiles, blowupFactor, distinctRows, minRescanBytes,
      maxBroadcastBytes, maxAggStateBytes)
    import spark.implicits._
    fs.toDF()
  }

  /** The pure rule engine — separated from [[diagnose]] so each rule
    * is unit-testable on synthetic statistics.
    */
  private[meta] def findings(plan: SparkPlan, tasks: Seq[TaskStat],
                             observed: Map[String, org.apache.spark.sql.Row],
                             spark: SparkSession,
                             percent: Double, normF: Double,
                             smallFileBytes: Long, minFiles: Int,
                             blowupFactor: Double,
                             distinctRows: Long = 1L << 22,
                             minRescanBytes: Long = 8L << 20,
                             maxBroadcastBytes: Long = 256L << 20,
                             maxAggStateBytes: Long =
                               Runtime.getRuntime.maxMemory() / 2)
      : Seq[Finding] = {
    val nodes = flatten(plan)
    val out = Seq.newBuilder[Finding]

    // balanced_shuffle_partitioning: worst stage only (one stable row)
    val byStage = tasks.filter(!_.failed).groupBy(_.stageId).values
      .filter(ts => ts.size >= 2 && ts.map(_.shuffleReadRecords).sum > 0)
    val skews = byStage.map { ts =>
      val recs = ts.map(_.shuffleReadRecords).sortBy(-_)
      val total = recs.sum
      val target = math.ceil(percent * total).toLong
      var acc = 0L; var busy = 0
      while (acc < target && busy < recs.size) { acc += recs(busy); busy += 1 }
      (1.0 - busy.toDouble / recs.size, busy, recs.size, total)
    }
    if (skews.nonEmpty) {
      val (impact, busy, n, total) = skews.maxBy(_._1)
      if (impact >= 0.3)
        out += finding("balanced_shuffle_partitioning", impact,
          s"$busy of $n shuffle tasks carry >= ${(percent * 100).toInt}% " +
            s"of $total shuffle-read records",
          "repartition on a higher-cardinality key, salt the hot key, " +
            "or enable AQE skew-join handling")
    }

    // disk_spill
    val spillPlan = nodes.flatMap(n => n.metrics.collect {
      case ("spillSize", m) if m.value > 0 => m.value
    }).sum
    val spillTasks = tasks.map(_.spillBytes).sum
    val spill = math.max(spillPlan, spillTasks)
    if (spill > 0) {
      val shuffleW = nodes.flatMap(metric(_, "shuffleBytesWritten")).sum
      val base = if (shuffleW > 0) shuffleW else spill
      val impact = math.min(1.0, spill.toDouble / base / normF)
      out += finding("disk_spill", math.max(impact, 0.3),
        s"$spill bytes spilled to disk (shuffle write $shuffleW bytes)",
        "raise spark.sql.shuffle.partitions or executor memory so " +
          "partitions fit; check for skewed or wide aggregation state")
    }

    // task_reexecution
    val first = tasks.count(_.attemptNumber == 0)
    val reexec = tasks.count(t => t.attemptNumber > 0 || t.failed)
    if (reexec > 0 && first > 0)
      out += finding("task_reexecution",
        math.min(1.0, reexec.toDouble / first),
        s"$reexec re-executed task attempts over $first first attempts",
        "investigate task failure causes (memory, flaky I/O) — " +
          "re-execution multiplies the job's critical path")

    // cartesian_join — EXCEPT the scalar-attach idiom: a cross
    // product with a 1-row side is O(|L|), not O(|L|·|R|) (the
    // crossJoin(broadcast(one-row stats aggregate)) pattern the
    // retrieval/scoring family uses deliberately); flagging it would
    // teach callers to ignore the rule
    def sideRows(p: SparkPlan): Option[Long] =
      flatten(p).flatMap(metric(_, "numOutputRows")).headOption
    def scalarSide(l: SparkPlan, r: SparkPlan): Boolean =
      Seq(l, r).exists(s => sideRows(s).exists(_ <= 1))
    nodes.foreach {
      case c: CartesianProductExec if !scalarSide(c.left, c.right) =>
        out += finding("cartesian_join", 1.0,
          s"CartesianProduct of ${c.left.simpleStringWithNodeId()} x " +
            s"${c.right.simpleStringWithNodeId()}",
          "add an equi-join condition, or broadcast() the small side " +
            "deliberately if the cross product is intended")
      case b: BroadcastNestedLoopJoinExec
          if !scalarSide(b.left, b.right) =>
        out += finding("cartesian_join", 1.0,
          s"BroadcastNestedLoopJoin (${b.joinType})",
          "add an equi-join condition, or broadcast() the small side " +
            "deliberately if the cross product is intended")
      case _ =>
    }

    // unpushed_filter: Filter straight above a parquet scan that
    // pushed nothing — modulo codegen/project wrappers
    def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case w: WholeStageCodegenExec => scanBelow(w.child)
      case i: InputAdapter => scanBelow(i.child)
      case pr: ProjectExec => scanBelow(pr.child)
      case q: QueryStageExec => scanBelow(q.plan)
      case _ if p.getClass.getSimpleName == "ColumnarToRowExec" =>
        scanBelow(p.children.head)
      case _ => None
    }
    nodes.foreach {
      case f: FilterExec =>
        scanBelow(f.child).foreach { scan =>
          // IsNotNull pushes are residue of ANY predicate on the
          // column — only a non-trivial push counts as "pushed"
          val pushed = scan.metadata.getOrElse("PushedFilters", "[]")
          val trivialPush = pushed.stripPrefix("[").stripSuffix("]")
            .split(",").map(_.trim).filter(_.nonEmpty)
            .forall(_.startsWith("IsNotNull"))
          val scanned = metric(scan, "numOutputRows").getOrElse(0L)
          val kept = metric(f, "numOutputRows").getOrElse(0L)
          if (trivialPush && scanned > 0 && kept < scanned) {
            val impact = 1.0 - kept.toDouble / scanned
            out += finding("unpushed_filter", impact,
              s"scan decoded $scanned rows, filter kept $kept, " +
                "PushedFilters: []",
              "rewrite the predicate over the raw column (no md5/UDF " +
                "wrapping) so it pushes into the parquet scan")
          }
        }
      case _ =>
    }

    // small_files_scan
    nodes.foreach {
      case scan: FileSourceScanExec =>
        for {
          nf <- metric(scan, "numFiles") if nf >= minFiles
          sz <- metric(scan, "filesSize")
          avg = sz / math.max(nf, 1)
          if avg < smallFileBytes
        } out += finding("small_files_scan",
          1.0 - avg.toDouble / smallFileBytes,
          s"$nf files at average $avg bytes (threshold $smallFileBytes)",
          "compact the input (bucketed or z-order rewrite) so file " +
            "count tracks data volume, not ingest batch count")
      case _ =>
    }

    // broadcast_candidate
    val bcThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    nodes.foreach {
      case j: SortMergeJoinExec if bcThreshold > 0 =>
        val sideSizes = Seq(j.left, j.right).map { side =>
          flatten(side).flatMap(metric(_, "dataSize")).sum
        }
        val small = sideSizes.filter(s => s > 0 && s < bcThreshold)
        if (small.nonEmpty)
          out += finding("broadcast_candidate", 0.5,
            s"sort-merge join side materialized ${small.min} bytes, " +
              s"under autoBroadcastJoinThreshold $bcThreshold",
            "broadcast() the small side explicitly — statistics " +
              "under-informed the planner")
      case _ =>
    }

    // oversized_broadcast: the tombstone-ledger class generalized —
    // a BroadcastExchange whose materialized build side exceeds the
    // comfort bound. Dedupe by node identity: flatten descends into
    // ReusedExchangeExec's child, so a reused (built-once) exchange
    // appears under every consumer but must be flagged once.
    val seenBc =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    nodes.foreach {
      case b: BroadcastExchangeExec if seenBc.add(b) =>
        metric(b, "dataSize").filter(_ > maxBroadcastBytes).foreach { sz =>
          val impact = math.min(1.0,
            0.3 + 0.7 * (sz - maxBroadcastBytes).toDouble /
              (3.0 * maxBroadcastBytes))
          out += finding("oversized_broadcast", impact,
            s"BroadcastExchange materialized $sz bytes " +
              s"(threshold $maxBroadcastBytes) — every executor holds " +
              "a full copy and the driver assembles it",
            "degrade to a shuffled join on the key (drop the " +
              "broadcast() hint or cap autoBroadcastJoinThreshold) " +
              "and compact/bound the relation that grew — the " +
              "compactSearchIndex broadcast->shuffle degrade pattern")
        }
      case _ =>
    }

    // lineage_reexecution: identical file scans (location + pushed
    // filters + read schema), none satisfied by a reused exchange —
    // each consumer re-executes the whole subtree above the scan.
    // Traversal STOPS at ReusedExchangeExec AND ReusedSubqueryExec:
    // the child plan there is the reused instance, which executed
    // once — descending through a reused subquery would double-count
    // its scan and flag a plan whose subquery ran exactly once.
    val executedScans = flatten(plan, followReuse = false).collect {
      case f: FileSourceScanExec => f
    }
    // key on location + pushed filters, NOT read schema: the defect
    // class is differently-PRUNED copies of one subtree (their
    // schemas differ, which is exactly why exchange reuse missed
    // them), while differently-FILTERED reads of a table are two
    // genuine datasets and stay distinct
    executedScans
      .groupBy(f => (f.metadata.getOrElse("Location", ""),
        f.metadata.getOrElse("PushedFilters", "")))
      .toSeq.sortBy(_._1.toString)
      .foreach { case ((loc, _), scans) =>
        val k = scans.size
        val bytes = scans.flatMap(metric(_, "filesSize")).maxOption
          .getOrElse(0L)
        if (k >= 2 && bytes >= minRescanBytes)
          out += finding("lineage_reexecution", 1.0 - 1.0 / k,
            s"$k identical scans of $bytes-byte relation $loc executed " +
              "in one action (no exchange reuse between them)",
            "pin the shared subtree (localCheckpoint; free it per the " +
              "Checkpoints lifecycle) or make the consumers identical " +
              "so exchange reuse collapses them")
      }

    // exact_distinct_at_scale: a DISTINCT aggregate expression in
    // the executed plan (COUNT(DISTINCT) and kin survive the
    // multi-stage rewrite with isDistinct on the final stages) fed
    // by >= distinctRows rows. One finding, worst offender: exact
    // distinct state is the key universe itself — the thing the
    // sketch family bounds.
    val distinctAggRows = nodes.collect {
      case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.isDistinct) =>
        (flatten(a) diff Seq(a)).flatMap(metric(_, "numOutputRows"))
          .maxOption.getOrElse(0L)
    }
    distinctAggRows.maxOption.filter(_ >= distinctRows).foreach { rows =>
      out += finding("exact_distinct_at_scale",
        math.min(1.0, rows.toDouble / (4.0 * distinctRows)),
        s"distinct aggregation over $rows input rows " +
          s"(threshold $distinctRows)",
        "replace the exact distinct with the mergeable sketch panel " +
          "(Sketches.sketchPanel / panelRollup — exact below sketch " +
          "capacity, bounded state always) or approx_count_distinct")
    }

    // object_agg_heap_state: ObjectHashAggregate buffers are
    // unmanaged heap (no tracking, no spill); price each node's
    // state — output groups (for the partial node: Σ per-partition
    // groups, the true concurrent-map population across the fleet) ×
    // each declared BufferBound, plus input rows × an element
    // estimate for collect_set/collect_list (every input row lands
    // in some buffer) — and flag the worst node past the budget.
    // Aggregators that declare no bound (Spark's own DataSketches
    // aggs, third-party) are skipped: can't price, shouldn't guess.
    // input-row estimate: the NEAREST descendant that reports
    // numOutputRows (descending through AQE/stage/exchange wrappers
    // that don't) — i.e. the rows actually FLOWING INTO the
    // aggregate. A subtree max would let a big scan below a reducing
    // filter/join inflate the estimate into false positives.
    def nearestRows(n: SparkPlan): Long = metric(n, "numOutputRows")
      .getOrElse(children(n, followReuse = true).map(nearestRows).sum)
    val objAggEst = nodes.collect { case a: ObjectHashAggregateExec =>
      val groups = metric(a, "numOutputRows").getOrElse(0L)
      val inRows = a.children.map(nearestRows).sum
      val fns = a.aggregateExpressions.map(_.aggregateFunction)
      val bounded = fns.collect {
        case sa: ScalaAggregator[_, _, _] => sa.agg match {
          case b: graft.BufferBound => b.bufferBytesBound
          case _ => 0L
        }
      }.sum
      val collects = fns.count { case _: Collect[_] => true; case _ => false }
      (groups * bounded + inRows * 32L * collects,
        groups, bounded, inRows, collects)
    }
    objAggEst.filter(_._1 > maxAggStateBytes).maxByOption(_._1)
      .foreach { case (est, groups, bounded, inRows, collects) =>
        val detail =
          (if (bounded > 0) s"$groups groups x $bounded declared buffer " +
            "bytes" else "") +
          (if (collects > 0) s"${if (bounded > 0) " + " else ""}$collects " +
            s"collect buffer(s) over $inRows input rows" else "")
        out += finding("object_agg_heap_state",
          math.min(1.0, est.toDouble / (4.0 * maxAggStateBytes)),
          s"ObjectHashAggregate state estimate $est bytes ($detail; " +
            s"threshold $maxAggStateBytes) — object buffers are " +
            "unmanaged heap: untracked, unspillable",
          "switch to the bounded-state twin (uniqValueCountApprox / " +
            "Sketches.sketchPanel) or lower the cap; collect_set/" +
            "collect_list at this volume should become an aggregation")
      }

    // candidate_pair_blowup: graft observe sites vs output rows
    val outRows = flatten(plan).flatMap(metric(_, "numOutputRows"))
      .headOption
    observed.foreach { case (name, row) =>
      if (name.startsWith("graft.") && name.contains(".cand.")) {
        val cand = try row.getAs[Long]("candidate_pairs") catch {
          case _: Exception => 0L }
        val base = math.max(outRows.getOrElse(0L), 1L)
        if (cand > blowupFactor * base)
          out += finding("candidate_pair_blowup",
            math.min(1.0, cand.toDouble / base / 100.0),
            s"$name produced $cand candidate pairs for $base output rows",
            "route the count-shaped consumer to the operator's scale " +
              "twin (rangeJoinCount sweep / prefixJaccardPairs)")
      }
    }

    out.result().sortBy(f => (f.rule, -f.impact))
  }
}
