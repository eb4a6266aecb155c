package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch form of the fork's EWMA heat pipeline (reference:
  * FSDirectory.java:1341-1386): heat over an access log with window
  * functions, and a quantile-tier replication plan.
  *
  * Scale shape: one hash shuffle on the key; the window and the
  * final aggregation reuse that partitioning (no second exchange).
  * The EWMA recurrence is evaluated in closed form
  * (`ReplicationPolicy.ewmaOf`) so it is a single pass, not an
  * iterative join.
  */
object Heat {

  /** Per-key EWMA of `value` over rows ordered by `order` (oldest
    * first): `ewma = α·Σ_{i≥2}(1-α)^{n-i}·x_i + (1-α)^{n-1}·x_1`.
    */
  def ewmaBatch(df: DataFrame, key: Column, order: Seq[Column],
                value: Column, alpha: Double): DataFrame = {
    // `order` must totally order rows within each key (end it with a
    // unique id): the first-row weight is structurally different
    // ((1-a)^(n-1) vs a*(1-a)^(n-k)), so a row_number tie at rn=1
    // would make the result depend on which tied row the shuffle
    // delivered first — same contract as packByBudget's order.

    val w = Window.partitionBy(key).orderBy(order: _*)
    val wAll = Window.partitionBy(key)
    val p = graft.Names.fresh("__ew", df.columns)
    val (rn, cnt, wx) = (s"${p}_rn", s"${p}_n", s"${p}_wx")
    val weighted = df
      .withColumn(rn, row_number().over(w))
      .withColumn(cnt, count(lit(1)).over(wAll))
      .withColumn(wx,
        when(col(rn) === 1,
          value * pow(lit(1 - alpha), col(cnt) - 1))
        .otherwise(lit(alpha) * value *
          pow(lit(1 - alpha), col(cnt) - col(rn))))
    // Deliberately a FLOAT sum (not the integer micro-unit hardening
    // unigramLogProb/bm25 use): the per-row weight contains
    // power(1-α, k), and DuckDB's power() differs from Java's
    // Math.pow by ULPs on exact dyadic bases (measured: two per-row
    // micro-roundings flipped at sf0.1 when this was quantized).
    // Per-row quantization amplifies scalar ULP divergence into
    // whole output-digit flips; the float sum averages it away —
    // order-dependence near a 4th-decimal midpoint is the accepted
    // (never observed) residual risk. Quantize only where the
    // per-row scalar is engine-identical.
    weighted.groupBy(key).agg(round(sum(col(wx)), 4).as("ewma"))
  }

  /** Distributed exact global rank (1-based) in the given order —
    * the scalable replacement for a zero-partition window: range-
    * repartition on the order columns (pivots sampled like
    * TotalOrderPartitioner), partition-local `row_number`, plus a
    * broadcast per-partition offset join. Driver state is
    * O(partitions) longs, never rows. Returns (ranked df carrying
    * `as` plus an internal partition-id scratch column, total row
    * count, the scratch column's name — callers drop it when done).
    * The input is localCheckpoint-pinned: the offset collection and
    * the ranked output must see identical partitioning.
    */
  private[graft] def globalRankWithCount(df: DataFrame, order: Seq[Column],
                                         as: String): (DataFrame, Long, String) = {
    require(!df.columns.contains(as),
      s"rank column '$as' already exists — withColumn would silently " +
        "replace the user's data")
    val pre = graft.Names.fresh("__grank", df.columns)
    val pid = s"${pre}_pid"
    val off = s"${pre}_off"
    // shuffle.partitions can be non-numeric on some platforms
    // (e.g. "auto"); fall back to the cluster's default parallelism
    val np = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val parts = df.repartitionByRange(np, order: _*)
      .withColumn(pid, spark_partition_id())
      .localCheckpoint()
    val counts = parts.groupBy(col(pid)).agg(count(lit(1)).as(s"${pre}_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    if (counts.isEmpty)
      return (parts.withColumn(as, lit(0L)), 0L, pid)
    val offsets = {
      var acc = 0L
      counts.map { case (p, c) => val o = acc; acc += c; (p, o) }
    }
    // offsets attach via a BROADCAST join on the partition id, not a
    // chained CASE: a per-row linear scan over numPartitions branches
    // is O(rows x partitions) and blows codegen method limits at
    // thousands of partitions — the join is O(1) per row and the
    // offset table is numPartitions longs
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = broadcast(
      offsets.toSeq.toDF(pid, off))
    val w = Window.partitionBy(col(pid)).orderBy(order: _*)
    (parts.join(offsetDf, Seq(pid), "left_outer")
      .withColumn(as,
        row_number().over(w).cast("long") + coalesce(col(off), lit(0L)))
      .drop(off),
      counts.map(_._2).sum,
      pid)
  }

  /** [[globalRankWithCount]] with the plumbing hidden: df + a
    * 1-based global `as` rank column in the given order.
    */
  def globalRank(df: DataFrame, order: Seq[Column], as: String): DataFrame = {
    val (ranked, _, pid) = globalRankWithCount(df, order, as)
    ranked.drop(pid)
  }

  /** Batch replication plan: tier by heat quantile — hottest tier
    * gets `maxRep`, coldest `minRep`. The *online* bucket semantics
    * (promotion thresholds, capacity sweep) live in
    * [[ReplicationPolicy.State]]; this is the scan-friendly batch
    * equivalent of a namespace-wide re-tiering.
    *
    * Exact ntile semantics WITHOUT the global un-partitioned window
    * (`ntile().over(Window.orderBy(...))` funnels the whole table
    * through one partition — a scale-killer past ~10⁷ rows). Instead:
    * range-repartition on the sort key (a distributed exchange), take
    * the per-partition row histogram to the driver (`numPartitions`
    * longs, never data), and compute each row's global rank as
    * partition offset + partition-local row_number — every window
    * here is partitioned, every partition O(n / numPartitions). The
    * tile is then derived from the rank in closed form with the
    * standard ntile fill (first n % t tiles get the extra row).
    *
    * The histogram pass and the output pass MUST see identical
    * partition boundaries — range boundaries are sampled per
    * execution, and two executions of the same plan may sample
    * differently (observed: whole rank blocks shifting a tier). So
    * the repartitioned table is pinned once with an eager
    * `localCheckpoint()`: both passes read the same materialized
    * blocks, and the (expensive) upstream heat plan runs exactly
    * once instead of twice. The lineage cut is acceptable here — the
    * plan is a periodic policy sweep, rerun wholesale on failure.
    */
  def replicationPlan(heat: DataFrame, key: Column, heatCol: Column,
                      minRep: Int = 3, maxRep: Int = 6): DataFrame = {
    require(maxRep >= minRep,
      s"maxRep ($maxRep) must be >= minRep ($minRep) — tiers would be " +
        "zero or negative")
    val tiers = maxRep - minRep + 1
    val rankCol = graft.Names.fresh("__rank", heat.columns)
    val (ranked, n, pid) =
      globalRankWithCount(heat, Seq(heatCol.desc, key.asc), rankCol)
    if (n == 0L)
      return heat.withColumn("target_rep", lit(minRep).cast("int"))
    // the rank is bound to a column (not inlined): the tile CASE
    // references it several times, and inlining the window expression
    // would make WindowExec evaluate one identical row_number per
    // reference
    val rn = col(rankCol)
    // standard ntile: q = n / t rows per tile, first r = n % t tiles
    // get one extra; closed form over the global rank (floor division
    // via double is exact well past any realistic row count)
    val q = n / tiers
    val r = n % tiers
    val bucket =
      if (q == 0) rn
      else when(rn <= lit(r * (q + 1)),
          floor((rn - 1) / lit(q + 1)) + 1)
        .otherwise(lit(r) + floor((rn - lit(r * (q + 1)) - 1) / lit(q)) + 1)
    ranked.withColumn("target_rep", (lit(maxRep + 1) - bucket).cast("int"))
      .drop(pid, rankCol)
  }

  /** One capacity-pressure demotion sweep in batch (scan) form —
    * exactly [[ReplicationPolicy.State.demoteSweep]]'s semantics
    * (FSNamesystem.java:4456-4480): for every bucket above `minRep`,
    * the coldest floor(half) by (heat asc, key asc) drops one level.
    * The reference sweeps levels ASCENDING over mutable state, so a
    * file demoted out of level L+1 lands in L *after* L's own sweep
    * ran and is never re-swept — which makes the simultaneous
    * closed form here (rank within the ORIGINAL bucket, demote iff
    * rank <= floor(bucketSize/2)) exactly equal to the sequential
    * fold; the equivalence is property-checked against the State
    * machine in ReplicationPolicySpec. One partitioned window over
    * the bucket key — no global sort, no driver state.
    */
  def demoteSweepBatch(assigned: DataFrame, key: Column, heatCol: Column,
                       minRep: Int = 3): DataFrame = {
    val p = graft.Names.fresh("__sw", assigned.columns)
    val (rk, bn) = (s"${p}_rk", s"${p}_bn")
    val w = Window.partitionBy(col("target_rep")).orderBy(heatCol.asc, key.asc)
    val wAll = Window.partitionBy(col("target_rep"))
    assigned
      .withColumn(rk, row_number().over(w))
      .withColumn(bn, count(lit(1)).over(wAll))
      .withColumn("target_rep",
        when(col("target_rep") > minRep &&
          col(rk) <= floor(col(bn) / 2), col("target_rep") - 1)
          .otherwise(col("target_rep")).cast("int"))
      .drop(rk, bn)
  }

  /** The full §0.1 policy loop over a settled heat table — the batch
    * tail of the streaming composition (heat stream → tier → capacity
    * demotion → plan; reference FSNamesystem.java:4425-4484):
    *  1. single-block files are EXEMPT — pinned at `minRep`
    *     (FSNamesystem.java:4427-4430; they never enter a bucket),
    *  2. multi-block files tier by exact heat quantile
    *     ([[replicationPlan]] — the scan equivalent of
    *     insertFileIntoNewSet's bucket landing),
    *  3. if used bytes (Σ size·target_rep, the post-assignment
    *     namespace footprint) exceed `capacityTop`·capacity, ONE
    *     [[demoteSweepBatch]] runs (the monitor's sweep).
    * Output: (heat columns…, target_rep). The used-bytes check is one
    * O(1)-result aggregation; everything else is partitioned windows.
    */
  def policyLoopPlan(heat: DataFrame, key: Column, heatCol: Column,
                     blocksCol: Column, sizeBytes: Long,
                     capacityBytes: Long, capacityTop: Double = 0.8,
                     minRep: Int = 3, maxRep: Int = 6): DataFrame = {
    require(sizeBytes > 0 && capacityBytes > 0,
      s"sizeBytes/capacityBytes must be positive, got $sizeBytes/$capacityBytes")
    // pin once: the exempt split, the tiering (itself two passes) and
    // the used-bytes check must read one materialized heat table
    val pinned = heat.localCheckpoint()
    val exempt = pinned.filter(blocksCol <= 1)
      .withColumn("target_rep", lit(minRep).cast("int"))
    val tiered = replicationPlan(pinned.filter(blocksCol >= 2),
      key, heatCol, minRep, maxRep)
    val assigned = tiered.unionByName(exempt).localCheckpoint()
    // sum() over zero rows is SQL NULL — an empty heat table (no
    // settled files yet) must yield an empty plan, not an NPE
    val usedRow = assigned
      .agg(sum(col("target_rep").cast("long"))).head
    if (usedRow.isNullAt(0)) return assigned
    val used = sizeBytes * usedRow.getLong(0)
    if (used > (capacityBytes * capacityTop).toLong)
      demoteSweepBatch(assigned, key, heatCol, minRep)
    else assigned
  }
}
