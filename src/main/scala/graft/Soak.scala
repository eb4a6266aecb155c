package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Gridmix-style composite soak — the reference's only published
  * end-to-end workload specification
  * (reference: src/benchmarks/gridmix/README:28-71: five job
  * families over generated random-word corpora), re-expressed
  * Spark-first and run as ONE JVM-long sequence. The per-query bench
  * isolates queries (cache cleared, pins unpersisted between runs);
  * the soak deliberately does NOT — its purpose is the
  * cross-operator memory/cache/catalog interactions a composed
  * pipeline hits and per-query measurement structurally cannot (the
  * round-9 sf1 bench-heap accumulation was exactly this class of
  * failure).
  *
  * The six families (gridmix's five plus gridmix2's combiner class),
  * sized by one scale dial instead of the
  * reference's fixed 500 GB inputs (all corpora come from
  * [[graft.sources.Generate.randomKv]] on the FAST hash dial — bulk
  * generation is what that dial exists for):
  *
  *  1. `three_stage` — the pipelined Pig-style job: keep 10% map /
  *     40% reduce, then 100%/77%, then 116%/91%, each stage written
  *     and re-read (README:28-40). "Keep X% map" is a deterministic
  *     hash-residue row filter; "keep X% reduce" the same residue on
  *     the group key after the aggregation; the 116% map is a
  *     map-side explode (every row, plus a second copy for a 16%
  *     residue) — one scan, no self-union re-read.
  *  2. `var_sort` — the large sort of variable key/value sizes
  *     (README:42-47): keys 5-10 words, values 100-1000,
  *     `repartitionByRange + sortWithinPartitions` (the
  *     TotalOrderPartitioner shape — no single-reducer funnel),
  *     written compressed and validated with the graded
  *     [[graft.operators.Sorting.validateSorted]] TeraValidate
  *     analog.
  *  3. `ref_select` — the 0.2%-map / 5%-reduce / 1-reducer sample
  *     (README:49-55): the residue filters run DISTRIBUTED and only
  *     the surviving handful of rows funnel through the mandated
  *     single reducer (`coalesce(1)` on the write alone, never on
  *     the scan).
  *  4. `indirect_read` — the iterative job whose input is "all
  *     indirect": each of 10 iterations reads one fresh input slice
  *     PLUS every previous iteration's output by explicit path list
  *     (no catalog, no locality metadata — README:57-64), keeps 50%
  *     map-side, aggregates, writes. Input file count grows every
  *     iteration, which is the soak's accumulation pressure.
  *  5. `api_sort` — the same text sort through three APIs
  *     (README:66-71 exercises java/pipes/streaming): the DataFrame
  *     API, SQL over a temp view, and the external-process pipe
  *     ([[graft.operators.Pipe]] per range-partition through
  *     `LC_ALL=C sort` — the pipes-sort binary's role). All three
  *     must agree on row count; DataFrame and pipe outputs are
  *     validated globally sorted.
  *  6. `combiner` — gridmix2's wordcount-with-combiner class
  *     (reference: src/benchmarks/gridmix2/src/java/.../
  *     CombinerJobCreator.java:30 — the only job family the second
  *     gridmix adds): values explode ~30× into tokens and the
  *     token-keyed count survives only because partial aggregation
  *     combines map-side; validated by token-mass conservation.
  *
  * Scale shape: every family is a declarative plan — generation is
  * one narrow `spark.range` projection, keeps are codegen'd residue
  * filters, groupings are hash aggregations with map-side combine,
  * sorts are range exchanges. Nothing collects data rows to the
  * driver; driver state is O(partitions) (the sort validators).
  * At 100 TB the dials are the scale and `spark.sql.shuffle
  * .partitions`; the shapes are unchanged.
  */
object Soak {

  /** One family's wall clock, output rows, used heap after it, and
    * the bytes it wrote.
    */
  final case class FamilyResult(seconds: Double, rows: Long,
                                usedHeapMb: Long, outBytes: Long)

  /** One schedule's run: its wall clock and per-family results. */
  final case class Leg(seconds: Double, families: Seq[(String, FamilyResult)])

  /** Corpus rows of the fixed-width (`three_stage`), variable-width
    * (`var_sort`) and text families (the other three) at `scale`:
    * 2,000,000 / 300,000 / 1,000,000 at scale 1, the ratio every
    * recorded soak kept.
    */
  private final case class Rows(fixed: Long, variable: Long, text: Long)

  private def rows(scale: Double): Rows = {
    require(scale > 0, s"scale must be > 0, got $scale")
    def of(n: Long): Long = math.max(1L, math.round(n * scale))
    Rows(of(2000000L), of(300000L), of(1000000L))
  }

  /** Corpus seed; each family offsets it. */
  private val Seed = 42L

  /** Deterministic keep-`permille` filter on a column — the
    * reference's "keep X% of records" dial, reproducible across
    * runs/partitionings (salted so successive stages sample
    * independently). `portable = true` swaps the xxhash64 residue
    * for the engine-neutral md5-prefix idiom so an external oracle
    * recomputes the SAME sample (the q_gridmix_pipeline grade);
    * the soak's bulk runs stay on the fast dial.
    */
  def keep(c: Column, permille: Int, salt: String,
           portable: Boolean = false): Column =
    if (portable)
      pmod(conv(substring(md5(concat(c.cast("string"), lit(":" + salt))),
        1, 8), 16, 10).cast("long"), lit(1000L)) < lit(permille.toLong)
    else pmod(xxhash64(c, lit(salt)), lit(1000L)) < lit(permille.toLong)

  /** The three gridmix pipeline stages (README:28-40) as pure
    * DataFrame transforms — [[run]] materializes each stage to
    * parquet between them (the reference's separate-jobs shape);
    * [[threeStage]] chains them declaratively for grading. "Keep X%
    * map" filters rows before the aggregation, "keep X% reduce"
    * filters group keys after it; the 116% map duplicates a
    * 16%-residue of rows in ONE scan (explode, no self-union).
    *
    * Plan note for the chained form: all three aggregations key on
    * `k`, so Catalyst plans ONE exchange — stages 2 and 3 reuse the
    * stage-1 hash partitioning (the explode is partition-local).
    */
  def stage1(kv: DataFrame, portable: Boolean = false): DataFrame =
    kv.filter(keep(col("k"), 100, "m1", portable))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), max(col("v")).as("v"))
      .filter(keep(col("k"), 400, "r1", portable))

  def stage2(c1: DataFrame, portable: Boolean = false): DataFrame =
    c1.groupBy(col("k"))
      .agg(sum(col("n")).as("n"), max(col("v")).as("v"))
      .filter(keep(col("k"), 770, "r2", portable))

  def stage3(c2: DataFrame, portable: Boolean = false): DataFrame =
    c2.select(col("k"), col("n"), col("v"),
        explode(when(keep(col("k"), 160, "m3", portable),
          array(lit(0), lit(1))).otherwise(array(lit(0)))).as("dup"))
      .groupBy(col("k"))
      .agg(sum(col("n")).as("n"), max(col("v")).as("v"))
      .filter(keep(col("k"), 910, "r3", portable))

  /** The full pipeline as one declarative chain (one exchange — see
    * the stage functions' plan note).
    */
  def threeStage(kv: DataFrame, portable: Boolean = false): DataFrame =
    stage3(stage2(stage1(kv, portable), portable), portable)

  /** The indirect-read family's ALGEBRA (README:57-64) as an
    * iterative transform — the graded twin of the soak's file-based
    * form (which reads each iteration's input by explicit path
    * list): iteration i consumes slice i of the corpus (id %
    * iterations) plus every previous iteration's output, keeps a 50%
    * key residue, and folds to one row per key. Returns the final
    * iteration's output.
    *
    * Each iteration is pinned (localCheckpoint) — the same
    * truncate-the-iterative-lineage rule as the connected-components
    * closure ([[graft.functions.Checkpoints]]): without it iteration
    * i's plan embeds every earlier iteration's subtree and the tree
    * doubles per round. The soak's file writes play this role in the
    * bulk form.
    */
  def indirectChain(kv: DataFrame, iterations: Int = 10,
                    portable: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    var outputs = List.empty[DataFrame]
    for (i <- 0 until iterations) {
      val slice = kv
        .filter(pmod(col("id"), lit(iterations.toLong)) === lit(i.toLong))
        .select(col("k"), col("v"))
      val in = (slice :: outputs).reduce(_.unionByName(_))
      val out = in.filter(keep(col("k"), 500, s"ind$i", portable))
        .groupBy(col("k")).agg(max(col("v")).as("v"))
        .localCheckpoint()
      outputs = out :: outputs
    }
    outputs.head
  }

  private def usedHeapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) >> 20
  }

  /** Run the six families sequentially under `workDir` at `scale`;
    * returns per-family results. With `reclaim` each family's
    * artifacts are deleted once nothing downstream reads them.
    */
  def run(spark: SparkSession, workDir: String, scale: Double,
          reclaim: Boolean = true): Seq[(String, FamilyResult)] =
    runFamilies(spark, workDir, rows(scale),
      Set("three_stage", "var_sort", "ref_select", "indirect_read",
        "api_sort", "combiner"), reclaim)

  private val viewId = new java.util.concurrent.atomic.AtomicLong()

  /** Row-group size for parquet writes of multi-KB rows, sized to the
    * heap: each concurrent writer task buffers a full row group of
    * UNMANAGED heap (outside Spark's spillable memory manager), so
    * `slots x block` must fit beside the sorter. A quarter of the
    * per-slot heap keeps the fleet under ~25% of the JVM (measured:
    * the 7.5x-dial var_sort at default 8 GB / 32 slots OOM'd with the
    * 128 MB default — 32 writers wanted ~4-8 GB unmanaged; 64 MB
    * blocks fit). Executors provisioned at the production >= 1 GB/core
    * keep the full 128 MB default; the floor stops absurdly small
    * groups on tiny test heaps.
    *
    * Per-slot heap comes from the JVM that RUNS the writer tasks: in
    * local mode that is this JVM's heap over its task slots; on a
    * cluster it is spark.executor.memory / spark.executor.cores —
    * NOT driver heap / cluster-wide parallelism, which would clamp
    * row groups to the floor fleet-wide off a small driver. */
  private[graft] def wideRowBlockBytes(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val perSlot =
      if (sc.isLocal)
        Runtime.getRuntime.maxMemory() / math.max(1, sc.defaultParallelism)
      else
        sc.getConf.getSizeAsBytes("spark.executor.memory", "1g") /
          math.max(1, sc.getConf.getInt("spark.executor.cores", 1))
    // an eighth, not a quarter: the writer ALSO holds compressor
    // buffers proportional to the row group, so the fleet's true
    // unmanaged footprint is ~2x block — measured: a quarter
    // (64 MB at 8 GB/32 slots) still OOM'd the 9M-row dial
    math.min(128L << 20, math.max(8L << 20, perSlot / 8))
  }

  private def runFamilies(spark: SparkSession, workDir: String,
                          rows: Rows, only: Set[String],
                          reclaim: Boolean): Seq[(String, FamilyResult)] = {
    import graft.sources.Generate
    val parts = spark.sparkContext.defaultParallelism
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, FamilyResult]
    def family(name: String)(body: => Long): Unit = if (only(name)) {
      val t0 = System.nanoTime()
      val n = body
      out(name) = FamilyResult((System.nanoTime() - t0) / 1e9, n,
        usedHeapMb(), 0L)
    }
    // The family's output volume is credited to its record (out_mb).
    // With reclaim — big-dial disk discipline, as the reference's
    // 2.5 TB gridmix runs reclaim between jobs under an HDFS quota —
    // the artifacts are then deleted: validated counts were already
    // taken inside the family, and nothing downstream reads them.
    def settle(fam: String, paths: String*): Unit = if (only(fam)) {
      def size(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      val files = paths.map(new java.io.File(_))
      val bytes = files.map(size).sum
      out.updateWith(fam)(_.map(r => r.copy(outBytes = r.outBytes + bytes)))
      if (reclaim) {
        files.foreach(Replay.rmTree)
        // the other half of the quota discipline: a finished family's
        // shuffle files sit in spark.local.dir until its dead
        // ShuffleDependency objects are GC'd and ContextCleaner
        // removes them asynchronously — measured ~15-25 GB of scratch
        // accumulated across the 7.5x sequential families, which is
        // what actually broke api_sort's external-sort children
        // (GNU sort exit 2 = temp write failed) after the artifact
        // reclaim alone. A GC tick per reclaimed family lets the
        // cleaner fire while the next family ramps. It frees only
        // unreachable state: a reachable leak (say, persisted blocks
        // still registered) still shows in used_heap_mb.
        System.gc()
      }
    }
    def readBack(path: String): DataFrame = spark.read.parquet(path)

    // ---- 1. three-stage pipeline (FIXCOMPSEQ: k=5 words, v=100) ----
    family("three_stage") {
      val fix = Generate.randomKv(spark, rows.fixed,
        keyMinWords = 5, keyMaxWords = 5,
        valueMinWords = 100, valueMaxWords = 100,
        vocab = 5000, seed = Seed, skewed = true,
        numPartitions = parts, portable = false)
      val c1 = s"$workDir/three_stage/c1"
      stage1(fix).write.mode(SaveMode.Overwrite).parquet(c1)
      val c2 = s"$workDir/three_stage/c2"
      stage2(readBack(c1)).write.mode(SaveMode.Overwrite).parquet(c2)
      val c3 = s"$workDir/three_stage/c3"
      stage3(readBack(c2)).write.mode(SaveMode.Overwrite).parquet(c3)
      val got = readBack(c3).count()
      require(got > 0, "three_stage: empty final stage")
      got
    }
    settle("three_stage", s"$workDir/three_stage")

    // ---- 2. large sort of variable k/v (VARCOMPSEQ) ---------------
    family("var_sort") {
      val dst = s"$workDir/var_sort/out"
      def sortedPlan = Generate.randomKv(spark, rows.variable,
        keyMinWords = 5, keyMaxWords = 10,
        valueMinWords = 100, valueMaxWords = 1000,
        vocab = 5000, seed = Seed + 1, skewed = false,
        numPartitions = parts, portable = false)
        .repartitionByRange(parts, col("k"))
        .sortWithinPartitions(col("k"))
      // multi-KB rows: cap the parquet row group so the writer fleet
      // fits the heap (see wideRowBlockBytes — the 7.5x dial OOM'd
      // the default heap with 32 writers x 128 MB unmanaged buffers)
      sortedPlan.write
        .option("parquet.block.size", wideRowBlockBytes(spark))
        .mode(SaveMode.Overwrite).parquet(dst)
      // TeraValidate the PLAN (deterministic regeneration of the
      // written frame): a parquet read-back reorders partitions by
      // file size for bin-packing, so file-side validation would
      // flag a correctly sorted artifact
      val (ok, n) = graft.operators.Sorting.validateSorted(
        sortedPlan, Seq("k"))
      require(ok, "var_sort: output failed the sort validator")
      require(n == rows.variable,
        s"var_sort: sorted $n of ${rows.variable} rows")
      require(readBack(dst).count() == rows.variable,
        "var_sort: artifact row count diverged")
      n
    }

    // ---- 3. reference select (0.2% map, 5% reduce, 1 reducer) -----
    family("ref_select") {
      val dst = s"$workDir/ref_select/out"
      readBack(s"$workDir/var_sort/out")
        .filter(keep(col("k"), 2, "sel"))
        .groupBy(col("k")).agg(max(col("v")).as("v"))
        .filter(keep(col("k"), 50, "selr"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dst)
      readBack(dst).count()
    }
    // var_sort's artifact is only now consumable-free (ref_select
    // reads it), so both settle here
    settle("ref_select", s"$workDir/ref_select")
    settle("var_sort", s"$workDir/var_sort")

    // ---- 4. indirect read (10 iterations, path-list inputs) -------
    family("indirect_read") {
      val base = s"$workDir/indirect/base"
      Generate.randomKv(spark, rows.text,
        keyMinWords = 5, keyMaxWords = 5,
        valueMinWords = 20, valueMaxWords = 20,
        vocab = 2000, seed = Seed + 2, skewed = true,
        numPartitions = parts, portable = false)
        .withColumn("slice", pmod(col("id"), lit(10L)))
        .select(col("k"), col("v"), col("slice"))
        .write.mode(SaveMode.Overwrite).partitionBy("slice")
        .parquet(base)
      var outputs = List.empty[String]
      var lastRows = 0L
      (0 until 10).foreach { i =>
        val paths = s"$base/slice=$i" :: outputs
        val dst = s"$workDir/indirect/out_$i"
        spark.read.parquet(paths: _*)
          .select(col("k"), col("v"))
          .filter(keep(col("k"), 500, s"ind$i"))
          .groupBy(col("k")).agg(max(col("v")).as("v"))
          .write.mode(SaveMode.Overwrite).parquet(dst)
        outputs = dst :: outputs
        lastRows = readBack(dst).count()
      }
      require(lastRows > 0, "indirect_read: empty final iteration")
      lastRows
    }
    settle("indirect_read", s"$workDir/indirect")

    // ---- 5. API text sort (DataFrame / SQL / external pipe) -------
    family("api_sort") {
      val text = Generate.randomKv(spark, rows.text,
        keyMinWords = 1, keyMaxWords = 10,
        valueMinWords = 0, valueMaxWords = 200,
        vocab = 5000, seed = Seed + 3, skewed = false,
        numPartitions = parts, portable = false)
        .select(col("k"), col("v"))
      val dfDst = s"$workDir/api_sort/df"
      def dfSorted = text.repartitionByRange(parts, col("k"))
        .sortWithinPartitions(col("k"))
      dfSorted.write.mode(SaveMode.Overwrite).parquet(dfDst)
      // thread-unique view name: concurrent lanes share one catalog
      val view = s"graft_soak_text_${viewId.incrementAndGet()}"
      text.createOrReplaceTempView(view)
      val sqlDst = s"$workDir/api_sort/sql"
      spark.sql(
        "SELECT /*+ REPARTITION_BY_RANGE(k) */ k, v " +
          s"FROM $view SORT BY k")
        .write.mode(SaveMode.Overwrite).parquet(sqlDst)
      val pipeDst = s"$workDir/api_sort/pipe"
      // the pipes-sort analog: one `sort` child per range partition;
      // C-locale line order on "k\tv" = order by k then v (tab sorts
      // below every printable byte, and C order = UTF-8 byte order =
      // Spark's own string order)
      def pipeSorted = graft.operators.Pipe.pipe(
        text.repartitionByRange(parts, col("k")),
        "env LC_ALL=C sort", col("k"), col("v"))
      pipeSorted.write.mode(SaveMode.Overwrite).parquet(pipeDst)
      val nDf = readBack(dfDst).count()
      val nSql = readBack(sqlDst).count()
      val nPipe = readBack(pipeDst).count()
      require(Seq(nDf, nSql, nPipe).forall(_ == rows.text),
        s"api_sort: row counts diverged df=$nDf sql=$nSql pipe=$nPipe " +
          s"expected=${rows.text}")
      // validate the PLANS (see var_sort: read-back reorders files)
      val (okDf, _) = graft.operators.Sorting.validateSorted(
        dfSorted, Seq("k"))
      val (okPipe, _) = graft.operators.Sorting.validateSorted(
        pipeSorted, Seq("value"))
      require(okDf && okPipe,
        s"api_sort: sort validation failed df=$okDf pipe=$okPipe")
      nDf
    }
    settle("api_sort", s"$workDir/api_sort")

    // ---- 6. combiner (gridmix2's wordcount-with-combiner class) ---
    // the high map-output-ratio family: every value explodes into
    // tokens (~10x the input rows) and the token-keyed aggregation's
    // map-side combine is what keeps the exchange survivable — the
    // gridmix2 job this models exists to punish engines without one
    family("combiner") {
      val corpus = Generate.randomKv(spark, rows.text,
        keyMinWords = 1, keyMaxWords = 3,
        valueMinWords = 5, valueMaxWords = 60,
        vocab = 3000, seed = Seed + 4, skewed = true,
        numPartitions = parts, portable = false)
        .select(col("k"), col("v"))
      val dst = s"$workDir/combiner/out"
      corpus.select(explode(split(col("v"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .write.mode(SaveMode.Overwrite).parquet(dst)
      // conservation check: the written histogram must account for
      // every token the corpus carries (a lost/duplicated partial
      // would silently corrupt the count)
      val total = readBack(dst)
        .agg(sum(col("cnt"))).head().getLong(0)
      // valueMinWords = 5 ⇒ no empty values, so size(split) is the
      // exact token count per row
      val expect = corpus
        .agg(sum(size(split(col("v"), " ")).cast("long")))
        .head().getLong(0)
      require(total == expect,
        s"combiner: histogram mass $total != corpus token count $expect")
      readBack(dst).count()
    }
    settle("combiner", s"$workDir/combiner")

    out.toSeq
  }

  /** CONCURRENT soak — the reference's actual submission model
    * (README:74-77: "runs a mix of small, medium, and large jobs
    * simultaneously"): the same validated families submitted as
    * concurrent actions from separate threads into one scheduler.
    * This exercises what the sequential soak cannot — concurrent
    * stage scheduling, shared block-manager/shuffle pressure, and
    * catalog contention (the SQL leg's temp view is made
    * thread-unique). The ref_select family consumes var_sort's
    * output, so those two stay a sequential chain inside one lane;
    * the other families race freely. Each lane sets its scheduler
    * pool, which takes effect on a FAIR session
    * ([[fairSchedulerConfs]]) as [[soak]] runs it; under FIFO the
    * lanes interleave at stage granularity.
    *
    * Returns the same per-family results (their wall clocks now
    * overlap — total wall < the sum is the point).
    */
  def runConcurrent(spark: SparkSession, workDir: String, scale: Double,
                    reclaim: Boolean = true): Seq[(String, FamilyResult)] = {
    import java.util.concurrent.{Executors, TimeUnit}
    // each lane is an independent runFamilies cut down to its families
    // under a distinct sub-workdir (artifacts are named per family, so
    // lanes never collide on paths)
    val lanes = Seq("pipe" -> Set("three_stage"),
      "sort" -> Set("var_sort", "ref_select"),
      "ind" -> Set("indirect_read"), "api" -> Set("api_sort"),
      "comb" -> Set("combiner"))
    val pool = Executors.newFixedThreadPool(lanes.size)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, FamilyResult)]()
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    lanes.foreach { case (lane, families) =>
      pool.execute { () =>
        // lane → scheduler pool: api_sort is the saturating bulk lane
        // — the reference's "large job" — and every other family
        // shares the weighted short pool, so none of them can be
        // starved behind api_sort's long task queue (the contrib
        // fair-scheduler guarantee, as Spark configuration)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          if (lane == "api") "bulk" else "short")
        try runFamilies(spark, s"$workDir/lane_$lane", rows(scale),
          families, reclaim).foreach(results.add)
        catch { case t: Throwable => failures.add(t) }
      }
    }
    pool.shutdown()
    // awaitTermination returning false means lanes are STILL RUNNING
    // past the deadline — proceeding would report a seemingly clean
    // soak that silently dropped in-flight families; fail loud
    val drained = pool.awaitTermination(4, TimeUnit.HOURS)
    if (!drained) {
      pool.shutdownNow()
      throw new IllegalStateException(
        "soak: concurrent lanes did not finish within the 4 h " +
          "deadline — results would be partial; aborting")
    }
    if (!failures.isEmpty) throw failures.peek()
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq.sortBy(_._1)
  }

  /** The soak as `main` runs it: the sequential leg, then the
    * concurrent leg, each in its own subdirectory of a fresh work dir
    * that is swept afterwards. Throws unless every family returned
    * the same rows under both schedules (generation and keeps are
    * deterministic). Run it on a FAIR session ([[fairSchedulerConfs]])
    * for the concurrent lanes' pools to apply; the sequential leg
    * sets no pool, so FAIR leaves it as FIFO would.
    */
  def soak(spark: SparkSession, scale: Double): (Leg, Leg) =
    withWorkDir { dir =>
      def leg(body: => Seq[(String, FamilyResult)]): Leg = {
        val t0 = System.nanoTime()
        val families = body
        Leg((System.nanoTime() - t0) / 1e9, families)
      }
      val sequential = leg(run(spark, s"$dir/sequential", scale))
      val concurrent = leg(runConcurrent(spark, s"$dir/concurrent", scale))
      checkLegs(sequential, concurrent)
      (sequential, concurrent)
    }

  /** Throws unless both legs ran the same families to the same rows. */
  private[graft] def checkLegs(sequential: Leg, concurrent: Leg): Unit = {
    def rowsOf(l: Leg) = l.families.map { case (n, r) => n -> r.rows }.toMap
    if (rowsOf(sequential) != rowsOf(concurrent))
      throw new IllegalStateException("soak: family rows differ across " +
        s"schedules: sequential ${rowsOf(sequential)}, " +
        s"concurrent ${rowsOf(concurrent)}")
  }

  /** Runs `body` in a fresh `graft-soak*` directory under
    * `java.io.tmpdir` and deletes it afterwards (or at JVM exit, if
    * the run is killed): the soak only ever deletes what it created.
    * A big run points `-Djava.io.tmpdir` at a large disk.
    */
  private[graft] def withWorkDir[T](body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-soak").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => Replay.rmTree(dir)))
    try body(dir) finally Replay.rmTree(dir)
  }

  /** Two weighted scheduler pools — the Spark-configuration form of
    * the reference's contrib schedulers (fairscheduler's per-pool
    * weights/minShare; capacity-scheduler's guaranteed capacity):
    * `short` (weight 4, minShare 2 cores — interactive/small
    * families are guaranteed a slice the moment a core frees) and
    * `bulk` (weight 1 — the saturating job soaks whatever is left).
    */
  private[graft] val fairPoolsXml: String =
    """<?xml version="1.0"?>
      |<allocations>
      |  <pool name="short">
      |    <schedulingMode>FIFO</schedulingMode>
      |    <weight>4</weight>
      |    <minShare>2</minShare>
      |  </pool>
      |  <pool name="bulk">
      |    <schedulingMode>FIFO</schedulingMode>
      |    <weight>1</weight>
      |    <minShare>0</minShare>
      |  </pool>
      |</allocations>
      |""".stripMargin

  /** Write [[fairPoolsXml]] to a temp file and return the confs that
    * turn a session into a FAIR-scheduled one (context-creation-time
    * settings — pass to [[Graft.session]]'s `extraConfs`).
    */
  def fairSchedulerConfs(): Map[String, String] = {
    val f = java.nio.file.Files.createTempFile("graft-fair-pools", ".xml")
    java.nio.file.Files.writeString(f, fairPoolsXml)
    f.toFile.deleteOnExit()
    Map("spark.scheduler.mode" -> "FAIR",
      "spark.scheduler.allocation.file" -> f.toString)
  }

  /** Scheduler-starvation probe: a bulk job saturates every core
    * with `bulkTasks` spin tasks of `taskMs` each (submitted from a
    * thread in the `bulk` pool), then — once the queue is full — a
    * tiny job is submitted in the `short` pool and its LATENCY is
    * measured. Under FIFO the short job's tasks sit behind the bulk
    * job's entire remaining queue (the pathology the reference's
    * contrib fair/capacity schedulers exist to fix:
    * src/contrib/fairscheduler/.../FairScheduler.java:44); under
    * FAIR + [[fairPoolsXml]] the short pool is offered cores as each
    * bulk task finishes, so latency is O(taskMs), not O(queue).
    * Returns (short-job latency s, bulk wall s). The session decides
    * the mode — run once on a FIFO session and once on a FAIR one.
    */
  def schedulerProbe(spark: SparkSession, bulkTasks: Int = 256,
                     taskMs: Long = 150L): (Double, Double) = {
    val sc = spark.sparkContext
    // warm both code paths so neither leg pays first-job setup
    sc.parallelize(1 to 4, 4).map(identity).count(): Unit
    def spin(n: Int): Int = {
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < taskMs * 1000000L) {}
      n
    }
    val bulkWall = new java.util.concurrent.atomic.AtomicLong()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val bulk = new Thread(() => {
      try {
        sc.setLocalProperty("spark.scheduler.pool", "bulk")
        val t0 = System.nanoTime()
        sc.parallelize(1 to bulkTasks, bulkTasks).map(spin).count(): Unit
        bulkWall.set(System.nanoTime() - t0)
      } catch { case t: Throwable => failure.set(t) }
    }, "graft-sched-bulk")
    bulk.start()
    // let the bulk stage occupy the cores and build its queue
    Thread.sleep(1000)
    sc.setLocalProperty("spark.scheduler.pool", "short")
    val t0 = System.nanoTime()
    val n = sc.parallelize(1 to 4, 4).count()
    val shortLat = (System.nanoTime() - t0) / 1e9
    require(n == 4, s"short probe job returned $n rows")
    bulk.join()
    Option(failure.get()).foreach(throw _)
    (shortLat, bulkWall.get() / 1e9)
  }

  /** `--scheduler`: run [[schedulerProbe]] on a FIFO session, then on
    * a FAIR session with [[fairPoolsXml]], and print both short-job
    * latencies — the FIFO-starves-short / FAIR-bounds-short evidence
    * pair. Task count scales with cores so the bulk queue outlives
    * the probe's 1 s head start at any local[N].
    */
  private def schedulerMain(): Unit = {
    val bulkTasks = Graft.cpus * 24
    def leg(label: String, confs: Map[String, String]): (Double, Double) = {
      val s = Graft.querySession(s"graft-sched-$label", confs)
      try schedulerProbe(s, bulkTasks = bulkTasks) finally s.stop()
    }
    val (fifoShort, fifoBulk) = leg("fifo", Map.empty)
    val (fairShort, fairBulk) = leg("fair", fairSchedulerConfs())
    println(s"""{"probe":"scheduler","cpus":${Graft.cpus},""" +
      s""""bulk_tasks":$bulkTasks,""" +
      s""""fifo_short_latency_s":${fmt(fifoShort, 3)},""" +
      s""""fair_short_latency_s":${fmt(fairShort, 3)},""" +
      s""""fifo_bulk_s":${fmt(fifoBulk, 3)},""" +
      s""""fair_bulk_s":${fmt(fairBulk, 3)}}""")
  }

  private def fmt(v: Double, places: Int): String =
    BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP).toString

  /** Runs [[soak]] (or, with `--scheduler`, [[schedulerMain]]) on a
    * FAIR session of `local[SPARK_GRAFT_CPUS]` and prints one JSON
    * line: the corpus sizes, then per leg its wall and per family its
    * seconds, rows, used heap and written MB. `SPARK_GRAFT_SOAK_SCALE`
    * (default 1) multiplies the corpus sizes.
    */
  def main(args: Array[String]): Unit = {
    if (args.contains("--scheduler")) { schedulerMain(); return }
    val scale = sys.env.get("SPARK_GRAFT_SOAK_SCALE").fold(1.0)(_.toDouble)
    val spark = Graft.querySession("graft-soak", fairSchedulerConfs())
    try {
      val (sequential, concurrent) = soak(spark, scale)
      def json(l: Leg): String = l.families.map { case (n, r) =>
        s""""$n":{"sec":${fmt(r.seconds, 2)},"rows":${r.rows},""" +
          s""""used_heap_mb":${r.usedHeapMb},""" +
          s""""out_mb":${fmt(r.outBytes / 1048576.0, 3)}}"""
      }.mkString(s"""{"sec":${fmt(l.seconds, 2)},"families":{""", ",", "}}")
      val r = rows(scale)
      println(s"""{"metric":"soak","scale":$scale,"fix_rows":${r.fixed},""" +
        s""""var_rows":${r.variable},"text_rows":${r.text},""" +
        s""""sequential":${json(sequential)},""" +
        s""""concurrent":${json(concurrent)}}""")
    } finally spark.stop()
  }
}
