package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The reference's declarative aggregate library (reference:
  * src/mapred/org/apache/hadoop/mapred/lib/aggregate/ —
  * LongValueSum.java, DoubleValueSum.java, LongValueMax/Min.java,
  * StringValueMax/Min.java, UniqValueCount.java:36-91,
  * ValueHistogram.java:78-133,
  * ValueAggregatorBaseDescriptor.java:33-137).
  *
  * Mappers there emit `"type:id" -> value` descriptors and a shared
  * combiner/reducer family folds them; partial aggregation (the
  * combiner) is the core trick. In Spark every one of these is a
  * `groupBy(...).agg(...)` with automatic partial/final split, so the
  * simple members are thin aliases; the two with bespoke semantics —
  * capped distinct count and the histogram report — get a real
  * `Aggregator` and a composed pipeline respectively.
  */
object AggregateLib {

  /** AccumulatingReducer (reference:
    * src/test/org/apache/hadoop/fs/AccumulatingReducer.java — the
    * DFSIO collector): the VALUE TYPE rides on the key prefix —
    * `l:` keys long-sum their values, `f:` keys double-sum, anything
    * else string-concatenates. One pass, one shuffle; all three
    * aggregates are partial-aggregated and the prefix CASE picks the
    * surviving one per group. Concatenation is over sorted values —
    * deterministic, unlike the reference's reduce-iteration order.
    * Non-numeric values under a numeric prefix become null via
    * try_cast (the reference would throw mid-job).
    */
  def accumulatingReduce(df: DataFrame, key: Column, value: Column,
                         concatSep: String = ";"): DataFrame = {
    // project key/value onto reserved names FIRST: referencing the
    // grouping alias inside agg() would otherwise lean on
    // lateral-column-alias resolution, which an input column that
    // happens to be named "key" (or a disabled LCA conf) breaks
    val kv = df.select(key.cast("string").as("__k"),
      value.cast("string").as("__v"))
    kv.groupBy(col("__k"))
      .agg(
        when(col("__k").startsWith("l:"),
          sum(col("__v").try_cast("long")).cast("string"))
        .when(col("__k").startsWith("f:"),
          sum(col("__v").try_cast("double")).cast("string"))
        // collect_list skips nulls, so numeric-prefixed groups buffer
        // NOTHING here — without the when(), every l:/f: group would
        // hold its whole value list in the list buffer (unbounded
        // state on hot numeric keys) just to discard it in the CASE
        .otherwise(concat_ws(concatSep, sort_array(collect_list(
          when(!col("__k").startsWith("l:") && !col("__k").startsWith("f:"),
            col("__v"))))))
        .as("value"))
      .withColumnRenamed("__k", "key")
  }

  /** The aggregate library's REDUCE side as data-driven dispatch
    * (reference: ValueAggregatorReducer.java:49-66 — the key prefix
    * "Type:id" picks the aggregator, the reducer strips the type and
    * emits (id, report)). This is the engine behind Hadoop
    * Streaming's `-reducer aggregate` special form (reference:
    * src/contrib/streaming/.../StreamJob.java:722 binds the aggregate
    * package as the reduce): a user mapper emits descriptor lines,
    * the framework aggregates them — compose with
    * [[graft.operators.Pipe.pipeKV]] for the full streaming form.
    *
    * All eight ValueAggregatorBaseDescriptor types dispatch on the
    * prefix. Keys with no ":" separator get a null report (the
    * reference throws mid-job on them). Reports are strings, as the
    * reference's Text output.
    *
    * Scale shape: ONE pre-aggregation by (key, value) collapses the
    * record stream to frequency rows with map-side combine (the
    * combiner role), then one key-level aggregation derives every
    * type's report from (value, freq) — sums weight by freq, min/max
    * pass through, UniqValueCount is the capped row count (exact:
    * rows are distinct values), and ValueHistogram's stats are the
    * reference's count/min/upper-median/max/mean/population-stddev
    * over the frequency multiset. The only per-group buffer is the
    * histogram's sorted frequency list — O(distinct values per
    * histogram key), the same state the reference's TreeMap holds.
    */
  def aggregateReduce(kv: DataFrame, key: Column, value: Column,
                      uniqCap: Long = Long.MaxValue): DataFrame = {
    // first ":" splits type from id — the id may itself contain ":"
    val keyed = kv.select(key.cast("string").as("__key"),
        value.cast("string").as("__v"))
      .withColumn("__sep", instr(col("__key"), ":"))
      .withColumn("__type",
        when(col("__sep") > 0,
          col("__key").substr(lit(1), col("__sep") - 1)))
      .withColumn("__id",
        when(col("__sep") > 0,
          col("__key").substr(col("__sep") + 1, length(col("__key")))))
    val freq = keyed.groupBy(col("__type"), col("__id"), col("__v"))
      .agg(count(lit(1)).as("__freq"))
    val n = count(lit(1)) // distinct values per (type, id)
    val avgFreq = sum(col("__freq")).cast("double") / count(lit(1))
    freq.groupBy(col("__type"), col("__id"))
      .agg(
        when(col("__type") === "LongValueSum",
          sum(col("__v").try_cast("long") * col("__freq")).cast("string"))
        .when(col("__type") === "DoubleValueSum",
          sum(col("__v").try_cast("double") * col("__freq")).cast("string"))
        .when(col("__type") === "LongValueMax",
          max(col("__v").try_cast("long")).cast("string"))
        .when(col("__type") === "LongValueMin",
          min(col("__v").try_cast("long")).cast("string"))
        .when(col("__type") === "StringValueMax", max(col("__v")))
        .when(col("__type") === "StringValueMin", min(col("__v")))
        .when(col("__type") === "UniqValueCount",
          least(n, lit(uniqCap)).cast("string"))
        .when(col("__type") === "ValueHistogram",
          concat_ws("\t",
            n.cast("string"),
            min(col("__freq")).cast("string"),
            // the reference's median: sorted counts[len / 2] — the
            // UPPER median, no interpolation
            element_at(sort_array(collect_list(
              when(col("__type") === "ValueHistogram", col("__freq")))),
              (n / 2 + 1).cast("int")).cast("string"),
            max(col("__freq")).cast("string"),
            avgFreq.cast("string"),
            sqrt(sum(col("__freq").cast("double") * col("__freq")) / n
              - avgFreq * avgFreq).cast("string")))
        .as("value"))
      .select(col("__id").as("key"), col("value"))
  }

  // -- the simple family: direct built-in mappings -------------------
  // strict casts by design: the reference parses with Long.parseLong/
  // Double.parseDouble and fails the job on malformed input — same
  // contract here under ANSI. Callers needing tolerance route rows
  // through Resilient.trySplit (or pre-try_cast) first.
  def longValueSum(c: Column): Column = sum(c.cast("long"))
  def doubleValueSum(c: Column): Column = sum(c.cast("double"))
  def longValueMax(c: Column): Column = max(c.cast("long"))
  def longValueMin(c: Column): Column = min(c.cast("long"))
  def stringValueMax(c: Column): Column = max(c.cast("string"))
  def stringValueMin(c: Column): Column = min(c.cast("string"))

  /** Exact capped distinct count, `UniqValueCount(maxNumItems)`
    * semantics (reference: UniqValueCount.java:36-91): the buffer is
    * a set that stops growing at the cap, the report is its size —
    * i.e. `min(countDistinct, cap)`, but computed with bounded state
    * like the reference (each partial buffer ≤ cap entries, so
    * executor memory is bounded no matter the key's cardinality —
    * that's what makes it safe at 100 TB, unlike a raw
    * `collect_set`).
    */
  final class UniqValueCount(cap: Int)
      extends Aggregator[String, mutable.HashSet[String], Long]
      with graft.BufferBound {
    // HashSet entry ≈ 40 B of node/table overhead + a short string;
    // the cap is the bound (reduce/merge stop growing the set there)
    def bufferBytesBound: Long = cap.toLong * 64L
    def zero: mutable.HashSet[String] = mutable.HashSet.empty
    def reduce(b: mutable.HashSet[String], a: String): mutable.HashSet[String] = {
      if (b.size < cap && a != null) b += a
      b
    }
    def merge(b1: mutable.HashSet[String], b2: mutable.HashSet[String]): mutable.HashSet[String] = {
      val it = b2.iterator
      while (b1.size < cap && it.hasNext) b1 += it.next()
      b1
    }
    def finish(b: mutable.HashSet[String]): Long = b.size.toLong
    def bufferEncoder: Encoder[mutable.HashSet[String]] =
      Encoders.kryo[mutable.HashSet[String]]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Column form of [[UniqValueCount]] for untyped `agg(...)`. */
  def uniqValueCount(c: Column, cap: Int): Column =
    udaf(new UniqValueCount(cap), Encoders.STRING)(c.cast("string"))

  /** Sketch-path variant for 100 TB cardinalities: HyperLogLog++ with
    * the same cap contract applied to the estimate. State is O(1)
    * regardless of cardinality (vs the exact form's O(cap) set);
    * trade: ±rsd relative error. Use when the caller needs "did we
    * exceed N distinct" rather than the exact count.
    */
  def uniqValueCountApprox(c: Column, cap: Int, rsd: Double = 0.02): Column =
    least(approx_count_distinct(c, rsd), lit(cap.toLong))

  /** Register the aggregate-library plugin surface (reference:
    * UserDefinedValueAggregatorDescriptor.java:115 — class-name-loaded
    * user aggregators): the Aggregator becomes callable from SQL text.
    */
  def registerSqlAggregates(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("uniq_value_count_50",
      udaf(new UniqValueCount(50), Encoders.STRING))
    ()
  }

  /** ValueHistogram (reference: ValueHistogram.java:78-133): per group
    * key, build the value→frequency table, then report
    * (#distinct values, min/median/max/mean/stddev of the
    * frequencies). Two cascaded hash aggregations — both get map-side
    * partial aggregation; no collect, no per-group buffering.
    *
    * All stats derive from exact integer sums (population stddev via
    * sum of squares), so the report is bit-reproducible across
    * engines and partitionings.
    */
  def valueHistogram(df: DataFrame, groupCols: Seq[Column], value: Column): DataFrame = {
    val freq = df.groupBy(groupCols :+ value.cast("string").as("__v"): _*)
      .agg(count(lit(1)).as("__freq"))
    freq.groupBy(groupCols: _*).agg(
      count(lit(1)).as("n_values"),
      min(col("__freq")).as("min_freq"),
      median(col("__freq")).as("median_freq"),
      max(col("__freq")).as("max_freq"),
      round(sum(col("__freq")).cast("double") / count(lit(1)), 4).as("avg_freq"),
      round(sqrt(
        sum(col("__freq").cast("double") * col("__freq")) / count(lit(1)) -
        pow(sum(col("__freq")).cast("double") / count(lit(1)), 2)), 4)
        .as("stddev_freq"))
  }

  /** Column name for percentile p: 0.5 -> p50, 0.99 -> p99,
    * 0.999 -> p99_9 — stable, SQL-safe names for any reasonable p.
    */
  private def pName(p: Double): String = {
    // exact decimal point-shift of the double's shortest repr —
    // p * 100 in binary floating point would name 0.57 as
    // p56_99999999999999
    val s = BigDecimal(p).underlying.movePointRight(2)
      .stripTrailingZeros.toPlainString
    "p" + s.replace(".", "_")
  }

  private def checkPs(ps: Seq[Double]): Unit = {
    require(ps.nonEmpty, "ps must be non-empty")
    ps.foreach(p => require(p >= 0 && p <= 1, s"percentile $p not in [0,1]"))
  }

  /** EXACT per-group percentiles (linear interpolation at
    * pos = p·(n-1), the quantile_cont convention both engines share)
    * of a numeric value — the distribution report a pipeline runs on
    * doc lengths / token counts before choosing filter cutoffs.
    * Output: (grp, n, p<P1>, p<P2>, ...), percentiles rounded(,4).
    *
    * Exact percentile buffers each group's values in the aggregation
    * (ObjectHashAggregate, spillable) — fine for per-stratum
    * reports; for percentiles OVER a 100 TB value column use
    * [[percentileReportApprox]], whose sketch state is bounded and
    * mergeable map-side.
    */
  def percentileReport(df: DataFrame, group: Column, value: Column,
                       ps: Seq[Double]): DataFrame = {
    checkPs(ps)
    // ONE percentile aggregate over the array of ps: separate
    // percentile(v, p) calls each buffer the group's full value
    // multiset — ps.length× the aggregation memory/spill on exactly
    // the large groups the exactness caveat worries about
    val agged = df.groupBy(group.as("grp")).agg(
      count(lit(1)).as("n"),
      call_function("percentile", value,
        array(ps.map(lit): _*)).as("__ps"))
    agged.select(col("grp") +: col("n") +:
      ps.zipWithIndex.map { case (p, i) =>
        round(element_at(col("__ps"), i + 1), 4).as(pName(p))
      }: _*)
  }

  /** Sketch-based variant of [[percentileReport]] (bounded state,
    * map-side mergeable — the 100 TB path). Results differ from the
    * exact form within the sketch's rank-error bound.
    */
  def percentileReportApprox(df: DataFrame, group: Column, value: Column,
                             ps: Seq[Double],
                             accuracy: Int = 10000): DataFrame = {
    checkPs(ps)
    val agged = df.groupBy(group.as("grp")).agg(
      count(lit(1)).as("n"),
      percentile_approx(value, array(ps.map(lit): _*), lit(accuracy))
        .as("__ps"))
    agged.select(col("grp") +: col("n") +:
      ps.zipWithIndex.map { case (p, i) =>
        element_at(col("__ps"), i + 1).as(pName(p))
      }: _*)
  }
}
