package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: z-order (Morton-curve) clustering
  * for write-time organization of a lake table that is box-queried on
  * more than one column.
  *
  * The reference organizes data one-dimensionally — a MapFile sorts
  * by THE key (reference: src/core/org/apache/hadoop/io/MapFile.java:
  * 98, "key-ordered data file plus index"), and TotalOrderPartitioner
  * range-partitions on one comparator — so a scan selective on any
  * OTHER column reads everything. Z-ordering is the multi-column
  * generalization a 100 TB lake needs: interleave the bits of each
  * column's quantile-bucket rank, range-partition + sort on the
  * interleaved value, and every output file/row group covers a small
  * BOUNDING BOX in all z-columns at once. Parquet's per-row-group
  * min/max stats then prune a conjunctive range predicate on ANY
  * subset of the z-columns — the layout does at the storage level
  * what the reference's single-key index can only do for its one key.
  *
  * Scale design: bucket boundaries come from one `approxQuantile`
  * pass (O(bits · bins) driver state, like IVF's centroid pull —
  * robust to skewed value distributions where fixed-width bucketing
  * collapses); the z-value itself is a pure column expression
  * (codegen'd bit arithmetic, no UDF); the write is one range
  * exchange on the z-value. Nothing here is driver-row-scaled.
  */
object Layout {

  /** Quantile-bucket rank of `c` against precomputed boundaries:
    * the count of boundaries <= value, in 0..bounds.length, built as
    * a BALANCED BINARY-SEARCH CaseWhen tree — log2(bins) codegen'd
    * comparisons per row. The obvious `size(filter(lit-array, b =>
    * b <= v))` form is an interpreted higher-order function: no
    * codegen, no subexpression elimination, bins comparisons with
    * boxing per row — measured >10× slower across a 600k-row write.
    * A null value fails every comparison and descends to rank 0:
    * nulls cluster at the curve's origin instead of poisoning the
    * z-value.
    */
  private def bucketOf(c: Column, bounds: Array[Double]): Column = {
    val v = c.cast("double")
    // rank in [lo, hi]; rank >= mid  <=>  bounds(mid-1) <= value
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi + 1) / 2
        when(v >= lit(bounds(mid - 1)), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    search(0, bounds.length)
  }

  /** Morton interleave of per-column bucket ranks: bit j of the
    * result is bit (j / k) of column (j mod k), for k columns of
    * `bits` bits each. Disjoint target bits, so the combine is a
    * plain sum of shifted single-bit terms — stays inside
    * whole-stage codegen.
    */
  private[graft] def interleave(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty && ranks.size * bits <= 63,
      s"z-value needs ${ranks.size}x$bits bits; max 63")
    val k = ranks.size
    val terms = for (i <- 0 until bits; j <- 0 until k) yield
      shiftleft(shiftright(ranks(j), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ + _)
  }

  /** Per-column approximate quantile boundaries (2^bits buckets) in
    * one stats pass for ALL columns; relativeError trades boundary
    * precision for pass cost — boundaries only steer clustering,
    * never correctness.
    */
  private def quantileBounds(df: DataFrame, zcols: Seq[String],
                             bits: Int): Seq[Array[Double]] = {
    require(zcols.nonEmpty, "zorder needs at least one column")
    val bins = 1 << bits
    val probs = (1 until bins).map(_.toDouble / bins).toArray
    df.stat.approxQuantile(zcols.toArray, probs, 0.001)
      .toSeq.map(_.distinct.sorted)
  }

  /** Write `df` clustered on the z-curve over `zcols`: range-exchange
    * into `outFiles` curve segments, sort each segment, drop the
    * helper columns, write parquet. Each output file (and each row
    * group inside it) covers a contiguous curve segment ≈ a small
    * axis-aligned tile of the `zcols` domain, so min/max pruning
    * serves conjunctive box predicates on any subset of `zcols`.
    *
    * The per-column bucket ranks materialize in their OWN projection
    * below the z-value: the rank is an interpreted higher-order
    * filter (non-codegen ⇒ no subexpression elimination), and
    * inlining it into the `bits` interleave terms re-evaluates it
    * per term — CollapseProject keeps the stage split because the
    * alias is non-cheap and multiply referenced.
    */
  def zorderWrite(df: DataFrame, path: String, zcols: Seq[String],
                  bits: Int = 8, outFiles: Int = 16): Unit = {
    val bounds = quantileBounds(df, zcols, bits)
    val rankNames = zcols.zipWithIndex.map { case (_, i) =>
      graft.Names.fresh(s"__zr$i", df.columns) }
    val ranked = zcols.zip(bounds).zip(rankNames)
      .foldLeft(df) { case (acc, ((c, b), rn)) =>
        acc.withColumn(rn, bucketOf(col(c), b)) }
    val z = graft.Names.fresh("__z", ranked.columns)
    ranked.withColumn(z, interleave(rankNames.map(col), bits))
      .repartitionByRange(outFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(rankNames :+ z: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Per-output-file bounding boxes of two layout columns — the
    * locality witness ([[zorderWrite]]'s contract made measurable):
    * one row per file with min/max of both columns. A z-ordered
    * layout shows near-square tiles; a single-column sort shows
    * full-range slivers in the other column.
    */
  def fileBoxes(spark: org.apache.spark.sql.SparkSession, path: String,
                cx: String, cy: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(cx)).as("x_min"), max(col(cx)).as("x_max"),
        min(col(cy)).as("y_min"), max(col(cy)).as("y_max"))
}
