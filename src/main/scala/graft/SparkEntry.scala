package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.TextOps
import graft.queries._

/** Driver contract — one [[queries.Query]], a query with its DuckDB
  * oracle, per implemented operator from SURVEY.md §2.
  *
  * Parity rules used throughout (so Spark and the DuckDB oracle
  * hash-match bit-for-bit):
  *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent)
  *  - averages/stddevs are derived from exact integer/decimal sums and
  *    only then divided as doubles and rounded — identical operand
  *    bits in both engines regardless of partitioning
  *  - raw column values (incl. doubles) pass through untouched — both
  *    engines read the same parquet bits
  *  - every output column is aliased identically in Spark and SQL
  */
object SparkEntry {

  /** Nanoseconds the CURRENT query spent staging its [[Replay]] (the
    * driver-side harness cost of the streaming queries — temp parquet
    * write, mod-time stamping, slice release — NOT operator work; at
    * deployment the ingest directory already exists). Bench resets
    * this before each sample and subtracts it to report the
    * stream-only cost separately from the harness.
    */
  val replayWriteNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Nanoseconds the CURRENT query spent building its on-disk
    * ARTIFACT (the z-order clustered rewrite) — genuine operator
    * work, unlike [[replayWriteNanos]]' harness cost, but work whose
    * payoff is on the READ side: a layout rewrite is amortized over
    * every later probe, so the bench splits the record (rewrite vs
    * probe) to track the part that matters at 100 TB.
    */
  val artifactWriteNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Every graded query, family by family. */
  lazy val registry: Seq[Query] = Seq(
    DataflowQueries.all, CatalogQueries.all, DedupQueries.all,
    SimilarityQueries.all, TextQueries.all, MultimodalQueries.all,
    StreamQueries.all, RetrievalQueries.all, SketchQueries.all).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0):
    * the Grep pipeline — the reference's own canonical example
    * (reference: src/examples/org/apache/hadoop/examples/Grep.java:57-84).
    */
  def entry(spark: SparkSession): DataFrame =
    TextOps.grep(
      Graft.table(spark, "/root/testdata/sf0.001", "documents"),
      col("text"), "s[a-z]+")
}
