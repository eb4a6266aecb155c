package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical delete-by-key for parquet table directories — the
  * "right to be forgotten" maintenance operator (the complement of
  * `TextAnalysis`' row-level PII scrub: that rewrites VALUES in
  * flight, this removes ROWS from storage). A deletion request is a
  * small key batch against a huge table, so the operator's contract
  * is file-level surgery: only files that CONTAIN a requested key
  * are rewritten; every other byte of the table is untouched.
  *
  * Shape at scale (the 100 TB contract):
  *  - The hit scan is `key IN (...)` over just the key column plus
  *    `input_file_name()` — the IN predicate reaches the parquet
  *    reader (PushedFilters), so row-group stats, dictionary pages
  *    and bloom filters (written by [[Bucketing.writeBucketed]])
  *    prune all but the candidate files; the scan reads key bytes
  *    from the pruned remainder, never full rows.
  *  - Each hit file is rewritten independently (read file → filter
  *    keys out → one replacement file), as concurrent Spark jobs
  *    (bounded pool). A file whose every row is deleted is removed
  *    without replacement. Partition-VALUE columns live in directory
  *    names, so per-file rewrite round-trips them untouched.
  *  - Cost is O(hit files), not O(table): with bucketed/bloom layout
  *    a k-key request touches at most k files.
  *
  * Crash consistency, the same commit as [[Compaction.compact]]
  * ([[InPlaceRewrite]]): the replacement is written additively under
  * a dot-prefixed temp dir (invisible to readers), then swapped in
  * per-file with delete-old → move-new, so a deleted key is never
  * readable beside its replacement. The per-file window is the only
  * exposure; a swap that fails throws and keeps the temp root, whose
  * replacement files hold the file's remaining rows, recoverable by
  * hand. A re-run of the same request is idempotent (the keys are
  * already gone from every completed file, so it rewrites nothing).
  *
  * Returns one report row per hit file:
  * `(file, rows_removed, emptied)`.
  */
object Redaction {

  def deleteKeys(spark: SparkSession, path: String, key: String,
                 keys: Seq[Any], maxConcurrent: Int = 8): DataFrame = {
    require(maxConcurrent >= 1,
      s"maxConcurrent must be >= 1, got $maxConcurrent")
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Boolean)]
      .toDF("file", "rows_removed", "emptied")
    if (keys.isEmpty) return empty
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(base), s"no such table directory: $path")
    // hit scan: IN-filter pushed to the parquet reader; only the key
    // column is materialized from the (pruned) candidate files
    val hits = spark.read.parquet(path)
      .filter(col(key).isInCollection(keys))
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    if (hits.isEmpty) return empty
    val emptied = InPlaceRewrite.run(fs, base, "redact",
      hits.zipWithIndex.map { case ((uri, _), i) =>
        val live = new Path(new java.net.URI(uri))
        val conf = spark.sessionState.newHadoopConf()
        InPlaceRewrite.Rewrite(s"f$i", Seq(live), live.getParent,
          write = tmpDir => spark.read.parquet(live.toString)
            .filter(!col(key).isInCollection(keys))
            .coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(tmpDir.toString),
          // a fully-deleted file writes a schema-only parquet; its
          // footer (driver-side metadata, no job) says 0 records —
          // drop it rather than litter the table with empty files
          keep = { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
            try r.getRecordCount > 0 finally r.close()
          })
      }, maxConcurrent).map(_ == 0)
    hits.zip(emptied).map { case ((uri, removed), e) => (uri, removed, e) }
      .toDF("file", "rows_removed", "emptied")
  }
}
