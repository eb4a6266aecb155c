package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Small-file compaction for parquet table directories — the
  * maintenance operator behind the reference's packing tools
  * (HadoopArchives.java bundles small files into archives;
  * MultiFileInputFormat/CombineFileInputFormat amortize them at READ
  * time) and the prescription of `meta.Advisor`'s `small_files_scan`
  * rule: instead of re-paying per-file open cost on every scan,
  * rewrite the delinquent directories ONCE into target-size files.
  *
  * Shape at scale (the 100 TB contract):
  *  - The driver touches FILE METADATA only — one (path, size) pair
  *    per data file, the same client-side planning the reference's
  *    archiver does. No data bytes cross the driver.
  *  - Only VIOLATING partition directories are rewritten (more files
  *    than `ceil(bytes / targetBytes)`); a mostly-healthy table pays
  *    I/O proportional to its delinquent fraction, not its size.
  *  - Each rewrite is scan → `coalesce(need)` → write: NO shuffle —
  *    coalesce narrows the scan's splits into `need` write tasks, so
  *    the job moves each byte exactly twice (read + write).
  *    Violating partitions compact as concurrent Spark jobs (bounded
  *    pool), so many small directories don't serialize behind the
  *    driver loop.
  *
  * Crash consistency ([[InPlaceRewrite]]): the new files are written
  * additively under a dot-prefixed temp dir (invisible to parquet
  * readers) and swapped in per-partition with delete-old-files →
  * move-new-files-in. The delete→move window is the only exposure: a
  * crash inside it leaves that partition's rows only in the temp
  * dir, and a swap that fails (a rename returning false) throws and
  * keeps the temp root, so those rows stay recoverable by hand. A
  * RE-RUN of compact never double-counts because the temp dir is
  * never read as data. Run it in a maintenance window, not under
  * concurrent readers — plain directories have no atomic multi-file
  * commit.
  *
  * Returns one report row per partition directory:
  * `(partition, bytes, files_before, files_after, rewritten)` with
  * `partition` the base-relative dir (`""` for files at the root).
  */
object Compaction {

  private case class PartStat(partition: String, bytes: Long,
                              files: Seq[Path])

  /** Data files per partition directory under `path` (driver-side
    * metadata listing; skips `_SUCCESS`/hidden files and anything
    * under a hidden directory, matching what Spark's reader sees).
    */
  private def inventory(fs: FileSystem, base: Path): Seq[PartStat] = {
    val baseUri = base.toUri.getPath
    val out = scala.collection.mutable.Map
      .empty[String, (Long, List[Path])]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val rel = p.toUri.getPath.stripPrefix(baseUri).stripPrefix("/")
      val segs = rel.split('/')
      val hidden = segs.exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !hidden) {
        val dir = segs.dropRight(1).mkString("/")
        val (b, fsz) = out.getOrElse(dir, (0L, Nil))
        out(dir) = (b + st.getLen, p :: fsz)
      }
    }
    out.toSeq.sortBy(_._1)
      .map { case (d, (b, files)) => PartStat(d, b, files.reverse) }
  }

  /** Compact every partition directory of the parquet table at
    * `path` whose file count exceeds `ceil(bytes / targetBytes)`
    * down to that count. Healthy directories are untouched
    * (byte-identical files). `maxConcurrent` bounds the compaction
    * jobs in flight.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              maxConcurrent: Int = 8): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    require(maxConcurrent >= 1,
      s"maxConcurrent must be >= 1, got $maxConcurrent")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(base), s"no such table directory: $path")
    val stats = inventory(fs, base)
    val planned = stats.map { st =>
      val need = math.max(1L,
        (st.bytes + targetBytes - 1) / targetBytes).toInt
      (st, need, st.files.length > need)
    }
    val rewrites = planned.collect { case (st, need, true) => (st, need) }
    val moved = InPlaceRewrite.run(fs, base, "compact",
      rewrites.map { case (st, need) =>
        val liveDir = if (st.partition.isEmpty) base
          else new Path(base, st.partition)
        // scan → coalesce → write: narrows splits into `need` tasks,
        // no exchange. Partition-VALUE columns live in the directory
        // name, not the files, so a per-dir read/write round-trips
        // them untouched. Spark task-UUID file names cannot collide.
        InPlaceRewrite.Rewrite(
          if (st.partition.isEmpty) "__root" else st.partition,
          st.files, liveDir, tmpDir =>
            spark.read.parquet(liveDir.toString).coalesce(need)
              .write.mode(SaveMode.Overwrite).parquet(tmpDir.toString))
      }, maxConcurrent)
    val after = rewrites.map(_._1.partition).zip(moved).toMap
    import spark.implicits._
    planned.map { case (st, _, rewrote) =>
      (st.partition, st.bytes, st.files.length,
        after.getOrElse(st.partition, st.files.length), rewrote)
    }.toDF("partition", "bytes", "files_before", "files_after",
      "rewritten")
  }
}
