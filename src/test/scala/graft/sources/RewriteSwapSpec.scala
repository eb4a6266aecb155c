package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Local file system under the `failmv` scheme whose rename refuses
  * every move OUT of a maintenance operator's dot-prefixed temp root,
  * the way HDFS and object-store connectors report a failed rename:
  * by returning false. Moves inside a temp root (Spark's own output
  * committer) and everywhere else succeed.
  */
class FailingSwapFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failmv:///")
  override def getScheme: String = "failmv"
  private def inTemp(p: Path): Boolean =
    p.toUri.getPath.split('/').exists(s =>
      s.startsWith(".compact-tmp-") || s.startsWith(".redact-tmp-"))
  override def rename(src: Path, dst: Path): Boolean =
    if (inTemp(src) && !inTemp(dst)) false else super.rename(src, dst)
  // the local statuses load their permissions through java.io.File,
  // which refuses a non-`file` URI: hand out plain statuses instead
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
}

class RewriteSwapSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.failmv.impl", classOf[FailingSwapFileSystem].getName)

  /** Every id held by any parquet data file under `dir`, hidden
    * (temp) directories included: what a by-hand recovery can reach.
    */
  private def recoverableIds(dir: java.io.File): Set[Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")) Seq(f)
      else Nil
    val files = walk(dir).map(_.toString)
    if (files.isEmpty) Set.empty
    else spark.read.parquet(files: _*).select($"id").as[Long].collect().toSet
  }

  private def table(name: String): (java.io.File, String) = {
    val dir = Files.createTempDirectory(name).resolve("t").toFile
    (dir, "failmv://" + dir.getAbsolutePath)
  }

  test("a failed compaction swap throws and loses no row") {
    val (dir, uri) = table("graft-swapfail-compact")
    // two violating partitions (several files each), one healthy
    (1L to 20L).map(i => (i, s"a$i")).toDF("id", "v")
      .repartition(4).write.parquet(s"$dir/p=1")
    (21L to 40L).map(i => (i, s"b$i")).toDF("id", "v")
      .repartition(4).write.parquet(s"$dir/p=2")
    (41L to 45L).map(i => (i, s"c$i")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$dir/p=3")
    val e = intercept[java.io.IOException] {
      Compaction.compact(spark, uri, maxConcurrent = 2)
    }
    assert(e.getMessage.contains(".compact-tmp-"), e.getMessage)
    assert(new java.io.File(dir, "p=3").listFiles
      .exists(_.getName.endsWith(".parquet")), "healthy partition touched")
    assert(recoverableIds(dir) == (1L to 45L).toSet)
  }

  test("a failed redaction swap throws, loses no row, exposes no key") {
    val (dir, uri) = table("graft-swapfail-redact")
    // three files with disjoint key ranges; the request hits two
    Seq(1L to 10L, 11L to 20L, 21L to 30L).foreach { r =>
      r.map(i => (i, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    val deleted = Set(3L, 15L, 16L)
    val e = intercept[java.io.IOException] {
      Redaction.deleteKeys(spark, uri, "id", deleted.toSeq)
    }
    assert(e.getMessage.contains(".redact-tmp-"), e.getMessage)
    assert(recoverableIds(dir) == (1L to 30L).toSet -- deleted)
  }
}
