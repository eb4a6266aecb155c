package graft.sources

import java.io.IOException
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The in-place commit of the storage maintenance operators
  * ([[Compaction.compact]], [[Redaction.deleteKeys]]): each unit is
  * rewritten additively under a dot-prefixed temp root (invisible to
  * parquet readers), then swapped in with delete-old-files →
  * move-new-files-in. Deleting first means a redacted key is never
  * readable beside its replacement; the cost is a window in which a
  * unit's rows live only in its temp dir.
  *
  * Every rename is checked (HDFS and object-store connectors report a
  * failed rename by returning false), a unit's temp dir is swept only
  * after its swap succeeded, and the run waits for every unit before
  * it returns or throws. A failed run therefore keeps the temp root,
  * and the data of every unit whose swap did not complete is in it.
  */
private[sources] object InPlaceRewrite {

  /** One unit: `write` fills the temp dir it is given; the swap then
    * deletes `old` and moves every data file `write` left there that
    * `keep` accepts into `liveDir`.
    */
  final case class Rewrite(tmpName: String, old: Seq[Path], liveDir: Path,
                           write: Path => Unit,
                           keep: Path => Boolean = _ => true)

  /** Rewrite `units` under `base`, at most `maxConcurrent` at a time
    * (each unit's Spark jobs run concurrently with the others').
    * Returns the number of files each unit moved in, in unit order;
    * throws the first unit's failure, the others suppressed onto it.
    */
  def run(fs: FileSystem, base: Path, tag: String, units: Seq[Rewrite],
          maxConcurrent: Int): Seq[Int] = {
    val tmpRoot = new Path(base,
      s".$tag-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, units.length)))
    val outcomes = try {
      // invokeAll returns only once every unit has finished
      pool.invokeAll(units.map(u =>
          (() => swap(fs, tmpRoot, u)): Callable[Int]).asJava)
        .asScala.toSeq.map(f => Try(f.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        })
    } finally pool.shutdown()
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ =>
        fs.delete(tmpRoot, true)
        outcomes.map(_.get)
    }
  }

  private def swap(fs: FileSystem, tmpRoot: Path, u: Rewrite): Int = {
    val tmpDir = new Path(tmpRoot, u.tmpName)
    u.write(tmpDir)
    val fresh = fs.listStatus(tmpDir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).filter(u.keep)
    u.old.foreach { f =>
      if (!fs.delete(f, false) && fs.exists(f))
        throw new IOException(s"could not delete $f; $tmpDir holds its rewrite")
    }
    fresh.foreach { f =>
      val dst = new Path(u.liveDir, f.getName)
      if (!fs.rename(f, dst))
        throw new IOException(
          s"could not move $f to $dst; $tmpDir holds the rewritten data")
    }
    fs.delete(tmpDir, true)
    fresh.length
  }
}
