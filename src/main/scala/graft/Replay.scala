package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The streaming queries' replay harness: a batch frame staged as
  * parquet files and read back as a FILE-SOURCE STREAM with
  * maxFilesPerTrigger=1 — a genuine multi-micro-batch replay with
  * state carried between triggers. Staging is harness cost, not
  * operator work (at deployment the ingest dir already exists), so it
  * is charged to [[SparkEntry.replayWriteNanos]] for Bench to split
  * out.
  *
  * Dirs live in SLOTS keyed by (session, thread): a new replay deletes
  * only its own slot's previous one, so a driver re-running the
  * replays holds one copy per slot and concurrent threads or sessions
  * never delete each other's live dirs. A replay's dirs stay live
  * until its slot's next replay (a query may return a lazy read of its
  * sink), so a slot runs one replay at a time; a checkpoint stays
  * until exit. One shutdown hook sweeps every slot, checkpoint and
  * [[scratchDir]].
  */
private[graft] object Replay {

  /** State-store width of the replays (their shuffle partitions). Each
    * state partition costs one task and one checkpoint-delta fsync per
    * micro-batch, a fixed per-batch cost; SCALE.md's A/B over the
    * replays (4 vs 8 at sf0.1 and sf1, 8 vs 32 at sf10) chose 8.
    */
  val StatePartitions = 8

  /** Spark 4.1 writes a companion checksum file (`<file>.crc`) beside
    * every state-store checkpoint file (deltas and snapshots),
    * doubling the small-file creates every micro-batch pays per state
    * partition. A replay's checkpoint is a temp dir on local
    * disk with a single writer, so those sidecars buy nothing there;
    * every other stream keeps Spark's default (on), the safe setting
    * on a checkpoint volume that can tear writes (object stores).
    */
  private val ChecksumConf = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** Run `body` at [[StatePartitions]] shuffle partitions and without
    * checkpoint checksum sidecars, restoring both previous values
    * before any frame `body` returns is run. Every stream on a
    * replay's [[Staged.checkpoint]] runs inside this scope.
    */
  def withStateWidth[T](s: SparkSession)(body: => T): T = {
    val scoped = Seq("spark.sql.shuffle.partitions" -> StatePartitions.toString,
      ChecksumConf -> "false")
    val prev = scoped.map { case (k, _) => k -> s.conf.get(k) }
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** A staged replay: the stream reads `source`; `checkpoint` and
    * `sink` are paths their first writer creates.
    */
  final class Staged private[Replay] (s: SparkSession, schema: StructType,
                                      root: File, held: IndexedSeq[File]) {
    val source: String = new File(root, "source").toString
    // beside the slot root, not in it: a stopped query's state store
    // can still write a snapshot there until its next maintenance
    // pass, so it is swept only at exit
    lazy val checkpoint: String = {
      val c = new File(s"$root-checkpoint"); track(c.toString, c); c.toString
    }
    val sink: String = new File(root, "sink").toString
    private var released = 0

    def stream: DataFrame = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(source)

    /** Stop-after-k hook of a held replay: move slices up to `k`
      * (exclusive) into `source`. A move keeps the stamped mod-time,
      * so the stream still sees them in slice order.
      */
    def release(k: Int): Unit = {
      require(released <= k && k <= held.length,
        s"release($k) outside [$released, ${held.length}]")
      charged((released until k).foreach { i =>
        Files.move(held(i).toPath, Paths.get(source, held(i).getName))
      })
      released = k
    }
  }

  /** Files, hence micro-batches, per replay; a caller of [[ordered]]
    * may add a heartbeat file that closes the last window.
    */
  val Slices = 8

  /** Hash-spread files: micro-batches arrive in no event order — the
    * harsher harness for order-insensitive sinks.
    */
  def unordered(s: SparkSession, batch: DataFrame): Staged =
    stage(s, batch.schema, held = false) { dir =>
      batch.repartition(Slices).write.mode("overwrite").parquet(dir)
      IndexedSeq.empty
    }

  /** Controlled ARRIVAL ORDER: file k holds the k-th range slice on
    * `order`, stamped with strictly increasing mod-times, and the file
    * source lists oldest-first — so the watermark advances
    * monotonically, as in-order operators (as-of, append-mode window
    * close) assume. A `held` replay starts with an empty source; its
    * slices arrive through [[Staged.release]].
    */
  def ordered(s: SparkSession, batch: DataFrame, order: Column,
              nFiles: Int = Slices, held: Boolean = false): Staged =
    stage(s, batch.schema, held) { dir =>
      batch.repartitionByRange(nFiles, order).sortWithinPartitions(order)
        .write.mode("overwrite").parquet(dir)
      val parts = new File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toIndexedSeq
      val base = System.currentTimeMillis() - 3600000L
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 2000L),
          s"cannot stamp replay mod-time on $f")
      }
      parts
    }

  // `write` fills the dir it is given and returns its slices in order
  private def stage(s: SparkSession, schema: StructType, held: Boolean)(
      write: String => IndexedSeq[File]): Staged = {
    val root = newSlot(s)
    val source = new File(root, "source")
    val slices = charged {
      if (held) { source.mkdir(); write(new File(root, "stage").toString) }
      else { write(source.toString); IndexedSeq.empty }
    }
    new Staged(s, schema, root, slices)
  }

  private def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally SparkEntry.replayWriteNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Scratch dir for a write-then-read artifact: a fresh temp dir the
    * first time a (slot, tag) asks, the same dir after, so a re-run
    * overwrites it and a later reader in the slot (Bench's zorder
    * stats) finds it. A temp dir, not a name derived from the slot,
    * because two JVMs can share a slot name.
    */
  def scratchDir(s: SparkSession, tag: String): String = {
    sweepAtExit
    live.computeIfAbsent(s"scratch $tag ${slot(s)}",
      _ => Files.createTempDirectory(s"graft-$tag").toFile).toString
  }

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  // identity hash tells concurrent sessions apart, thread id
  // concurrent queries within one
  private def slot(s: SparkSession): String =
    s"${System.identityHashCode(s)}-${Thread.currentThread().getId}"

  private def newSlot(s: SparkSession): File = {
    val root = Files.createTempDirectory("graft-replay").toFile
    // "replay <slot>" is a key no path can equal
    track(s"replay ${slot(s)}", root).foreach(rmTree)
    root
  }

  // every dir to sweep by key; returns the dir the key held before
  private val live = new ConcurrentHashMap[String, File]()
  private lazy val sweepAtExit: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => live.values.forEach(f => rmTree(f))))
  private def track(key: String, dir: File): Option[File] = {
    sweepAtExit
    Option(live.put(key, dir))
  }
}
