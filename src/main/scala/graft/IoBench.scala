package graft

import org.apache.spark.sql.functions._

/** IO throughput micro-benchmark — the TestDFSIO analog (reference:
  * src/test/org/apache/hadoop/fs/TestDFSIO.java:63,412 — per-file
  * MB/s `size*1000/(time*MEGA)` plus aggregate).
  *
  * Writes N MB of synthetic rows as parquet, reads them back with a
  * full-scan aggregate, reports MB/s both ways on one JSON line.
  */
object IoBench {
  def main(args: Array[String]): Unit = {
    val mb = args.headOption.map(_.toInt).getOrElse(512)
    val out = if (args.length > 1) args(1)
              else java.nio.file.Files.createTempDirectory("graft-iobench").toString + "/data"
    val spark = Graft.querySession("graft-iobench")
    import spark.implicits._

    // 104 logical bytes/row (8B id + 32B md5 key + 64B filler) —
    // close to the TeraSort record (TeraGen.java:50-53); the constant
    // must match the actual schema or both MB/s figures skew
    val bytesPerRow = 8L + 32L + 64L
    val rows = mb.toLong * 1024 * 1024 / bytesPerRow
    val df = spark.range(rows).select(
      col("id"),
      md5(col("id").cast("string")).as("key"),          // 32 B
      concat(md5((col("id") + 1).cast("string")),
             md5((col("id") + 2).cast("string"))).as("filler")) // 64 B

    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(out)
    val writeSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    // the aggregate must TOUCH every column: pruning would skip the
    // id/key chunks entirely while read_mb_s still divides by the
    // full logical size (a ~40% overstatement)
    val n = spark.read.parquet(out).agg(count(lit(1)), max(col("id")),
        max(length(col("key"))), max(length(col("filler"))))
      .collect().head.getLong(0)
    val readSec = (System.nanoTime() - t1) / 1e9

    val logicalMb = rows * bytesPerRow.toDouble / 1024 / 1024
    println(f"""{"metric":"iobench","logical_mb":$logicalMb%.1f,"rows":$n,"write_sec":$writeSec%.2f,"read_sec":$readSec%.2f,"write_mb_s":${logicalMb / writeSec}%.1f,"read_mb_s":${logicalMb / readSec}%.1f}""")
    spark.stop()
  }
}
