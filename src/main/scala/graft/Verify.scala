package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query subset for fast local
    // iteration (the driver always runs the full set)
    val subset = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Graft.querySession("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      Graft.isolate(spark)
      // repartition(1), NOT coalesce(1): coalesce propagates the
      // single-partition constraint up through narrow stages, so a
      // map-only query's whole scan+compute would run on one core;
      // the explicit exchange keeps upstream parallelism and only
      // funnels the final write. NonFatal: a JVM-fatal error (OOM)
      // must abort the round visibly — later queries on a corrupted
      // JVM could dump truncated parquet that grades as operator
      // regressions.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full query manifest so the checker can flag queries that threw
    // (no result dir) — including rows-only ones with no oracle entry
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted
        .filter(k => subset.forall(_.contains(k)))
        .map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
