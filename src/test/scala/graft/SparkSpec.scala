package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    // fresh warehouse per JVM: saveAsTable locations must not collide
    // with a previous run's leftovers (in-memory catalog, durable dir)
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => Replay.rmTree(wh)))
    System.setProperty("spark.sql.warehouse.dir", wh.toString)
    Graft.session(master = "local[4]", shufflePartitions = 4,
      appName = "graft-test")
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** `body` over fresh temp dirs, one per prefix, swept after it
    * returns or throws.
    */
  def withTempDirs[T](prefixes: String*)(body: Seq[String] => T): T = {
    val dirs = prefixes.map(p => java.nio.file.Files.createTempDirectory(p).toFile)
    try body(dirs.map(_.toString)) finally dirs.foreach(Replay.rmTree)
  }
}
