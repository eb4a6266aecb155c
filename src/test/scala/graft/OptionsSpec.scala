package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The options are a reviewed set: the `SPARK_GRAFT_*` environment
  * names read under `src/main` and `tools/`, and the `graft.*` JVM
  * system properties read under `src/main`, equal README's options
  * table, so adding or dropping one is an edit to both.
  */
class OptionsSpec extends AnyFunSuite {

  private val Name = "SPARK_GRAFT_[A-Z0-9_]+".r
  private val Prop =
    """(?:sys\.props\(|getBoolean\(|getProperty\()"(graft\.[a-z0-9_.]+)"""".r
  private val Listed = """^\| `(SPARK_GRAFT_[A-Z0-9_]+|graft\.[a-z0-9_.]+)`""".r

  private def texts(dir: String): List[String] = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      .map(f => new String(Files.readAllBytes(f), ISO_8859_1))
    finally files.close()
  }

  test("SPARK_GRAFT_* names read by the code equal README's table") {
    val read = Seq("src/main", "tools").flatMap(texts)
      .flatMap(Name.findAllIn).toSet ++
      texts("src/main").flatMap(t => Prop.findAllMatchIn(t).map(_.group(1)))
    val listed = Files.readAllLines(Paths.get("README.md")).asScala
      .flatMap(l => Listed.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(listed.nonEmpty, "README has no options table")
    assert(read == listed, s"read but not in README: ${read -- listed}; " +
      s"in README but not read: ${listed -- read}")
  }
}
