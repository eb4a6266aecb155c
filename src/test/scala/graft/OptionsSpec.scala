package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_*` environment options are a reviewed set: the
  * names read under `src/main` and `tools/` equal README's options
  * table, so adding or dropping one is an edit to both.
  */
class OptionsSpec extends AnyFunSuite {

  private val Name = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("SPARK_GRAFT_* names read by the code equal README's table") {
    val read = Seq("src/main", "tools").flatMap { dir =>
      val files = Files.walk(Paths.get(dir))
      try files.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally files.close()
    }.flatMap(f => Name.findAllIn(
      new String(Files.readAllBytes(f), ISO_8859_1))).toSet
    val listed = Files.readAllLines(Paths.get("README.md")).asScala
      .filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(l => Name.findFirstIn(l)).toSet
    assert(listed.nonEmpty, "README has no options table")
    assert(read == listed, s"read but not in README: ${read -- listed}; " +
      s"in README but not read: ${listed -- read}")
  }
}
