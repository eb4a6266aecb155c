package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the rocksdb-implied changelog-checkpointing precedence chain:
  * caller extraConfs > -D system property > spark-defaults.conf value
  * (APPLIED, since embedded local mode never loads that file itself) >
  * implied "true". Round-15 ADVICE found two inversions here: a file
  * entry was detected but its value never reached Spark (the implied
  * true was merely withheld, flipping the effective setting to the
  * provider default), and an extraConfs pin was silently overridden
  * because the implied default was applied after the fold. Also pins
  * the Tungsten page size a `Graft.session` session actually uses.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val key = streaming.StateBackend.ChangelogConf

  private def withDefaultsFile(contents: Option[String])(
      f: Option[String] => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-conf")
    try {
      contents.foreach { c =>
        java.nio.file.Files.write(
          dir.resolve("spark-defaults.conf"),
          c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      f(Some(dir.toString))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("no external decision anywhere implies true") {
    assert(Graft.changelogDecision(Map.empty, confDir = None) ==
      Some("true"))
    withDefaultsFile(None) { d =>
      assert(Graft.changelogDecision(Map.empty, d) == Some("true"))
    }
    // a defaults file that exists but lacks the key also implies true
    withDefaultsFile(Some("spark.executor.memory 4g\n")) { d =>
      assert(Graft.changelogDecision(Map.empty, d) == Some("true"))
    }
  }

  test("an explicit spark-defaults.conf value is APPLIED, not just " +
      "detected — false must reach the session") {
    withDefaultsFile(Some(s"$key false\n")) { d =>
      assert(Graft.changelogDecision(Map.empty, d) == Some("false"))
    }
    withDefaultsFile(Some(s"$key\ttrue\n")) { d =>
      assert(Graft.changelogDecision(Map.empty, d) == Some("true"))
    }
  }

  test("caller extraConfs win: the implied default is withheld so the " +
      "folded-in pin survives") {
    withDefaultsFile(Some(s"$key true\n")) { d =>
      assert(Graft.changelogDecision(Map(key -> "false"), d).isEmpty)
    }
    assert(Graft.changelogDecision(Map(key -> "false"), None).isEmpty)
  }

  test("the warehouse defaults to a temp dir; a preset value is kept") {
    val wh = Graft.WarehouseConf
    val dflt = Graft.warehouseDecision(Map.empty, props = Map.empty)
    assert(dflt.exists(_.startsWith(System.getProperty("java.io.tmpdir"))),
      dflt)
    assert(Graft.warehouseDecision(Map(wh -> "/elsewhere"), Map.empty).isEmpty)
    assert(Graft.warehouseDecision(Map.empty, Map(wh -> "/elsewhere")).isEmpty)
    // SparkSpec's per-JVM warehouse (a -D style system property) wins
    val conf = TestSpark.spark.conf.get(wh)
    assert(conf.stripSuffix("/").endsWith(sys.props(wh).stripSuffix("/")),
      s"$conf vs ${sys.props(wh)}")
  }

  test("sessions use 1 MB Tungsten pages, not Spark's heap-derived size") {
    val sc = TestSpark.spark.sparkContext
    assert(org.apache.spark.GraftTestAccess.pageSizeBytes(sc) == 1L << 20)
  }

  test("a -D system property wins (SparkConf loads spark.* sys props " +
      "itself, so nothing is applied here)") {
    val prev = sys.props.get(key)
    sys.props(key) = "false"
    try {
      withDefaultsFile(Some(s"$key true\n")) { d =>
        assert(Graft.changelogDecision(Map.empty, d).isEmpty)
      }
    } finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key): Unit
    }
  }
}
