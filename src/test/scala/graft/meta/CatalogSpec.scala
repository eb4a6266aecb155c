package graft.meta

import graft.SparkSpec
import graft.operators.{Counters, Resilient}
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def ns = Seq(
    ("/a", true, 0L, 3), ("/a/f1", false, 100L, 3),
    ("/a/f2", false, 50L, 4), ("/a/sub", true, 0L, 3),
    ("/a/sub/f3", false, 25L, 3), ("/b", true, 0L, 3),
    ("/b/f4", false, 10L, 6)
  ).toDF("path", "is_dir", "len", "replication")

  test("parent/depth decompose paths") {
    val r = ns.select(Catalog.parent($"path"), Catalog.depth($"path"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(r.contains(("", 1)))        // /a -> parent "" (root), depth 1
    assert(r.contains(("/a/sub", 3)))  // /a/sub/f3
  }

  test("ls lists direct children only") {
    val got = Catalog.ls(ns, "/a").collect().map(_.getString(0)).toSeq
    assert(got == Seq("/a/f1", "/a/f2", "/a/sub"))
  }

  test("du aggregates recursive sizes per direct child") {
    val got = Catalog.du(ns, "/a").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("/a/f1") == ((100L, 1L)))
    assert(got("/a/sub") == ((25L, 1L)))
  }

  test("du normalizes doubled trailing slashes like ls/countSummary") {
    // regression: du built its prefix from the raw string, so
    // "/a//" produced a prefix no path starts with — silently empty
    val got = Catalog.du(ns, "/a//").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("/a/f1" -> 100L, "/a/f2" -> 50L, "/a/sub" -> 25L))
  }

  test("fsck groups a depth-2 file under its parent, not under itself") {
    // regression: the two-component prefix matched a depth-2 FILE's
    // own full path, reporting the file as a directory row
    val files = Seq(
      ("/logs/app.log", false, 300L, 3),  // depth 2 -> dir /logs
      ("/logs/sub/x", false, 100L, 3),    // depth 3 -> dir /logs/sub
      ("/rootfile", false, 100L, 3)       // depth 1 -> dir /
    ).toDF("path", "is_dir", "len", "replication")
    val got = Catalog.fsck(files, blockSize = 256L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("/logs" -> 2L, "/logs/sub" -> 1L, "/" -> 1L), got.toString)
  }

  test("countSummary counts dirs/files/bytes under prefix") {
    val r = Catalog.countSummary(ns, "/a").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (2L, 3L, 175L))
  }

  test("usedBytes is replication-weighted") {
    val r = Catalog.usedBytes(ns).collect().head.getLong(0)
    assert(r == 100 * 3 + 50 * 4 + 25 * 3 + 10 * 6)
  }

  test("blocksOf derives ceil(len/blockSize) blocks per file") {
    val blocks = Catalog.blocksOf(ns, blockSize = 40)
    val perFile = blocks.groupBy("path").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile == Map("/a/f1" -> 3, "/a/f2" -> 2, "/a/sub/f3" -> 1,
      "/b/f4" -> 1))
    // block ids unique
    assert(blocks.select("block_id").distinct().count() == blocks.count())
  }

  test("fsck reports per-dir block totals and under-replication") {
    val got = Catalog.fsck(ns, blockSize = 40, minRep = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // depth-2 files group under their PARENT directory: /a/f1 (3
    // blocks rep3, under) + /a/f2 (2 blocks rep4) -> /a; the depth-3
    // file keeps its two-component ancestor /a/sub
    assert(got("/a") == ((5L, 3L, 3.4)))
    assert(got("/a/sub") == ((1L, 1L, 3.0)))
    assert(got("/b") == ((1L, 0L, 6.0)))
  }

  test("setRep retargets files under a prefix, preview via usedBytes") {
    val updated = Catalog.setRep(ns, "/a", 6)
    val reps = updated.collect()
      .map(r => (r.getString(0), r.getInt(3))).toMap
    assert(reps("/a/f1") == 6 && reps("/a/sub/f3") == 6)
    assert(reps("/b/f4") == 6 && reps("/a") == 3) // dirs untouched, /b unchanged was 6
    assert(Catalog.usedBytes(updated).collect().head.getLong(0) ==
      100 * 6 + 50 * 6 + 25 * 6 + 10 * 6)
  }

  test("distCh applies recursive owner/perm edits, conserves rows, later op wins") {
    val withMeta = ns
      .withColumn("owner", lit("root"))
      .withColumn("perm", lit("644"))
    val got = Catalog.distCh(withMeta, Seq(
        Catalog.ChOp("/a", owner = Some("alice")),
        Catalog.ChOp("/a/sub", owner = Some("bob"), perm = Some("600")),
        Catalog.ChOp("/b/f4", perm = Some("755"))))
      .collect().map(r => r.getString(0) ->
        (r.getAs[String]("owner"), r.getAs[String]("perm"))).toMap
    // tree semantics incl. the root of the tree itself
    assert(got("/a") == (("alice", "644")))
    assert(got("/a/f1") == (("alice", "644")))
    // later op wins on the overlap
    assert(got("/a/sub") == (("bob", "600")))
    assert(got("/a/sub/f3") == (("bob", "600")))
    // empty fields leave the other property unchanged
    assert(got("/b/f4") == (("root", "755")))
    assert(got("/b") == (("root", "644")))
    assert(got.size == 7, "row count conserved")
    // group applies only when the column exists
    val grouped = Catalog.distCh(
      withMeta.withColumn("group", lit("users")),
      Seq(Catalog.ChOp("/b", group = Some("ops"))))
      .collect().map(r => r.getString(0) -> r.getAs[String]("group")).toMap
    assert(grouped("/b/f4") == "ops" && grouped("/a/f1") == "users")
    // a group op against a group-less namespace is a no-op, not an error
    assert(Catalog.distCh(withMeta,
      Seq(Catalog.ChOp("/b", group = Some("ops")))).count() == 7)
    // /a must not match /abc (tree, not string prefix)
    val tricky = Seq(("/a", false, 1L, 3), ("/abc", false, 1L, 3))
      .toDF("path", "is_dir", "len", "replication")
      .withColumn("owner", lit("root")).withColumn("perm", lit("644"))
    val t2 = Catalog.distCh(tricky, Seq(Catalog.ChOp("/a",
        owner = Some("alice"))))
      .collect().map(r => r.getString(0) -> r.getAs[String]("owner")).toMap
    assert(t2 == Map("/a" -> "alice", "/abc" -> "root"))
    // octal validation
    intercept[IllegalArgumentException] {
      Catalog.ChOp("/a", perm = Some("99"))
    }
  }

  test("balancerPlan conserves bytes, covers all nodes, sizes moves") {
    val got = Catalog.balancerPlan(ns, blockSize = 40, nNodes = 4,
      nodeCapacity = 200L, threshold = 0.05)
      .as[(Long, Long, Double, String, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L),
      "every node is reported, including unused ones")
    // replica bytes conserve: sum over nodes = sum(len*replication)
    assert(got.map(_._2).sum == 100 * 3 + 50 * 4 + 25 * 3 + 10 * 6)
    val avg = got.map(_._2).sum.toDouble / (4 * 200)
    got.foreach { case (_, used, util, cls, move) =>
      val u = used.toDouble / 200
      assert(math.abs(util - u) < 5e-5, "util is the rounded ratio")
      val expected =
        if (u > avg + 0.05) "over"
        else if (u > avg) "above"
        else if (u >= avg - 0.05) "below"
        else "under"
      assert(cls == expected, s"node class at util=$u avg=$avg")
      // floor mirrors the reference's (long) truncation (argument is
      // positive in both branches); moves can legitimately floor to 0
      if (cls == "over")
        assert(move == math.floor((u - avg - 0.05) * 200).toLong && move >= 0)
      else if (cls == "under")
        assert(move == math.floor((avg - 0.05 - u) * 200).toLong && move >= 0)
      else assert(move == 0L, "balanced band moves nothing")
    }
    // the band split is non-trivial on this namespace
    assert(got.map(_._4).distinct.length >= 2)
  }
}

class ResilientSpec extends SparkSpec {
  import spark.implicits._

  test("trySplit routes failures to quarantine, keeps good rows") {
    val df = Seq("1", "2", "x", "4").toDF("s")
    val (good, bad) = Resilient.trySplit(df, expr("try_cast(s AS INT)"), "n")
    assert(good.select("n").collect().map(_.getInt(0)).toSet == Set(1, 2, 4))
    assert(bad.collect().map(_.getString(0)).toSeq == Seq("x"))
  }
}

class CountersSpec extends SparkSpec {
  import spark.implicits._

  test("observed metrics aggregate during the job") {
    val (obs, counters) = Counters.observed(Seq(1, 2, 3, 4).toDF("n"),
      "counters_test", "rows" -> count(lit(1)), "total" -> sum($"n"))
    obs.collect()
    assert(counters.get == Map("rows" -> 4L, "total" -> 10L))
  }

  test("two runs under one name in one session each read their own " +
      "counts") {
    def run(ns: Seq[Int]): Map[String, Any] = {
      val (obs, counters) = Counters.observed(ns.toDF("n"),
        "counters_rerun", "rows" -> count(lit(1)), "total" -> sum($"n"))
      obs.collect()
      counters.get
    }
    assert(run(Seq(1, 2, 3, 4)) == Map("rows" -> 4L, "total" -> 10L))
    assert(run(Seq(10, 20)) == Map("rows" -> 2L, "total" -> 30L))
  }

  test("sessions are isolated: a clone's metrics never leak across") {
    // two sessions observing the same metric name read their own rows
    val s2 = spark.newSession()
    val (base, baseCounters) = Counters.observed(Seq(1, 2, 3).toDF("n"),
      "counters_iso", "rows" -> count(lit(1)))
    import s2.implicits._
    val (obs2, counters2) = Counters.observed(Seq(7, 8).toDF("n"),
      "counters_iso", "rows" -> count(lit(1)))
    obs2.collect()
    base.collect()
    assert(counters2.get == Map("rows" -> 2L))
    assert(baseCounters.get == Map("rows" -> 3L))
  }
}
