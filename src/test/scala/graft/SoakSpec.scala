package graft

/** Pins the gridmix-style soak harness at miniature scale: all six
  * job families run end-to-end under both schedules, every family's
  * internal validation (row counts, sort validators, non-empty
  * stages) holds, and the result shape is stable. The measured run is
  * `graft.Soak` at the SCALE.md scales; this spec keeps the harness
  * itself from rotting between measured rounds.
  */
class SoakSpec extends SparkSpec {

  test("all six gridmix families run and validate at miniature scale") {
    // scale 0.002: 4000 fixed-width, 600 variable-width, 2000 text rows
    val got = Soak.withWorkDir(d => Soak.run(spark, d.toString, scale = 0.002))
    assert(got.map(_._1) == Seq("three_stage", "var_sort", "ref_select",
      "indirect_read", "api_sort", "combiner"))
    val byName = got.toMap
    // three_stage funnels: 10% of 4000 keys, then two keep-stages
    val ts = byName("three_stage").rows
    assert(ts > 0 && ts < 400, s"three_stage rows $ts")
    assert(byName("var_sort").rows == 600)
    assert(byName("api_sort").rows == 2000)
    assert(byName("indirect_read").rows > 0)
    assert(byName("combiner").rows > 0)
    got.foreach { case (n, r) =>
      assert(r.seconds > 0, s"$n must be timed")
    }
  }

  private def soakDirs(): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
      .map(_.getName).filter(_.startsWith("graft-soak")).toSet

  test("concurrent submission mode runs all six families and matches " +
      "the sequential results row-for-row") {
    val existing = soakDirs()
    // both legs, as graft.Soak runs them, on the spec's session
    val (s, c) = Soak.soak(spark, scale = 0.0015)
    assert(s.families.map(_._1) == Seq("three_stage", "var_sort",
      "ref_select", "indirect_read", "api_sort", "combiner"))
    assert(c.families.map(_._1).sorted == s.families.map(_._1).sorted)
    // deterministic generation + residue keeps: identical row counts
    // whichever way the jobs were scheduled
    val sm = s.families.toMap; val cm = c.families.toMap
    sm.keys.foreach { k =>
      assert(cm(k).rows == sm(k).rows,
        s"$k: concurrent ${cm(k).rows} != sequential ${sm(k).rows}")
    }
    assert(s.seconds > 0 && c.seconds > 0)
    assert(soakDirs() == existing, "the soak left its work dir behind")
  }

  test("the soak's work dir is one it created: a pre-existing " +
      "directory is never deleted") {
    // a directory that looks like the soak's own, made beforehand
    val before = java.nio.file.Files.createTempDirectory("graft-soak")
    val marker = java.nio.file.Files.writeString(before.resolve("keep"), "x")
    var used: java.io.File = null
    var fresh = false
    intercept[java.io.IOException](Soak.withWorkDir { d =>
      used = d; fresh = d.isDirectory && d.list().isEmpty
      java.nio.file.Files.writeString(d.toPath.resolve("artifact"), "y")
      throw new java.io.IOException("family failed")
    })
    assert(fresh && used.toPath != before)
    assert(used.getParent == before.getParent.toString)
    assert(!used.exists(), "a failed run left its work dir behind")
    assert(java.nio.file.Files.exists(marker), "a pre-existing dir was touched")
    Replay.rmTree(before.toFile)
  }

  test("the cross-leg check throws when a family's rows differ") {
    def leg(rows: Long*) = Soak.Leg(1.0, rows.zipWithIndex.map {
      case (n, i) => s"f$i" -> Soak.FamilyResult(1.0, n, 1L, 1L) })
    Soak.checkLegs(leg(5, 7), leg(5, 7))
    intercept[IllegalStateException](Soak.checkLegs(leg(5, 7), leg(5, 8)))
    intercept[IllegalStateException](Soak.checkLegs(leg(5, 7), leg(5)))
  }

  test("indirectChain (the graded algebra) equals the soak's " +
      "file-based indirect_read family row-for-row") {
    Soak.withWorkDir { d =>
      val dir = d.toString
      // scale 0.0025: 2500 text rows; artifacts kept for the witness
      Soak.run(spark, dir, scale = 0.0025, reclaim = false)
      // regenerate family 4's corpus (content is partitioning-
      // independent, so parts needn't match) and run the algebra twin
      val kv = sources.Generate.randomKv(spark, 2500,
        keyMinWords = 5, keyMaxWords = 5, valueMinWords = 20,
        valueMaxWords = 20, vocab = 2000, seed = 44L, skewed = true,
        numPartitions = 4, portable = false)
      val chain = Soak.indirectChain(kv, iterations = 10)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
      val files = spark.read.parquet(s"$dir/indirect/out_9")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
      assert(chain.length == files.length && chain.sameElements(files),
        s"algebra ${chain.length} rows vs files ${files.length}")
    }
  }

  test("FAIR pools bound short-job latency while a bulk job " +
      "saturates; FIFO parks it behind the queue (forked probe)") {
    // spark.scheduler.mode is fixed at context creation, so the
    // probe runs in its own JVM (FIFO session, then FAIR session
    // with the two weighted pools) — the evidence behind COVERAGE's
    // claim that the reference's contrib fair/capacity schedulers
    // are subsumed by Spark scheduler configuration
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.contains("add-opens") || a.contains("ALL-UNNAMED"))
      .toSeq
    val javaBin = new java.io.File(new java.io.File(
      sys.props("java.home"), "bin"), "java").getAbsolutePath
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx2g", "-cp",
      sys.props("java.class.path"), "graft.Soak", "--scheduler")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_CPUS", "8")
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    // stdout goes to a file, NOT a pipe read before waitFor: reading
    // the pipe blocks until process exit, which would let a hung probe
    // hang the whole suite past the 300 s timeout below
    val outFile = java.nio.file.Files.createTempFile("sched-probe", ".out")
    pb.redirectOutput(ProcessBuilder.Redirect.to(outFile.toFile))
    val p = pb.start()
    val finished = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly().waitFor()
    val out = new String(java.nio.file.Files.readAllBytes(outFile))
    java.nio.file.Files.deleteIfExists(outFile)
    assert(finished, "scheduler probe did not finish in 300 s")
    assert(p.exitValue() == 0, s"probe exited ${p.exitValue()}: $out")
    val line = out.linesIterator
      .find(_.contains("\"probe\":\"scheduler\""))
      .getOrElse(fail(s"no probe line in: $out"))
    def num(k: String): Double =
      (s""""$k":([0-9.]+)""").r.findFirstMatchIn(line)
        .getOrElse(fail(s"$k missing in $line")).group(1).toDouble
    val fifo = num("fifo_short_latency_s")
    val fair = num("fair_short_latency_s")
    // FIFO: the 4-task short job waits behind the bulk job's whole
    // remaining queue (seconds). FAIR: the short pool (weight 4,
    // minShare 2) is offered cores at task granularity (sub-second).
    // The ratio is the load-robust assertion; the absolute bound is
    // a sanity ceiling.
    assert(fair * 2 < fifo, s"fair=$fair fifo=$fifo — FAIR did not " +
      "bound the short job's latency")
    assert(fair < 3.0, s"fair short latency $fair s")
  }

  test("threeStage chains through ONE exchange: stages 2 and 3 reuse " +
      "stage 1's hash partitioning on k") {
    val kv = sources.Generate.randomKv(spark, rows = 2000,
      keyMinWords = 2, keyMaxWords = 2, valueMinWords = 5,
      valueMaxWords = 9, vocab = 50, seed = 11L, portable = true)
    val out = Soak.threeStage(kv, portable = true)
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1,
      s"expected 1 exchange for the 3-stage chain, got $exchanges:\n" +
        plan.take(1500))
  }
  test("wideRowBlockBytes: heap-proportional, clamped to [8 MB, 128 MB]") {
    val b = Soak.wideRowBlockBytes(spark)
    assert(b >= (8L << 20) && b <= (128L << 20))
    // local mode: an eighth of per-slot heap of THIS JVM (the one
    // running writer tasks) unless a clamp binds; non-local sizing
    // (executor memory conf / executor cores) is formula-only here —
    // a test JVM can't host a cluster executor
    assert(spark.sparkContext.isLocal)
    val perSlot = Runtime.getRuntime.maxMemory() /
      math.max(1, spark.sparkContext.defaultParallelism)
    assert(b == math.min(128L << 20, math.max(8L << 20, perSlot / 8)))
  }
  test("reclaim mode: rows/validation identical, artifacts deleted, " +
      "out_mb credited") {
    Soak.withWorkDir { work =>
      val dir = new java.io.File(work, "rec").toString
      val plain = Soak.run(spark, new java.io.File(work, "plain").toString,
        scale = 0.0015, reclaim = false)
      val rec = Soak.run(spark, dir, scale = 0.0015)
      val pm = plain.toMap; val rm = rec.toMap
      pm.keys.foreach(k => assert(rm(k).rows == pm(k).rows,
        s"$k rows moved under reclaim"))
      // every family dir is gone and its volume was credited
      Seq("three_stage", "var_sort", "ref_select", "indirect", "api_sort",
        "combiner").foreach { d =>
        assert(!new java.io.File(s"$dir/$d").exists(), s"$d not reclaimed")
      }
      rm.values.foreach(r => assert(r.outBytes >= 0))
      assert(rm.values.map(_.outBytes).sum > 0)
    }
  }
}
