package graft.sources

import graft.SparkSpec
import graft.operators.Pipe
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MultiIOSpec extends SparkSpec {
  import spark.implicits._

  test("keyValueText splits on first separator; missing sep -> empty value") {
    val df = Seq("k1\tv1\tv2", "solo").toDF("line")
    val got = MultiIO.keyValueText(df, col("line")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("k1" -> "v1\tv2", "solo" -> ""))
  }

  test("multipleInputs unions per-source transforms by name") {
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq(("y", 2)).toDF("v", "id")
    val got = MultiIO.multipleInputs(Seq(
      a -> identity[org.apache.spark.sql.DataFrame] _,
      b -> identity[org.apache.spark.sql.DataFrame] _)).collect()
    assert(got.length == 2)
  }

  test("writeText emits separator-joined lines with empty nulls") {
    val dir = Files.createTempDirectory("graft-wt").toString + "/out"
    val df = Seq((Some("k1"), Some("v1")), (Some("k2"), None: Option[String]))
      .toDF("k", "v")
    MultiIO.writeText(df, dir)
    val back = spark.read.text(dir).collect().map(_.getString(0)).toSet
    assert(back == Set("k1\tv1", "k2\t"))
  }

  test("compressed text round-trips; files carry the codec's magic bytes") {
    val base = Files.createTempDirectory("graft-wtc").toString
    val df = Seq(("k1", "v1"), ("k2", "v2"), ("k3", "v3")).toDF("k", "v")
    for ((codec, ext, magic) <- Seq(
        ("gzip", ".gz", Array(0x1f.toByte, 0x8b.toByte)),
        ("bzip2", ".bz2", "BZh".getBytes("US-ASCII")))) {
      val dir = s"$base/$codec"
      MultiIO.writeText(df, dir, codec = codec)
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty && parts.forall(_.getName.endsWith(ext)),
        s"$codec: ${parts.map(_.getName).toSeq}")
      val head = Files.readAllBytes(parts.head.toPath).take(magic.length)
      assert(head.sameElements(magic),
        s"$codec part must start with the codec magic, got " +
          head.map(b => f"$b%02x").mkString(" "))
      // decompression is extension-inferred — no read-side flag
      val back = spark.read.text(dir).collect().map(_.getString(0)).toSet
      assert(back == Set("k1\tv1", "k2\tv2", "k3\tv3"), s"$codec: $back")
    }
  }

  test("bzip2 text splits into parallel read partitions; gzip cannot") {
    // the 100 TB reason to pick the codec: one 3 MB high-entropy file
    // per codec, read under a small maxPartitionBytes — the splittable
    // codec fans out, the stream codec is pinned to one partition
    val base = Files.createTempDirectory("graft-split").toString
    val big = spark.range(100000)
      .select(md5(col("id").cast("string")).as("line")).repartition(1)
    MultiIO.writeText(big, s"$base/bz", codec = "bzip2")
    MultiIO.writeText(big, s"$base/gz", codec = "gzip")
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val bzParts = spark.read.text(s"$base/bz").rdd.getNumPartitions
      val gzParts = spark.read.text(s"$base/gz").rdd.getNumPartitions
      assert(bzParts > 1, s"bzip2 must split, got $bzParts partition(s)")
      assert(gzParts == 1, s"gzip must not split, got $gzParts")
      assert(spark.read.text(s"$base/bz").count() == 100000L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("sequence file compresses per codec header and round-trips") {
    val dir = Files.createTempDirectory("graft-seqc").toString + "/sf"
    val df = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
    MultiIO.writeSequenceFile(df, "key", "value", dir, codec = Some("gzip"))
    // the codec rides in the file header (as in the reference) — the
    // class name is embedded as a header string
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val header = new String(
      Files.readAllBytes(part.toPath).take(200), "ISO-8859-1")
    assert(header.contains("org.apache.hadoop.io.compress.GzipCodec"),
      s"header must name the codec: $header")
    val back = MultiIO.readSequenceFile(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set("k1" -> "v1", "k2" -> "v2"))
    intercept[IllegalArgumentException] {
      MultiIO.writeSequenceFile(df, "key", "value", dir + "2",
        codec = Some("zstd-nope"))
    }
  }

  test("sequence file round-trips (legacy-format compat)") {
    val dir = Files.createTempDirectory("graft-seq").toString + "/sf"
    val df = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
    MultiIO.writeSequenceFile(df, "key", "value", dir)
    val back = MultiIO.readSequenceFile(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set("k1" -> "v1", "k2" -> "v2"))
  }

  test("getmerge byte-faithfully concatenates part files in name order") {
    val base = Files.createTempDirectory("graft-gm").toString
    val src = base + "/src"
    // part files with known content (write order scrambled); the last
    // lacks a trailing newline and one carries non-UTF-8 bytes —
    // copyMerge concatenates raw bytes, adding/normalizing nothing
    Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(src, "part-00001"), "b1\nb2\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(src, "part-00000"),
      Array[Byte]('a', '1', 0xff.toByte, '\n'))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(src, "part-00002"), "c1")
    MultiIO.getmerge(spark, src, base + "/merged")
    val got = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(base, "merged"))
    val expected =
      Array[Byte]('a', '1', 0xff.toByte, '\n') ++
        "b1\nb2\n".getBytes("UTF-8") ++ "c1".getBytes("UTF-8")
    assert(java.util.Arrays.equals(got, expected),
      "bytes are copyMerge's: files sorted by name, raw bytes verbatim")
  }

  test("distcp preserves rows and partition layout, skip-existing mode") {
    val base = Files.createTempDirectory("graft-dc").toString
    val df = Seq((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z"))
      .toDF("id", "lang", "v")
    df.write.partitionBy("lang").parquet(base + "/src")
    MultiIO.distcp(spark, base + "/src", base + "/dst",
      partitionCols = Seq("lang"))
    val back = spark.read.parquet(base + "/dst")
    assert(back.count() == 3)
    assert(new java.io.File(base + "/dst/lang=en").isDirectory,
      "directory layout preserved")
    // DistCp default: refuse to clobber
    intercept[Exception] {
      MultiIO.distcp(spark, base + "/src", base + "/dst",
        partitionCols = Seq("lang"), overwrite = false)
    }
  }

  test("small files coalesce into few partitions (CombineFileInputFormat analog)") {
    // 20 tiny parquet files; Spark's file packing (maxPartitionBytes /
    // openCostInBytes) must NOT produce one task per file — the
    // many-small-files problem CombineFileInputFormat existed for
    val base = Files.createTempDirectory("graft-combine").toString + "/t"
    (1 to 20).map(i => Seq((i, s"v$i")).toDF("id", "v"))
      .reduce(_.union(_)).repartition(20)
      .write.parquet(base)
    val files = new java.io.File(base).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 10, s"setup: want many files, got $files")
    // pin the packing inputs: partition count derives from
    // maxPartitionBytes / openCostInBytes / minPartitionNum, and the
    // last defaults to the runner's core count — the assertion must
    // test Spark's packing, not the test JVM's parallelism
    val prev = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes",
      "spark.sql.files.minPartitionNum").map(k =>
      k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", (4L << 20).toString)
      spark.conf.set("spark.sql.files.minPartitionNum", "1")
      val scan = spark.read.parquet(base)
      assert(scan.rdd.getNumPartitions < files / 2,
        s"${scan.rdd.getNumPartitions} partitions for $files files — no coalescing")
      assert(scan.count() == 20)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nLineSplit deals exactly n consecutive rows per partition") {
    val df = (1 to 10).map(i => s"line$i").toDF("value")
    val out = MultiIO.nLineSplit(df, 3)
    val byPart = out.rdd.mapPartitionsWithIndex { (pid, it) =>
      Iterator.single(pid -> it.map(_.getString(0)).toList)
    }.collect().toMap
    assert(byPart.keySet == Set(0, 1, 2, 3))
    assert(byPart(0) == List("line1", "line2", "line3"))
    assert(byPart(1) == List("line4", "line5", "line6"))
    assert(byPart(2) == List("line7", "line8", "line9"))
    assert(byPart(3) == List("line10"))
    // row-exact granularity regardless of input partitioning
    assert(MultiIO.nLineSplit(df.repartition(7), 5).rdd.getNumPartitions == 2)
  }

  test("binary sequence file round-trips raw bytes (AsBinary compat)") {
    val dir = Files.createTempDirectory("graft-seqbin").toString + "/sfb"
    // bytes that are NOT valid UTF-8 — a text path would mangle them
    val k1 = Array[Byte](0, 1, -1, -128, 127)
    val v1 = Array[Byte](-2, -3, 0, 0, 5)
    val df = Seq((k1, v1), (Array[Byte](9), Array.emptyByteArray))
      .toDF("key", "value")
    MultiIO.writeSequenceFileBinary(df, "key", "value", dir)
    val back = MultiIO.readSequenceFileBinary(spark, dir).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(back == Set(k1.toSeq -> v1.toSeq, Seq[Byte](9) -> Seq.empty[Byte]))
  }

  test("custom record delimiter read (StreamInputFormat analog)") {
    val f = Files.createTempDirectory("graft-lineSep").resolve("recs.txt")
    Files.writeString(f, "rec1;rec2;rec3")
    val got = spark.read.option("lineSep", ";").textFile(f.toString)
      .collect().toSeq
    assert(got == Seq("rec1", "rec2", "rec3"))
  }

  test("multipleOutputs writes each named sink once") {
    val base = Files.createTempDirectory("graft-mo").toString
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "tag")
    MultiIO.multipleOutputs(df, Map(
      "as" -> ((d: org.apache.spark.sql.DataFrame) => d.filter($"tag" === "a"), s"$base/as"),
      "bs" -> ((d: org.apache.spark.sql.DataFrame) => d.filter($"tag" === "b"), s"$base/bs")))
    assert(spark.read.parquet(s"$base/as").count() == 2)
    assert(spark.read.parquet(s"$base/bs").count() == 1)
  }

  test("partitionedWrite lays out key-derived directories") {
    val base = Files.createTempDirectory("graft-pw").toString + "/out"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "tag")
    MultiIO.partitionedWrite(df, base, Seq("tag"))
    assert(new java.io.File(s"$base/tag=a").exists())
    assert(spark.read.parquet(base).count() == 2)
  }

  test("crc32 matches java.util.zip.CRC32 (the FSInputChecker checksum)") {
    // SURVEY §2.8: the reference checksums every stream with CRC32
    // (fs/FSInputChecker.java); Spark's built-in crc32 must agree
    // with the JDK implementation the reference wraps — including on
    // empty and non-ASCII payloads
    import spark.implicits._
    val vals = Seq("", "hello", "graft éø中", "0123456789")
    val got = vals.toDF("s")
      .select(crc32(col("s").cast("binary"))).as[Long].collect().toSeq
    val want = vals.map { v =>
      val c = new java.util.zip.CRC32()
      c.update(v.getBytes("UTF-8")); c.getValue
    }
    assert(got == want, s"got $got want $want")
  }

  test("gzip and bzip2 text codecs round-trip (SURVEY §2.8 codecs)") {
    // the reference's GzipCodec/BZip2Codec map to Spark write options;
    // the classic operational difference carries over: bzip2 is
    // splittable (a 100 TB .bz2 scan parallelizes), gzip is not (one
    // task per file — pack accordingly)
    import spark.implicits._
    val base = Files.createTempDirectory("graft-codec").toString
    val lines = (1 to 200).map(i => s"line-$i-payload")
    for ((codec, ext) <- Seq(("gzip", ".gz"), ("bzip2", ".bz2"))) {
      val dir = s"$base/$codec"
      lines.toDF("value").coalesce(1).write
        .option("compression", codec).text(dir)
      val parts = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("part-")).toSeq
      assert(parts.nonEmpty && parts.forall(_.endsWith(ext)),
        s"$codec parts: $parts")
      val back = spark.read.text(dir).as[String].collect().sorted.toSeq
      assert(back == lines.sorted, s"$codec round-trip mismatch")
    }
  }

  test("harPack/readHar round-trips small files; lookup is one ranged read") {
    val base = Files.createTempDirectory("graft-har").toString
    val src = base + "/src"
    Files.createDirectories(java.nio.file.Paths.get(src, "sub"))
    // 20 files incl. an empty one, a binary one, and a nested path;
    // contents sized so a 64-byte budget forces multiple parts
    val contents: Map[String, Array[Byte]] =
      (0 until 17).map(i => f"f$i%02d.txt" ->
        s"content-$i-${"x" * (i * 3)}".getBytes("UTF-8")).toMap ++
      Map("empty.txt" -> Array.emptyByteArray,
        "bin.dat" -> Array[Byte](0, 1, 0xff.toByte, 0x89.toByte),
        "sub/nested.txt" -> "nested".getBytes("UTF-8"))
    contents.foreach { case (p, b) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(src, p), b) }
    val idx = MultiIO.harPack(spark, src, base + "/har",
      partSizeBytes = 64L)
    // index covers every file (rooted archive paths) with its true length
    val byPath = idx.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(byPath.keySet == contents.keySet.map("/" + _))
    assert(contents.forall { case (p, b) => byPath("/" + p)._3 == b.length })
    // multiple parts were cut, and every referenced part blob exists
    val parts = byPath.values.map(_._1).toSet
    assert(parts.size > 1, s"expected >1 parts, got $parts")
    parts.foreach { p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(base, "har", p))) }
    // full scan round-trips every byte
    val back = MultiIO.readHar(spark, base + "/har").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    assert(back.keySet == contents.keySet.map("/" + _))
    contents.foreach { case (p, b) =>
      assert(java.util.Arrays.equals(back("/" + p), b), s"bytes differ for $p") }
    // point lookup: exact bytes; absent path -> None
    assert(MultiIO.harLookup(spark, base + "/har", "/bin.dat")
      .exists(java.util.Arrays.equals(_, contents("bin.dat"))))
    assert(MultiIO.harLookup(spark, base + "/har", "/f13.txt")
      .exists(java.util.Arrays.equals(_, contents("f13.txt"))))
    assert(MultiIO.harLookup(spark, base + "/har", "/missing").isEmpty)
    // idempotent re-pack: same layout
    val idx2 = MultiIO.harPack(spark, src, base + "/har2",
      partSizeBytes = 64L)
    assert(idx2.collect().map(_.toSeq).toSet ==
      idx.collect().map(_.toSeq).toSet)
  }

  test("harPack re-pack into the same dir is crash-consistent (generations)") {
    val base = Files.createTempDirectory("graft-har-gen").toString
    val src = base + "/src"
    Files.createDirectories(java.nio.file.Paths.get(src))
    def put(p: String, s: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, p),
        s.getBytes("UTF-8"))
    (0 until 6).foreach(i => put(s"f$i.txt", s"v1-content-$i-${"x" * 40}"))
    MultiIO.harPack(spark, src, base + "/har", partSizeBytes = 64L)
    val gen0Parts = new java.io.File(base, "har").listFiles()
      .map(_.getName).filter(_.matches("part-\\d+")).toSet
    assert(gen0Parts.nonEmpty)
    // simulate a CRASHED earlier re-pack: an orphaned part with a
    // number above gen 0, never referenced by the live index, AND a
    // temp index that a crash between index-write and rename leaves
    // behind (a directory, as an older layout wrote it; its gen
    // number never recurs, so only the pre-job sweep can reclaim it)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "har", "part-00042"),
      "orphan-garbage".getBytes("UTF-8"))
    Files.createDirectories(
      java.nio.file.Paths.get(base, "har", "._index.tmp-gen7"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "har", "._index.tmp-gen7", "stale"),
      "dead-index".getBytes("UTF-8"))
    // mutate the source, re-pack into the SAME archive dir
    put("f0.txt", s"v2-CHANGED-${"y" * 50}")
    MultiIO.harPack(spark, src, base + "/har", partSizeBytes = 64L)
    val after = new java.io.File(base, "har").listFiles()
      .map(_.getName).filter(_.matches("part-\\d+")).toSet
    // new generation numbers sit above the orphan; every pre-existing
    // part (gen 0 AND the orphan) was swept only after the index commit
    assert(after.intersect(gen0Parts + "part-00042").isEmpty,
      s"stale parts survived: ${after.intersect(gen0Parts + "part-00042")}")
    assert(after.forall(_.stripPrefix("part-").toInt > 42), after.toString)
    // the re-packed archive reads back the NEW content
    val back = MultiIO.readHar(spark, base + "/har").collect()
      .map(r => r.getString(0) -> new String(
        r.getAs[Array[Byte]]("bytes"), "UTF-8")).toMap
    assert(back("/f0.txt").startsWith("v2-CHANGED"), back("/f0.txt"))
    assert(back.keySet == (0 until 6).map(i => s"/f$i.txt").toSet)
    // no temp index dirs left behind
    assert(!new java.io.File(base, "har").listFiles()
      .exists(_.getName.startsWith("._index.tmp")), "index temp leaked")
  }

  test("readHar consumes a stock-Hadoop text-layout archive") {
    // hand-build the reference layout byte-for-byte
    // (HarFileSystem.java:33-44, HadoopArchives.java:480-604):
    // bare part-N names, text _index sorted by the path hash with
    // trailing-space lines, _masterindex = version line + hash-range
    // stores pointing at _index byte ranges
    val base = Files.createTempDirectory("graft-refhar").toString
    val har = java.nio.file.Paths.get(base, "x.har")
    Files.createDirectories(har)
    val contents = Map(
      "/user/a.txt" -> "alpha-content".getBytes("UTF-8"),
      "/user/b.bin" -> Array[Byte](0, 1, 0xff.toByte, 0x7f, 0x00, 9),
      "/user/sub/c.txt" -> "ccc".getBytes("UTF-8"))
    // part-0 holds a.txt then c.txt; part-1 holds b.bin (bare names)
    val part0 = contents("/user/a.txt") ++ contents("/user/sub/c.txt")
    java.nio.file.Files.write(har.resolve("part-0"), part0)
    java.nio.file.Files.write(har.resolve("part-1"), contents("/user/b.bin"))
    val entries = Seq(
      ("/user", s"/user dir none 0 0 a.txt b.bin sub "),
      ("/user/a.txt",
        s"/user/a.txt file part-0 0 ${contents("/user/a.txt").length} "),
      ("/user/b.bin",
        s"/user/b.bin file part-1 0 ${contents("/user/b.bin").length} "),
      ("/user/sub/c.txt",
        s"/user/sub/c.txt file part-0 ${contents("/user/a.txt").length} " +
          s"${contents("/user/sub/c.txt").length} "))
      .sortBy { case (p, _) => MultiIO.harHash(p) }
    val idxLines = entries.map(_._2 + "\n")
    java.nio.file.Files.write(har.resolve("_index"),
      idxLines.mkString.getBytes("UTF-8"))
    // two masterindex stores (split after the second line) so the
    // lookup's range selection is exercised, not just a full scan
    val off = idxLines.map(_.getBytes("UTF-8").length.toLong)
      .scanLeft(0L)(_ + _)
    val hashes = entries.map { case (p, _) => MultiIO.harHash(p) }
    val master = "1 \n" +
      s"${hashes(0)} ${hashes(1)} ${off(0)} ${off(2)} \n" +
      s"${hashes(2)} ${hashes(3)} ${off(2)} ${off(4)} \n"
    java.nio.file.Files.write(har.resolve("_masterindex"),
      master.getBytes("UTF-8"))
    // bulk read: every file round-trips, the dir entry is excluded
    val back = MultiIO.readHar(spark, har.toString).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    assert(back.keySet == contents.keySet, back.keySet.toString)
    contents.foreach { case (p, b) =>
      assert(java.util.Arrays.equals(back(p), b), s"bytes differ for $p") }
    // filtered read prunes to one entry
    val one = MultiIO.readHar(spark, har.toString,
      Some($"path" === "/user/b.bin")).collect()
    assert(one.length == 1 &&
      java.util.Arrays.equals(one.head.getAs[Array[Byte]]("bytes"),
        contents("/user/b.bin")))
    // point lookups via the masterindex hash ranges (both stores)
    contents.foreach { case (p, b) =>
      assert(MultiIO.harLookup(spark, har.toString, p)
        .exists(java.util.Arrays.equals(_, b)), s"lookup failed for $p") }
    assert(MultiIO.harLookup(spark, har.toString,
      "/user/missing.txt").isEmpty)
  }

  test("harPack writes a stock-consumable text-layout archive") {
    val base = Files.createTempDirectory("graft-refpack")
    val src = base.resolve("src")
    java.nio.file.Files.createDirectories(src.resolve("sub"))
    val contents = Map(
      "a.txt" -> "alpha".getBytes("UTF-8"),
      "b.bin" -> Array[Byte](0, 1, 0xff.toByte, 0x7f, 0x00, 9),
      "sub/c.txt" -> "ccc".getBytes("UTF-8"),
      "sub/d.txt" -> "dddd".getBytes("UTF-8"))
    contents.foreach { case (p, b) =>
      java.nio.file.Files.write(src.resolve(p), b) }
    val har = base.resolve("out.har").toString
    // small part budget -> several parts; entriesPerStore=2 -> the
    // masterindex store arithmetic is exercised beyond one store
    MultiIO.harPack(spark, src.toString, har,
      partSizeBytes = 8, entriesPerStore = 2)

    // bulk read through the stock-layout reader: rooted paths, bytes
    val back = MultiIO.readHar(spark, har).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    assert(back.keySet == contents.keySet.map("/" + _), back.keySet.toString)
    contents.foreach { case (p, b) =>
      assert(java.util.Arrays.equals(back("/" + p), b), s"bytes differ: $p") }
    // point lookups via the masterindex hash ranges
    contents.foreach { case (p, b) =>
      assert(MultiIO.harLookup(spark, har, "/" + p)
        .exists(java.util.Arrays.equals(_, b)), s"lookup failed for /$p") }
    assert(MultiIO.harLookup(spark, har, "/missing").isEmpty)

    // BYTE-LAYOUT: _index lines are `<path> <kind> ...` with the
    // reference's trailing space, hash-sorted
    val idxBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(har, "_index"))
    val idxLines = new String(idxBytes, "UTF-8").split("\n").toSeq
    assert(idxLines.nonEmpty && idxLines.forall(_.endsWith(" ")),
      "every index line carries the reference's trailing space")
    val hashes = idxLines.map(l => MultiIO.harHash(l.split(" ")(0)))
    assert(hashes == hashes.sorted, "index must be hash-sorted")
    // file lines: `<path> file part-N <offset> <length> `
    val fileLines = idxLines.filter(_.split(" ")(1) == "file")
    assert(fileLines.length == contents.size)
    fileLines.foreach { l =>
      val f = l.split(" ")
      assert(f(2).matches("part-\\d+") && f(3).toLong >= 0 &&
        f(4).toLong == contents(f(0).stripPrefix("/")).length.toLong, l)
    }
    // dir lines with child names
    val dirs = idxLines.filter(_.split(" ")(1) == "dir")
      .map { l => val f = l.split(" "); f(0) -> f.drop(5).toSet }.toMap
    assert(dirs("/") == Set("a.txt", "b.bin", "sub"), dirs.toString)
    assert(dirs("/sub") == Set("c.txt", "d.txt"), dirs.toString)

    // _masterindex: version header, then stores whose byte ranges
    // tile _index exactly and whose hash spans cover their lines
    val master = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(har, "_masterindex")), "UTF-8").split("\n")
    assert(master(0) == "1 ", s"version header, got '${master(0)}'")
    val stores = master.drop(1).filter(_.trim.nonEmpty)
      .map(_.trim.split(" ").map(_.toLong))
    assert(stores.length >= 2, "entriesPerStore=2 over 6 lines must split")
    assert(stores.head(2) == 0L, "first store starts at byte 0")
    assert(stores.last(3) == idxBytes.length.toLong,
      "last store ends at _index EOF")
    stores.sliding(2).foreach {
      case Array(a, b) => assert(a(3) == b(2), "stores must tile _index")
      case _ => ()
    }
    stores.foreach { case Array(lo, hi, s, e) =>
      val slice = new String(idxBytes.slice(s.toInt, e.toInt), "UTF-8")
      assert(slice.endsWith("\n"), "store boundary splits a line")
      slice.split("\n").foreach { l =>
        val h = MultiIO.harHash(l.split(" ")(0))
        assert(lo <= h && h <= hi, s"hash $h outside store [$lo,$hi]")
      }
    }

    // re-pack: a fresh generation commits and stays readable
    MultiIO.harPack(spark, src.toString, har,
      partSizeBytes = 1024, entriesPerStore = 1000)
    val again = MultiIO.readHar(spark, har).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("bytes")).toMap
    contents.foreach { case (p, b) =>
      assert(java.util.Arrays.equals(again("/" + p), b),
        s"re-pack bytes differ: $p") }
    // whitespace in a path is refused, not silently corrupted
    java.nio.file.Files.write(src.resolve("bad name.txt"),
      "x".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      MultiIO.harPack(spark, src.toString,
        base.resolve("bad.har").toString)
    }
  }
}

class PipeSpec extends SparkSpec {
  import spark.implicits._

  test("pipe emits empty fields for nulls (no field shifting)") {
    val df = Seq((Some("a"), None: Option[String], Some("c")))
      .toDF("x", "y", "z")
    val got = Pipe.pipe(df, "cat", col("x"), col("y"), col("z"))
      .collect().head.getString(0)
    assert(got == "a\t\tc")
  }

  test("pipe through cat is identity on lines") {
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val got = Pipe.pipe(df, "cat", col("k"), col("v")).as[String].collect().toSet
    assert(got == Set("a\t1", "b\t2"))
  }

  test("pipeKV reparses first-tab output") {
    val df = Seq(("a", 1)).toDF("k", "v")
    val got = Pipe.pipeKV(df, "cat", col("k"), col("v")).collect().head
    assert((got.getString(0), got.getString(1)) == ("a", "1"))
  }

  test("chain composes without materialization") {
    val df = Seq(1, 2, 3, 4).toDF("n")
    val got = Pipe.chain(df,
      d => d.filter($"n" % 2 === 0),
      d => d.withColumn("sq", $"n" * $"n"))
    assert(got.collect().map(_.getInt(1)).toSet == Set(4, 16))
  }
}
