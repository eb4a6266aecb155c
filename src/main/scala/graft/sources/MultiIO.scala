package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Heterogeneous-source input and multi-sink output (reference:
  * src/mapred/org/apache/hadoop/mapred/lib/MultipleInputs.java:131 +
  * DelegatingInputFormat.java:127 — per-path InputFormat+Mapper into
  * one job; lib/MultipleOutputs.java:70-286 — named side outputs;
  * lib/MultipleOutputFormat.java — key-derived output partitioning;
  * KeyValueTextInputFormat.java:47 — first-separator KV lines).
  */
object MultiIO {

  /** MultipleInputs: each source gets its own per-source transform
    * (the per-path Mapper), then all are unioned by column name.
    * Sources must produce union-compatible schemas; each branch keeps
    * its own pushdown/pruning since the union is planned per-leaf.
    */
  def multipleInputs(sources: Seq[(DataFrame, DataFrame => DataFrame)]): DataFrame =
    sources.map { case (df, f) => f(df) }.reduce(_.unionByName(_))

  /** KeyValueTextInputFormat: split each line into (key, value) on the
    * first separator; lines without the separator become (line, "").
    */
  def keyValueText(lines: DataFrame, text: Column, sep: String = "\t"): DataFrame = {
    val q = java.util.regex.Pattern.quote(sep)
    val parts = split(text, q, 2)
    // get() (not getItem) — null-safe under ANSI mode for 1-element splits
    lines.select(
      parts.getItem(0).as("key"),
      coalesce(get(parts, lit(1)), lit("")).as("value"))
  }

  /** NLineInputFormat (reference: lib/NLineInputFormat.java:63-78 —
    * each mapper receives exactly N lines; getSplits scans the file
    * once to find line boundaries, then tasks read their window):
    * deal consecutive rows into ceil(total/n) partitions of n rows
    * each (last partial). Same two-pass shape as the reference — one
    * pass to count/number, one to route — used when per-record work
    * is heavy enough that task granularity must be row-exact rather
    * than byte-sized (`maxPartitionBytes`).
    */
  def nLineSplit(df: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val spark = df.sparkSession
    // pin the input once: count, zipWithIndex's internal count job,
    // and the shuffle all read the same materialized blocks instead
    // of re-executing the upstream plan (and row numbering cannot
    // drift between those jobs)
    val pinned = df.localCheckpoint()
    val total = pinned.count()
    val numParts = math.max(1, ((total + n - 1) / n).toInt)
    val schema = pinned.schema
    val rows = pinned.rdd.zipWithIndex()
      .map { case (r, i) => ((i / n).toInt, (i, r)) }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = numParts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      // shuffle-block fetch order is nondeterministic on a cluster;
      // restore line order inside each (at most n-row) split
      .mapPartitions(_.toArray.sortBy(_._2._1).iterator.map(_._2._2))
    spark.createDataFrame(rows, schema)
  }

  /** MultipleOutputFormat: output path derived from a column —
    * directly Spark's partitioned write. Hive-style `col=value`
    * directories replace the reference's generateFileNameForKeyValue.
    */
  def partitionedWrite(df: DataFrame, path: String, byCols: Seq[String],
                       format: String = "parquet"): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(byCols: _*)
      .format(format).save(path)

  /** MultipleOutputs: N named side outputs from one pass. The input is
    * cached once so each sink's filter/projection doesn't recompute
    * the upstream job (the reference writes all sinks in one reduce
    * pass; one cache + N cheap scans is the Spark idiom).
    */
  def multipleOutputs(df: DataFrame,
                      sinks: Map[String, (DataFrame => DataFrame, String)]): Unit = {
    val cached = df.persist()
    try sinks.foreach { case (_, (f, path)) =>
      f(cached).write.mode(SaveMode.Overwrite).parquet(path)
    } finally cached.unpersist()
  }

  /** SequenceFile compat: read a (Text,Text) SequenceFile as a
    * 2-column DataFrame (reference: SequenceFileInputFormat.java:57 /
    * SequenceFileAsTextInputFormat). The engine's *native* container
    * is Parquet (columnar, compressed, splittable, stats) — this
    * exists for ingesting legacy data.
    */
  def readSequenceFile(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.Text
    import spark.implicits._
    spark.sparkContext
      .sequenceFile(path, classOf[Text], classOf[Text])
      .map { case (k, v) => (k.toString, v.toString) }
      .toDF("key", "value")
  }

  /** TextOutputFormat: `key<sep>value` line sink (reference:
    * TextOutputFormat.java; separator configurable). `codec` mirrors
    * the reference's `mapred.output.compress` +
    * CompressionCodecFactory surface (TextInputFormat.java:47
    * isSplitable consults the codec): "none", "gzip", "bzip2", ...
    * — any name Spark's text sink accepts. Reading compressed text
    * back needs no flag (codec inferred from the extension, exactly
    * like the reference's factory), but the SPLIT story differs by
    * codec: a .gz file is one split forever — a 100 TB pipeline that
    * must re-read its text artifacts in parallel wants bzip2 (or
    * plain) text, never gzip.
    */
  def writeText(df: DataFrame, path: String, sep: String = "\t",
                codec: String = "none"): Unit =
    df.select(concat_ws(sep,
        df.columns.toIndexedSeq.map(c =>
          coalesce(col(c).cast("string"), lit(""))): _*).as("value"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", codec).text(path)

  /** SequenceFile sink (reference: SequenceFileOutputFormat).
    * `codec` enables the reference's
    * SequenceFileOutputFormat.setOutputCompressionType BLOCK form
    * (Spark's saveAsSequenceFile sets compress.type=BLOCK: batches
    * of records compressed together — the better ratio at scale);
    * [[readSequenceFile]] decompresses transparently — codec and
    * type are in the file header, as in the reference.
    */
  def writeSequenceFile(df: DataFrame, keyCol: String, valueCol: String,
                        path: String, codec: Option[String] = None): Unit = {
    val pairs = df.select(col(keyCol).cast("string"),
        col(valueCol).cast("string"))
      .rdd.map(r => (r.getString(0), r.getString(1)))
    codec match {
      case None => pairs.saveAsSequenceFile(path)
      case Some(c) =>
        val cls = c.toLowerCase match {
          case "gzip" => classOf[org.apache.hadoop.io.compress.GzipCodec]
          case "bzip2" => classOf[org.apache.hadoop.io.compress.BZip2Codec]
          case "deflate" =>
            classOf[org.apache.hadoop.io.compress.DeflateCodec]
          case other => throw new IllegalArgumentException(
            s"unsupported sequence-file codec '$other' " +
              "(gzip, bzip2, deflate)")
        }
        pairs.saveAsSequenceFile(path, Some(cls))
    }
  }

  /** Raw-bytes SequenceFile source (reference:
    * SequenceFileAsBinaryInputFormat.java — K/V handed to the job as
    * uninterpreted BytesWritable): (BytesWritable, BytesWritable) →
    * two `binary` columns. The record reader reuses Writable buffers,
    * so bytes are copied out before crossing the iterator.
    */
  def readSequenceFileBinary(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.BytesWritable
    import spark.implicits._
    spark.sparkContext
      .sequenceFile(path, classOf[BytesWritable], classOf[BytesWritable])
      .map { case (k, v) => (k.copyBytes(), v.copyBytes()) }
      .toDF("key", "value")
  }

  /** Raw-bytes SequenceFile sink (reference:
    * SequenceFileAsBinaryOutputFormat.java): two binary columns →
    * (BytesWritable, BytesWritable) records. Null bytes are written
    * as empty (BytesWritable has no null representation).
    */
  def writeSequenceFileBinary(df: DataFrame, keyCol: String, valueCol: String,
                              path: String): Unit = {
    import org.apache.hadoop.io.BytesWritable
    import org.apache.hadoop.mapred.SequenceFileOutputFormat
    df.select(col(keyCol).cast("binary"), col(valueCol).cast("binary"))
      .rdd.map { r =>
        def bytes(i: Int): Array[Byte] =
          if (r.isNullAt(i)) Array.emptyByteArray else r.getAs[Array[Byte]](i)
        (new BytesWritable(bytes(0)), new BytesWritable(bytes(1)))
      }
      .saveAsHadoopFile(path, classOf[BytesWritable], classOf[BytesWritable],
        classOf[SequenceFileOutputFormat[BytesWritable, BytesWritable]])
  }

  /** `getmerge <srcDir> <dst>` (reference: FsShell.copyMergeToLocal →
    * FileUtil.copyMerge — concatenate a job's part files, in name
    * order, into ONE LOCAL file). Byte-faithful: each source file's
    * raw bytes are streamed into `dst` unchanged — no decode, no
    * newline normalization, nothing added or dropped — so binary and
    * non-UTF-8 outputs merge correctly. Like the reference this is a
    * CLIENT-side edge operator (copy *ToLocal*): the listing and the
    * stream copy run on the driver against the (possibly remote)
    * Hadoop filesystem, memory is one fixed copy buffer, and the
    * output is a plain local file, not a Spark text directory.
    */
  def getmerge(spark: SparkSession, srcDir: String, dst: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // copyMerge's iteration: the directory's files in name order
    val files = fs.listStatus(src).filter(_.isFile)
      .sortBy(_.getPath.getName)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(dst))
    try files.foreach { st =>
      val in = fs.open(st.getPath)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    } finally out.close()
  }

  /** `distcp <src> <dst>` (reference: tools/DistCp.java — a map-only
    * job copying a file list in parallel, preserving the directory
    * layout). For table data the Spark-native form is a partitioned
    * re-write: read preserving the source partition column(s), write
    * with the same partitioning — each task copies its own slice, no
    * shuffle, no driver bottleneck. `overwrite=false` refuses to
    * clobber an existing destination wholesale (coarser than
    * DistCp's per-file skip — Spark's writer is all-or-nothing per
    * path); re-runs after a partial copy should overwrite.
    */
  def distcp(spark: SparkSession, src: String, dst: String,
             partitionCols: Seq[String] = Nil,
             overwrite: Boolean = true): Unit = {
    val df = spark.read.parquet(src)
    val w = df.write.mode(
      if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dst)
  }

  /** Hadoop-archive small-file packing in STOCK HADOOP's layout
    * (reference: src/core/org/apache/hadoop/fs/HarFileSystem.java —
    * `_index` + `part-N`; src/tools/org/apache/hadoop/tools/
    * HadoopArchives.java:480-604 — the archiving job). Many small
    * files become a few concatenated bare `part-N` blobs plus the text
    * `_index`/`_masterindex` pair exactly as `hadoop archive` writes
    * them: hash-sorted `_index` lines `<path> file <part-N> <offset>
    * <length> ` for files and `<path> dir none 0 0 <children...> `
    * for directories; `_masterindex` = version line `1 ` then
    * `<startHash> <endHash> <startPos> <endPos> ` stores, one per
    * `entriesPerStore` index lines. Archives this writes are
    * consumable by a stock `HarFileSystem` client, and [[readHar]] /
    * [[harLookup]] read stock-written ones.
    *
    * Archive paths are rooted (`/<relative>`), mirroring the
    * reference's `makeRelative` (HadoopArchives.java:451-455). The
    * text format is space-delimited with no escaping — the same
    * limitation the reference has — so paths containing whitespace
    * are refused at pack time rather than corrupting the index.
    *
    * Shape at scale: the driver handles FILE METADATA only (one
    * (path, size) pair per file — the same driver-side planning the
    * reference's archiver does in the JobTracker client); bytes move
    * task-side, one task per part, each streaming its own slice.
    * Files are name-sorted then first-fit into `partSizeBytes`
    * budgets, so the relative layout is deterministic.
    *
    * Crash consistency (generation protocol): a re-pack writes its
    * parts under FRESH part numbers (continuing above any existing
    * `part-N`), swaps the new index files in via temp+rename
    * (`_index` first), and only THEN deletes the previous
    * generation's parts. A failure at any point before the index
    * swap leaves the old index + old parts fully readable; orphaned
    * new-generation parts are swept by the next successful pack
    * (their numbers sit below its generation). A crash between the
    * two index renames leaves bulk reads (index-driven) consistent
    * and only `_masterindex`-driven point lookups stale until the
    * next pack — the one residual window, and it moves no data.
    *
    * Returns the archive's file entries (path, part_file, offset,
    * length).
    */
  def harPack(spark: SparkSession, srcDir: String, dstDir: String,
              partSizeBytes: Long = 64L * 1024 * 1024,
              entriesPerStore: Int = 1000): DataFrame = {
    require(partSizeBytes > 0, s"partSizeBytes must be > 0, got $partSizeBytes")
    require(entriesPerStore >= 1,
      s"entriesPerStore must be >= 1, got $entriesPerStore")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    // recursive listing, archive-relative paths, name-sorted
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st)
      }
    val srcBase = fs.makeQualified(src).toString.stripSuffix("/") + "/"
    val files = walk(src)
      .map(st => (fs.makeQualified(st.getPath).toString.stripPrefix(srcBase),
        st.getLen))
      .sortBy(_._1)
    // Per-file cap: the read model is one (path, bytes) row, and a
    // byte-array cell tops out at Int.MaxValue — refuse at PACK time
    // rather than letting readHar fail at lookup time
    files.find(_._2 >= Int.MaxValue.toLong).foreach { case (p, len) =>
      throw new IllegalArgumentException(
        s"harPack: $p is $len bytes; files >= 2 GiB exceed the " +
          "(path, bytes) row model — split or store such files unpacked")
    }
    files.foreach { case (rel, _) =>
      require(!rel.exists(c => c == ' ' || c == '\n' || c == '\r' || c == '\t'),
        s"harPack: '$rel' contains whitespace; the stock " +
          "text index format cannot encode it")
    }
    val dst = new Path(dstDir)
    fs.mkdirs(dst)
    // GENERATION: new parts continue numbering above every existing
    // part (committed or orphaned), so nothing already on disk is
    // ever overwritten or deleted before the new index commits — a
    // crash anywhere in this job leaves the previous archive intact.
    // Orphaned attempt temps of dead runs are cleared now (readers
    // never see dot-prefixed names; a single packer is the contract),
    // and so are the index temps a crash between index-write and
    // rename orphans (`._index.tmp-gen<N>`, `._masterindex.tmp-gen<N>`;
    // the N never matches a later pack's, since partStart only grows)
    val existing = fs.listStatus(dst).map(_.getPath)
    existing.filter(p => Seq(".part-", "._index.tmp-", "._masterindex.tmp-")
        .exists(p.getName.startsWith))
      .foreach(p => fs.delete(p, true))
    val partStart = existing.map(_.getName)
      .filter(_.matches("part-\\d+"))
      .map(_.stripPrefix("part-").toInt)
      .foldLeft(-1)(math.max) + 1
    // first-fit part assignment: (path, part, offset, length); a file
    // larger than the budget still gets its own part (never split)
    val assigned = Seq.newBuilder[(String, Int, Long, Long)]
    var part = partStart; var off = 0L
    files.foreach { case (p, len) =>
      if (off > 0 && off + len > partSizeBytes) { part += 1; off = 0L }
      assigned += ((p, part, off, len))
      off += len
    }
    val index = assigned.result()
    val dstBase = fs.makeQualified(dst).toString.stripSuffix("/") + "/"
    // one task per part; each streams its own files into its blob.
    // numSlices = nParts so the copy parallelism is the part count.
    // The session's Hadoop conf must reach the tasks (fs.s3a.*
    // credentials, HA nameservices live there; a bare Configuration()
    // on an executor knows none of it).
    val sconf = new SerializableConfiguration(conf)
    val byPart = index.groupBy(_._2).toSeq.sortBy(_._1)
    spark.sparkContext.parallelize(byPart, part - partStart + 1)
      .foreach { case (pid, slice) =>
        // write-to-attempt-temp then atomic rename: a retried or
        // speculative attempt writing the final path directly would
        // truncate-and-interleave with a concurrent attempt (the job
        // still reports success over the corrupt blob). With the
        // rename protocol each attempt owns a private temp; the first
        // rename wins, losers see the destination exists (identical
        // bytes — the input slice is deterministic) and discard.
        val finalPath = new Path(s"${dstBase}part-$pid")
        val tc = org.apache.spark.TaskContext.get()
        val attempt = if (tc == null) 0L else tc.taskAttemptId()
        val tmpPath = new Path(s"$dstBase.part-$pid.attempt-$attempt")
        val pfs = finalPath.getFileSystem(sconf.value)
        val out = pfs.create(tmpPath, true)
        try slice.sortBy(_._3).foreach { case (rel, _, _, _) =>
          val inPath = new Path(srcBase + rel)
          val in = inPath.getFileSystem(sconf.value).open(inPath)
          try {
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        } finally out.close()
        // commit = bare rename, NEVER delete-then-rename: a task-side
        // delete would let a late zombie attempt remove a part another
        // attempt already committed (and a kill between its delete and
        // rename loses the part for good). Rename does not overwrite,
        // so the first attempt wins; a loser's rename fails with the
        // destination present and its (byte-identical) temp is dropped.
        // This generation's part numbers are fresh (above every
        // pre-existing part), so a present destination here can only
        // be a sibling attempt's commit.
        if (!pfs.rename(tmpPath, finalPath)) {
          if (pfs.exists(finalPath)) pfs.delete(tmpPath, false)
          else throw new java.io.IOException(
            s"harPack: could not commit $tmpPath -> $finalPath")
        }
      }
    // sweep temp files of killed/superseded attempts (dot-prefixed,
    // so readers never see them as parts). Safe against a still-
    // running zombie attempt: deleting its open temp only makes its
    // eventual rename fail, and the commit block treats that as
    // "another attempt won" — it can no longer touch committed parts.
    fs.listStatus(dst).map(_.getPath)
      .filter(_.getName.startsWith(".part-"))
      .foreach(p => fs.delete(p, false))
    val (indexText, masterText) = stockIndex(index, entriesPerStore)
    // INDEX SWAP, `_index` first (see scaladoc): write each file to a
    // dot-prefixed temp, then replace the live one (delete-then-rename
    // — HDFS rename won't replace; recursive, so an `_index` DIRECTORY
    // left by an older layout is replaced too). Old-generation parts
    // are deleted only AFTER the new index is live.
    Seq("index" -> indexText, "masterindex" -> masterText).foreach {
      case (name, content) =>
        val tmp = new Path(s"${dstBase}._$name.tmp-gen$partStart")
        val fin = new Path(s"${dstBase}_$name")
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        fs.delete(fin, true)
        if (!fs.rename(tmp, fin))
          throw new java.io.IOException(s"harPack: could not commit $tmp -> $fin")
    }
    fs.listStatus(dst).map(_.getPath)
      .filter { p =>
        p.getName.matches("part-\\d+") &&
          p.getName.stripPrefix("part-").toInt < partStart
      }
      .foreach(p => fs.delete(p, false))
    harIndex(spark, dstDir)
  }

  /** The text `_index` and `_masterindex` of `index`'s
    * (relative path, part, offset, length) entries.
    */
  private def stockIndex(index: Seq[(String, Int, Long, Long)],
                         entriesPerStore: Int): (String, String) = {
    val fileLines = index.map { case (rel, pid, off, len) =>
      val p = "/" + rel
      (p, s"$p file part-$pid $off $len ")
    }
    // directory entries: every ancestor dir, children listed by NAME
    // (the reference archiver receives them from its input listing;
    // here they derive from the same walk the file entries came from)
    val children = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.SortedSet[String]]
    def parentOf(p: String): String = {
      val i = p.lastIndexOf('/'); if (i <= 0) "/" else p.substring(0, i)
    }
    index.foreach { case (rel, _, _, _) =>
      var p = "/" + rel
      while (p != "/") {
        val par = parentOf(p)
        val name = p.substring(p.lastIndexOf('/') + 1)
        children.getOrElseUpdate(par,
          scala.collection.mutable.SortedSet.empty[String]) += name
        p = par
      }
    }
    val dirLines = children.toSeq.map { case (d, cs) =>
      (d, s"$d dir none 0 0 " + cs.map(_ + " ").mkString)
    }
    // _index is hash-sorted (the reducer's input order); path as the
    // tiebreak makes equal-hash layouts deterministic
    val all = (fileLines ++ dirLines)
      .sortBy { case (p, _) => (harHash(p), p) }
    // _masterindex replays the reducer's store arithmetic
    // (HadoopArchives.java:566-605): flush a store line every
    // entriesPerStore index lines, endHash = the flushing line's
    // hash; final partial store on close
    val idxSb = new java.lang.StringBuilder
    val stores = Seq.newBuilder[String]
    var bytePos = 0L; var startPos = 0L
    var startIndex = 0; var lastHash = 0; var written = 0
    all.foreach { case (p, line) =>
      idxSb.append(line).append('\n')
      bytePos += line.getBytes("UTF-8").length + 1L
      lastHash = harHash(p)
      written += 1
      if (written > entriesPerStore - 1) {
        stores += s"$startIndex $lastHash $startPos $bytePos \n"
        startPos = bytePos; startIndex = lastHash; written = 0
      }
    }
    if (written > 0)
      stores += s"$startIndex $lastHash $startPos $bytePos \n"
    (idxSb.toString, "1 \n" + stores.result().mkString)
  }

  /** Parse an archive's text `_index` (HarFileSystem.java:33-44) into
    * the (path, part_file, offset, length) relation the ranged reader
    * consumes. File entries only — HAR directories carry no bytes.
    */
  private def harIndex(spark: SparkSession, harDir: String): DataFrame = {
    // the underscore prefix marks the file HIDDEN to every Spark/
    // Hadoop file-source listing (spark.read.text returns zero rows;
    // FileInputFormat's glob refuses the explicit path), so the index
    // is read driver-side through the raw FileSystem — exactly what
    // the reference's HarFileSystem client does with this same file
    // (HarFileSystem.java:386-398). The index is file METADATA, one
    // line per archived file: the same (path, size) list the packer
    // already holds on the driver.
    val idxPath = new Path(harDir.stripSuffix("/") + "/_index")
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = {
      val in = fs.open(idxPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }.filter(_.trim.nonEmpty)
    val spark2 = spark
    import spark2.implicits._
    lines.toDF("value")
      .select(split(col("value"), " ").as("f"))
      .filter(col("f").getItem(1) === "file")
      .select(col("f").getItem(0).as("path"),
        col("f").getItem(2).as("part_file"),
        col("f").getItem(3).cast("long").as("offset"),
        col("f").getItem(4).cast("long").as("length"))
  }

  /** Read an archive — one [[harPack]] wrote, or one stock Hadoop
    * (`hadoop archive`) wrote — back as (path, bytes): ranged reads
    * against the part blobs, driven by the text `_index`. Index rows
    * are range-partitioned by (part, offset) so each task reads ONE
    * part handle sequentially forward — the archive-scan access
    * pattern HarFileSystem's readers use; bytes never shuffle.
    * `pathFilter` (an index predicate, e.g. `col("path").startsWith
    * ("/logs/")`) prunes the (metadata-sized) index before any blob
    * is opened.
    */
  def readHar(spark: SparkSession, harDir: String,
              pathFilter: Option[Column] = None): DataFrame = {
    val idx0 = harIndex(spark, harDir)
    rangedPartReads(spark, harDir.stripSuffix("/") + "/",
      pathFilter.map(idx0.filter).getOrElse(idx0))
  }

  // public: the row encoder's generated code instantiates it — a
  // private class fails janino compilation task-side
  final case class PartEntry(path: String, part_file: String,
                             offset: Long, length: Long)

  /** One forward sequential scan per part blob: range-partition
    * entries by (part file, offset), keep one open handle per task,
    * seek forward only. Bytes never shuffle.
    */
  private def rangedPartReads(spark: SparkSession, dstBase: String,
                              idx: DataFrame): DataFrame = {
    val sconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    idx.repartitionByRange(col("part_file"), col("offset"))
      .sortWithinPartitions(col("part_file"), col("offset"))
      .as[PartEntry]
      .mapPartitions { rows =>
        var open: Option[(String, org.apache.hadoop.fs.FSDataInputStream)] = None
        // the handle must close even when the iterator is NOT drained
        // (limit/take, downstream failure) — tie it to task completion
        Option(org.apache.spark.TaskContext.get()).foreach {
          _.addTaskCompletionListener[Unit] { _ =>
            open.foreach(_._2.close()); open = None
          }
        }
        rows.map { case PartEntry(path, partFile, offset, length) =>
          // harPack enforces this at pack time; a foreign (stock-
          // written) index must be re-checked at read time
          require(length < Int.MaxValue.toLong,
            s"$path is $length bytes; >= 2 GiB exceeds the (path, bytes) " +
              "row model")
          if (!open.exists(_._1 == partFile)) {
            open.foreach(_._2.close())
            val p = new Path(dstBase + partFile)
            open = Some((partFile, p.getFileSystem(sconf.value).open(p)))
          }
          val in = open.get._2
          val buf = new Array[Byte](length.toInt)
          in.seek(offset)
          in.readFully(buf)
          (path, buf)
        }
      }.toDF("path", "bytes")
  }

  /** The reference's path hash (HarFileSystem.java:360-362):
    * `Path.toString().hashCode() & 0x7fffffff` — the `_index` sort
    * key and the `_masterindex` range key.
    */
  private[graft] def harHash(path: String): Int =
    new Path(path).toString.hashCode & 0x7fffffff

  /** Point lookup of one rooted archive path (`/a/b.txt`) via the
    * text `_masterindex`, mirroring HarFileSystem.fileStatusInIndex
    * (HarFileSystem.java:386-448): hash the path, collect the index
    * byte ranges whose [startHash, endHash] cover it, scan ONLY those
    * `_index` slices for the entry, then one ranged read from its
    * part blob — O(slice + file), never O(archive). Driver-side, like
    * the reference's client path. None if the path isn't archived.
    */
  def harLookup(spark: SparkSession, harDir: String,
                path: String): Option[Array[Byte]] = {
    val dstBase = harDir.stripSuffix("/") + "/"
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(path)
    val hash = harHash(path)
    val masterPath = new Path(dstBase + "_masterindex")
    val fs = masterPath.getFileSystem(conf)
    val master = {
      val in = fs.open(masterPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    // first line is the version header ("1 "); store lines are
    // "startHash endHash startPos endPos" into _index
    val stores = master.drop(1).filter(_.trim.nonEmpty).map { line =>
      val f = line.trim.split(" ")
      (f(0).toInt, f(1).toInt, f(2).toLong, f(3).toLong)
    }.filter { case (lo, hi, _, _) => lo <= hash && hash <= hi }
    val idxPath = new Path(dstBase + "_index")
    // lazily: stop at the first store slice that holds the entry
    // (iterator.toSeq would eagerly read EVERY covering slice), and
    // seek one open stream instead of reopening _index per store
    val entry = if (stores.isEmpty) None else {
      val in = fs.open(idxPath)
      try {
        stores.iterator.map { case (_, _, begin, end) =>
          in.seek(begin)
          val buf = new Array[Byte]((end - begin).toInt)
          in.readFully(buf)
          new String(buf, "UTF-8").split("\n").iterator.map(_.split(" "))
            .find(f => f.length >= 5 && f(1) == "file" &&
              new Path(f(0)).compareTo(target) == 0)
            .map(f => (f(2), f(3).toLong, f(4).toLong))
        }.collectFirst { case Some(e) => e }
      } finally in.close()
    }
    entry.map { case (partFile, offset, length) =>
      require(length < Int.MaxValue.toLong,
        s"$path is $length bytes; >= 2 GiB exceeds the byte-array model")
      val p = new Path(dstBase + partFile)
      val in = p.getFileSystem(conf).open(p)
      try {
        val buf = new Array[Byte](length.toInt)
        in.seek(offset)
        in.readFully(buf)
        buf
      } finally in.close()
    }
  }
}
