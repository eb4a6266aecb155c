package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sort family (reference: total-order sort via sampled pivots,
  * src/mapred/org/apache/hadoop/mapred/lib/TotalOrderPartitioner.java:98
  * + lib/InputSampler.java:314; secondary sort via grouping
  * comparator, src/examples/.../SecondarySort.java:140-230; unix-sort
  * key specs, lib/KeyFieldBasedComparator.java:33-120; top-k as
  * 1-reducer sort, src/examples/.../Grep.java:76-84).
  */
object Sorting {

  /** Total-order sort. Spark's `orderBy` plans a RangePartitioning
    * exchange that samples the data and routes by pivot binary search
    * — exactly the InputSampler + TotalOrderPartitioner pipeline, but
    * automatic and re-sampled per job. Output files are globally
    * ordered across partitions (partition i < partition i+1).
    */
  def totalOrderSort(df: DataFrame, keys: Column*): DataFrame =
    df.orderBy(keys: _*)

  /** Secondary sort: partition by `group`, order by `order` *within*
    * the group's partition, never a global sort (reference: grouping
    * comparator gives the reducer a per-prefix sorted iterator).
    * Scales: only a hash shuffle on the group keys.
    */
  def secondarySort(df: DataFrame, group: Seq[Column], order: Seq[Column]): DataFrame =
    df.repartition(group: _*).sortWithinPartitions(group ++ order: _*)

  /** Secondary sort with an explicit in-group sequence number — the
    * observable form of the reducer's sorted iterator. Window over
    * (group, order) = one shuffle, per-group state only. `rank()`
    * rather than `row_number()`: rank is deterministic under ties in
    * the order keys (row_number would be partition-order dependent).
    */
  def secondarySortRanked(df: DataFrame, group: Seq[Column], order: Seq[Column],
                          rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(group: _*).orderBy(order: _*)
    df.withColumn(rankCol, rank().over(w))
  }

  /** The reducer-iterator contract at scale (reference:
    * ReduceTask.ReduceValuesIterator, ReduceTask.java:227 — the
    * reducer sees each group's values as a sorted stream, never a
    * buffered list): partition by group, sort within partitions by
    * (group, order), then stream consecutive same-key runs through
    * `f` — per-group state is whatever `f` keeps; neither the group
    * nor `f`'s output is ever buffered (Tungsten spills the sort).
    *
    * Leftover run rows are skipped lazily only after `f`'s output for
    * that group is exhausted, so lazy `f` outputs (e.g.
    * `rows.map(...)`) stream correctly.
    *
    * `group` columns are plain names (must be unique in the schema —
    * expression keys should be materialized with `withColumn` first).
    *
    * @param f (groupKey values, sorted row iterator) => output rows
    */
  def reduceSortedGroups[T: org.apache.spark.sql.Encoder](
      df: DataFrame, group: Seq[String], order: Seq[Column])(
      f: (Seq[Any], Iterator[org.apache.spark.sql.Row]) => Iterator[T]):
      org.apache.spark.sql.Dataset[T] = {
    group.foreach { n =>
      require(df.schema.fields.count(_.name == n) == 1,
        s"group column '$n' must appear exactly once in the schema")
    }
    val sorted = secondarySort(df, group.map(col), order)
    val groupIdx = group.map(sorted.schema.fieldIndex)
    sorted.mapPartitions { rows =>
      new Iterator[T] {
        private val buf = rows.buffered
        private var current: Iterator[T] = Iterator.empty
        private var lastKey: Seq[Any] = null
        private def keyOf(r: org.apache.spark.sql.Row): Seq[Any] =
          // binary columns surface as Array[Byte], whose == is
          // REFERENCE equality — comparing raw arrays would split
          // every row into its own group silently; normalize to an
          // immutable Seq (value equality) for the run comparison.
          // NaN normalizes to a self-equal sentinel: boxed-primitive
          // == follows primitive semantics (NaN != NaN), so a NaN
          // group key would never match its own run head and the
          // iterator would spin forever; Spark's own grouping treats
          // all NaN as one key, which the sentinel reproduces.
          groupIdx.map(r.get(_) match {
            case b: Array[Byte] => b.toSeq
            case d: java.lang.Double if d.isNaN => Sorting.NaNKey
            case f: java.lang.Float if f.isNaN => Sorting.NaNKey
            case v => v
          })
        // the key HANDED TO f keeps real values (NaN stays NaN);
        // only the run-equality key above uses the sentinel
        private def userKeyOf(r: org.apache.spark.sql.Row): Seq[Any] =
          groupIdx.map(r.get(_) match {
            case b: Array[Byte] => b.toSeq
            case v => v
          })
        private def advance(): Unit = {
          while (!current.hasNext && {
            // skip whatever the previous f left unconsumed — done
            // lazily here so a lazy f output could still stream it
            if (lastKey != null)
              while (buf.headOption.exists(r => keyOf(r) == lastKey)) buf.next()
            buf.headOption.isDefined
          }) {
            val key = keyOf(buf.head)
            val userKey = userKeyOf(buf.head)
            val run = new Iterator[org.apache.spark.sql.Row] {
              def hasNext: Boolean =
                buf.headOption.exists(r => keyOf(r) == key)
              def next(): org.apache.spark.sql.Row = buf.next()
            }
            current = f(userKey, run)
            lastKey = key
          }
        }
        def hasNext: Boolean = { advance(); current.hasNext }
        def next(): T = { advance(); current.next() }
      }
    }
  }

  /** Top-k: `orderBy(...).limit(k)` plans TakeOrderedAndProject — a
    * per-partition bounded heap + single merge of k·P rows, no global
    * sort, no single-reducer funnel (the reference needed a second
    * 1-reducer MR job).
    */
  def topK(df: DataFrame, k: Int, keys: Column*): DataFrame =
    df.orderBy(keys: _*).limit(k)

  /** SortValidator / TeraValidate as a distributed check (reference:
    * src/test/org/apache/hadoop/mapred/SortValidator.java,
    * src/examples/.../terasort/TeraValidate.java): verifies (a) each
    * partition of `sorted` is internally ordered and (b) partition
    * boundaries are ordered — together: globally sorted. Runs as one
    * pass with O(partitions) driver state, no collect of data rows.
    *
    * @return (isGloballySorted, rowCount)
    */
  def validateSorted(sorted: DataFrame, keys: Seq[String]): (Boolean, Long) = {
    // atomic key types only: arrays/structs/maps surface as Scala
    // collections that are not Comparable — the validator would die
    // with an opaque ClassCastException mid-job instead of a verdict
    keys.foreach { k =>
      val dt = sorted.schema(k).dataType
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      require(!dt.isInstanceOf[ArrayType] && !dt.isInstanceOf[MapType] &&
        !dt.isInstanceOf[StructType],
        s"validateSorted supports atomic sort-key types, got $dt for '$k'")
    }
    val idx = keys.map(sorted.schema.fieldIndex)
    def cmpUnsignedBytes(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    // type-aware ascending compare; nulls first (Spark's default)
    def cmpOne(x: Any, y: Any): Int = (x, y) match {
      // Spark orders binary lexicographically by UNSIGNED byte;
      // Array[Byte] is not Comparable, and a signed compare would
      // disagree with the engine's own order above 0x7f
      case (a: Array[Byte], b: Array[Byte]) => cmpUnsignedBytes(a, b)
      // Spark orders strings by UTF-8 BYTES (UTF8String.binaryCompare),
      // which diverges from String.compareTo's UTF-16 code-unit order
      // for supplementary characters (surrogates sort low in UTF-16
      // but their UTF-8 bytes 0xF0.. sort above 3-byte sequences) —
      // compareTo would flag correctly sorted emoji keys as unsorted
      case (a: String, b: String) =>
        cmpUnsignedBytes(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    def cmpKey(a: Seq[Any], b: Seq[Any]): Int =
      a.lazyZip(b).collectFirst {
        case (x, y) if x == null && y != null => -1
        case (x, y) if x != null && y == null => 1
        case (x, y) if x != null && y != null && cmpOne(x, y) != 0 =>
          cmpOne(x, y)
      }.getOrElse(0)
    val perPartition = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var ok = true
      var first: Option[Seq[Any]] = None
      var last: Option[Seq[Any]] = None
      var n = 0L
      it.foreach { r =>
        val k = idx.map(r.get)
        if (first.isEmpty) first = Some(k)
        if (last.exists(l => cmpKey(l, k) > 0)) ok = false
        last = Some(k)
        n += 1
      }
      Iterator.single((pid, ok, first, last, n))
    }.collect().sortBy(_._1)
    val withinOk = perPartition.forall(_._2)
    val bounds = perPartition.flatMap(p => p._3.zip(p._4))
    val acrossOk = bounds.zip(bounds.drop(1)).forall { case ((_, lastA), (firstB, _)) =>
      cmpKey(lastA, firstB) <= 0
    }
    (withinOk && acrossOk, perPartition.map(_._5).sum)
  }

  /** One `-k` spec of the unix-sort DSL: field (1-based), numeric?,
    * reverse? (reference: KeyFieldBasedComparator/KeyFieldHelper).
    */
  final case class KeyFieldSpec(field: Int, numeric: Boolean, reverse: Boolean)

  /** Parse `"-k2,2nr -k1,1"` → specs. Only the single-field form
    * (`-kF,F[n][r]`) is supported — the reference's char-offset
    * sub-specs are out of scope.
    */
  private[graft] def parseKeyFieldSpecs(spec: String): Seq[KeyFieldSpec] =
    spec.trim.split("\\s+").filter(_.nonEmpty).toSeq.map { tok =>
      val body = tok.stripPrefix("-k")
      val m = "^(\\d+)(?:,(\\d+))?([nr]*)$".r
      body match {
        case m(f, end, opts) =>
          // multi-field ranges (-k2,4) would silently sort by field 2
          // only — reject rather than misorder
          require(end == null || end == f,
            s"only single-field specs (-kF,F) supported, got: $tok")
          KeyFieldSpec(f.toInt, opts.contains('n'), opts.contains('r'))
        case _ => throw new IllegalArgumentException(s"bad key spec: $tok")
      }
    }

  /** Apply a unix-sort key spec to a line-oriented DataFrame: split
    * `value` on `sep`, sort by the spec'd fields (numeric casts where
    * `n`), descending where `r`. Lines that tie on every spec'd field
    * are ordered by the whole `value`, ascending and byte-wise — Unix
    * `sort`'s last-resort comparison without `-s` — so the order is
    * total and a top-k cut is deterministic.
    */
  def keyFieldSort(df: DataFrame, value: Column, spec: String,
                   sep: String = "\t"): DataFrame = {
    val parts = split(value, java.util.regex.Pattern.quote(sep))
    val specs = parseKeyFieldSpecs(spec)
    // materialize the sort keys as columns BEFORE ordering: a top-k
    // consumer plans TakeOrderedAndProject, whose generated ordering
    // evaluates the ORDER BY expressions inside compare() — sorting
    // directly on the split/cast expressions would re-run the field
    // split O(n log k) times per row instead of once (measured ~2s of
    // a 3s query at sf0.1)
    // withColumn (not a re-projection) so inputs with duplicate
    // column names — e.g. post-join frames — still sort; the key
    // prefix is grown until it collides with nothing, so a caller's
    // own __sk columns are never shadowed or dropped
    val prefix = graft.Names.fresh("__sk", df.columns)
    val keyed = specs.zipWithIndex.foldLeft(df) { case (d, (s, i)) =>
      val f = parts.getItem(s.field - 1)
      // try_cast, not cast: under ANSI (the session default) a plain
      // cast THROWS on the first non-numeric field value — one stray
      // line would kill a whole sort job. Malformed numerics order as
      // null (first asc / last desc), the engine's null convention.
      d.withColumn(s"$prefix$i", if (s.numeric) f.try_cast("double") else f)
    }
    val order = specs.zipWithIndex.map { case (s, i) =>
      if (s.reverse) col(s"$prefix$i").desc else col(s"$prefix$i").asc
    } :+ value.asc
    keyed.orderBy(order: _*).drop(specs.indices.map(i => s"$prefix$i"): _*)
  }

  /** KeyFieldBasedPartitioner (reference:
    * lib/KeyFieldBasedPartitioner.java — route records by a hash of
    * the spec'd key fields, so all records sharing those fields land
    * in the same reduce partition): hash-repartition on the parsed
    * key-field expressions. Numeric fields hash by their numeric
    * value ("07" and "7.0" co-locate, matching the numeric compare
    * the downstream sort applies); co-location is the contract the
    * spec asserts.
    */
  def keyFieldPartition(df: DataFrame, value: Column, spec: String,
                        sep: String = "\t",
                        numPartitions: Option[Int] = None): DataFrame = {
    val parts = split(value, java.util.regex.Pattern.quote(sep))
    val keys = parseKeyFieldSpecs(spec).map { s =>
      val f = parts.getItem(s.field - 1)
      // try_cast, matching keyFieldSort: a plain cast throws under
      // ANSI on non-numeric fields, and malformed rows must co-locate
      // with the nulls the sort side groups them with
      if (s.numeric) f.try_cast("double") else f
    }
    numPartitions match {
      case Some(n) => df.repartition(n, keys: _*)
      case None => df.repartition(keys: _*)
    }
  }

  /** Self-equal stand-in for NaN in group-run equality (see
    * [[reduceSortedGroups]]): all NaN values form ONE group, matching
    * Spark's own grouping semantics.
    */
  private[operators] case object NaNKey
}
