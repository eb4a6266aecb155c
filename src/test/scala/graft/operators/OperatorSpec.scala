package graft.operators

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import TextOps._

  test("field spec parser handles singles, ranges, open tails") {
    assert(parseFieldSpec("4,3,0-2,6-") ==
      Seq((4, Some(4)), (3, Some(3)), (0, Some(2)), (6, None)))
  }

  test("grep counts every regex match, ordered by count desc") {
    import spark.implicits._
    val df = Seq("aa ab zz", "ab ab").toDF("text")
    val got = grep(df, col("text"), "a[ab]").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("ab", 3), ("aa", 1)))
  }

  test("logalyze greps whole lines with occurrence counts, column-sorted") {
    import spark.implicits._
    val logs = Seq(
      "2024\thost2\tERROR disk ERROR",   // 2 occurrences on one line
      "2024\thost1\tERROR net",
      "2024\thost1\tERROR net",          // duplicate line -> counts sum
      "2024\thost3\tWARN disk"           // no match -> dropped
    ).toDF("line")
    val got = logalyze(logs, col("line"), "ERROR", sortCols = Seq(1, 0))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("2024\thost1\tERROR net", 2L),
      ("2024\thost2\tERROR disk ERROR", 2L)))
    intercept[IllegalArgumentException] {
      logalyze(logs, col("line"), "ERROR", sortCols = Seq.empty)
    }
  }

  test("fieldSelection projects spec'd fields in order") {
    import spark.implicits._
    val df = Seq("a\tb\tc\td").toDF("value")
    val got = fieldSelection(df, col("value"), "2,0,3-", maxFields = 4)
      .collect().head.toSeq
    assert(got == Seq("c", "a", "d"))
  }

  test("fieldSelection yields nulls for ragged records, like cut") {
    import spark.implicits._
    // regression: getItem threw INVALID_ARRAY_INDEX under ANSI when
    // a record had fewer fields than the spec index
    val df = Seq("a\tb\tc\td\te\tf", "x\ty").toDF("value")
    val got = fieldSelection(df, col("value"), "2-", maxFields = 16)
      .collect().map(_.toSeq)
    // the 6-field row fills 2..5 then nulls; the 2-field row is all null
    assert(got.exists(_.take(4) == Seq("c", "d", "e", "f")))
    assert(got.exists(_.forall(_ == null)))
  }

  test("wordCount ignores empty tokens") {
    import spark.implicits._
    val df = Seq("x  y", " x ").toDF("text")
    val got = wordCount(df, col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("x" -> 2, "y" -> 1))
  }
}

class SortingSpec extends SparkSpec {
  import Sorting._

  test("key field spec parser: -k2,2nr -k1,1") {
    assert(parseKeyFieldSpecs("-k2,2nr -k1,1") ==
      Seq(KeyFieldSpec(2, numeric = true, reverse = true),
          KeyFieldSpec(1, numeric = false, reverse = false)))
  }

  test("key field spec parser rejects multi-field ranges") {
    intercept[IllegalArgumentException] { parseKeyFieldSpecs("-k2,4n") }
  }

  test("keyFieldSort orders numerically and reversed per spec") {
    import spark.implicits._
    val df = Seq("b\t2", "a\t10", "c\t2").toDF("value")
    val got = keyFieldSort(df, col("value"), "-k2,2nr -k1,1")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a\t10", "b\t2", "c\t2"))
  }

  test("keyFieldSort breaks full key ties on the whole line, byte-wise") {
    import spark.implicits._
    // every line ties on -k2,2n except the first; Unix sort without -s
    // falls back to comparing whole lines, whatever the input order
    val lines = Seq("c\t1\tx", "a\t0", "b\t1\tz", "a\t1\ty", "B\t1")
    val want = Seq("a\t0", "B\t1", "a\t1\ty", "b\t1\tz", "c\t1\tx")
    for (in <- Seq(lines, lines.reverse)) {
      val df = in.toDF("value").repartition(3)
      val sorted = keyFieldSort(df, col("value"), "-k2,2n")
      assert(sorted.collect().map(_.getString(0)).toSeq == want)
      assert(sorted.limit(3).collect().map(_.getString(0)).toSeq ==
        want.take(3))
    }
  }

  test("keyFieldSort tolerates duplicate passthrough columns and __sk names") {
    import spark.implicits._
    // post-join frame with two columns named 'tag' plus a caller
    // column that collides with the internal sort-key prefix
    val a = Seq(("b\t2", "x"), ("a\t1", "y")).toDF("value", "tag")
    val b = Seq(("x", 1), ("y", 2)).toDF("tag", "__sk0")
    val joined = a.join(b, a("tag") === b("tag"))
    val got = keyFieldSort(joined, col("value"), "-k2,2n")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a\t1", "b\t2"))
    assert(keyFieldSort(joined, col("value"), "-k2,2n").columns.count(_ == "__sk0") == 1,
      "caller's __sk0 column must survive")
  }

  test("keyFieldPartition co-locates records sharing the spec'd key fields") {
    import spark.implicits._
    // numeric key spec: "07" and "7.0" are the same numeric key and
    // must land in the same partition (the partitioner hashes the
    // typed key the downstream numeric sort compares)
    val df = (1 to 200).map(i => s"u${i % 10}\t${i % 7}").toDF("value")
      .union(Seq("u1\t07", "u1\t7.0").toDF("value"))
    val parted = keyFieldPartition(df, col("value"), "-k2,2n", numPartitions = Some(5))
    assert(parted.rdd.getNumPartitions == 5)
    val keyToParts = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.map(r => r.getString(0).split("\t")(1).toDouble -> pid)
    }.collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every numeric key lives in exactly one partition
    assert(keyToParts.values.forall(_.size == 1), keyToParts.toString)
    // and rows are spread over more than one partition overall
    assert(keyToParts.values.flatten.toSet.size > 1)
  }

  test("reduceSortedGroups streams sorted runs and matches groupBy") {
    import spark.implicits._
    val li = Graft.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
    val got = Sorting.reduceSortedGroups[(Long, Int, Int)](
      li, Seq("l_orderkey"), Seq(col("l_linenumber"))) { (key, rows) =>
        var n = 0; var last = Int.MinValue; var sortedOk = true
        rows.foreach { r =>
          val ln = r.getInt(1)
          if (ln < last) sortedOk = false
          last = ln; n += 1
        }
        assert(sortedOk)
        Iterator.single((key.head.asInstanceOf[Long], n, last))
      }.collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val expected = li.groupBy("l_orderkey")
      .agg(count(lit(1)).cast("int").as("n"), max("l_linenumber").as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got == expected)
  }

  test("reduceSortedGroups groups BINARY keys by value, not reference") {
    import spark.implicits._
    // Array[Byte] == is reference equality; without normalization
    // every row of a binary-keyed group would become its own
    // single-row run — silently wrong aggregates, no error
    val df = Seq(("a", 1), ("a", 2), ("b", 3))
      .toDF("k", "v")
      .select(unhex(hex(col("k"))).as("k"), col("v")) // k as binary
    val got = Sorting.reduceSortedGroups[(String, Int)](
      df, Seq("k"), Seq(col("v"))) { (key, rows) =>
        val bytes = key.head match {
          case b: Array[Byte] => b
          case s: Seq[_] => s.asInstanceOf[Seq[Byte]].toArray
        }
        Iterator.single((new String(bytes, "UTF-8"), rows.size))
      }.collect().toMap
    assert(got == Map("a" -> 2, "b" -> 1), got.toString)
  }

  test("reduceSortedGroups groups NaN keys as ONE group, no infinite loop") {
    import spark.implicits._
    // boxed-primitive == follows primitive NaN != NaN; without the
    // sentinel a NaN group key never matched its own run head and
    // the iterator spun forever
    val df = Seq(("x", 1.0), ("y", Double.NaN), ("z", Double.NaN))
      .toDF("tag", "k")
      .select(col("tag"), col("k"))
    val got = Sorting.reduceSortedGroups[(String, Int)](
      df, Seq("k"), Seq(col("tag"))) { (key, rows) =>
        Iterator.single((String.valueOf(key.head), rows.size))
      }.collect().toMap
    assert(got == Map("1.0" -> 1, "NaN" -> 2), got.toString)
  }

  test("validateSorted orders strings by UTF-8 bytes, like the engine") {
    import spark.implicits._
    // U+1F600 sorts AFTER U+FFFD in UTF-8 byte order (Spark's), but
    // BEFORE it in UTF-16 code-unit order (String.compareTo) — the
    // old comparator called this correctly sorted frame unsorted
    val df = Seq("a", "�", "😀").toDF("s")
      .repartitionByRange(2, col("s")).sortWithinPartitions("s")
    val (ok, n) = Sorting.validateSorted(df, Seq("s"))
    assert(ok && n == 3L)
    // non-atomic keys are refused with a clear message, not a CCE
    val arr = Seq(Seq(1, 2), Seq(3)).toDF("a")
    intercept[IllegalArgumentException] {
      Sorting.validateSorted(arr, Seq("a"))
    }
  }

  test("reduceSortedGroups handles partial consumers without bleeding runs") {
    import spark.implicits._
    val df = Seq((1, 10), (1, 20), (1, 30), (2, 40)).toDF("k", "v")
    val got = Sorting.reduceSortedGroups[(Int, Int)](
      df, Seq("k"), Seq(col("v"))) { (key, rows) =>
        // consume only the first row of each run
        Iterator.single((key.head.asInstanceOf[Int], rows.next().getInt(1)))
      }.collect().toMap
    assert(got == Map(1 -> 10, 2 -> 40))
  }

  test("totalOrderSort is globally ordered and a permutation of input") {
    val li = Graft.table(spark, sf, "lineitem")
    val sorted = totalOrderSort(li, col("l_orderkey").asc, col("l_linenumber").asc)
    // SortValidator-style check: order within the collected output +
    // row multiset preserved (reference: src/test/.../SortValidator.java)
    val keys = sorted.select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(keys.zip(keys.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2) })
    assert(sorted.count() == li.count())
  }

  test("topK returns exactly k extreme rows") {
    val o = Graft.table(spark, sf, "orders")
    val top = topK(o, 10, col("o_totalprice").desc).collect()
    assert(top.length == 10)
    val all = o.select(max(col("o_totalprice"))).collect().head.getDouble(0)
    assert(top.head.getAs[Double]("o_totalprice") == all)
  }
}

class JoinsSpec extends SparkSpec {
  import Joins._
  import spark.implicits._

  private def l = Seq((1, "a"), (2, "b")).toDF("k", "lv")
  private def r = Seq((2, "B"), (3, "C")).toDF("k", "rv")

  test("innerJoin keeps keys present in all sources") {
    assert(innerJoin(Seq(l, r), "k").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("outerJoin keeps keys present in any source, null slots") {
    val got = outerJoin(Seq(l, r), "k").collect()
      .map(x => (x.getInt(0), x.getAs[String]("lv"), x.getAs[String]("rv")))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, "a", null), (2, "b", "B"), (3, null, "C")))
  }

  test("overrideJoin: rightmost source wins even with a null value") {
    val a = Seq((1, "a1")).toDF("k", "v")
    val b = Seq((1, null.asInstanceOf[String])).toDF("k", "v")
    val got = overrideJoin(Seq(a, b), "k", Seq(Seq("v"), Seq("v")))
      .collect().map(x => (x.getInt(0), x.getAs[String]("v")))
    // b HAS key 1 with value null -> null wins (no resurrection of a1)
    assert(got.toSeq == Seq((1, null)))
  }

  test("overrideJoin: rightmost source wins per key") {
    val a = Seq((1, "a1"), (2, "a2")).toDF("k", "v")
    val b = Seq((2, "b2"), (3, "b3")).toDF("k", "v")
    val got = overrideJoin(Seq(a, b), "k", Seq(Seq("v"), Seq("v")))
      .collect().map(x => (x.getInt(0), x.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "a1"), (2, "b2"), (3, "b3")))
  }

  test("join-expression DSL parses nested composites") {
    val e = parseJoinExpr("outer(inner(tbl(a), tbl(b)), tbl(c))")
    assert(e == Composite("outer",
      Seq(Composite("inner", Seq(Tbl("a"), Tbl("b"))), Tbl("c"))))
  }

  test("compositeJoin evaluates nested inner/outer over resolved tables") {
    val tables = Map(
      "a" -> Seq((1, "a1"), (2, "a2")).toDF("k", "av"),
      "b" -> Seq((2, "b2"), (3, "b3")).toDF("j", "bv"),
      "c" -> Seq((2, "c2"), (9, "c9")).toDF("k", "cv"))
    val got = compositeJoin("outer(inner(tbl(a), tbl(b)), tbl(c))", tables)
      .collect().map(r => (r.getInt(0), r.getAs[String]("av"),
        r.getAs[String]("bv"), r.getAs[String]("cv"))).sortBy(_._1)
    // inner(a,b) = {2}; outer with c adds 9
    assert(got.toSeq == Seq((2, "a2", "b2", "c2"), (9, null, null, "c9")))
  }

  test("compositeJoin override takes rightmost value per key") {
    val tables = Map(
      "x" -> Seq((1, "x1"), (2, "x2")).toDF("k", "v"),
      "y" -> Seq((2, "y2")).toDF("k", "v"))
    val got = compositeJoin("override(tbl(x), tbl(y))", tables)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == Seq((1, "x1"), (2, "y2")))
  }

  test("dataJoin equals the Catalyst inner join (cross product per key)") {
    val left = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "lv")
    val right = Seq((1, 10), (1, 20), (3, 30)).toDF("j", "rv")
    val got = dataJoin(left, right, "k", "j")
      .collect().map(x => (x.getInt(0), x.getString(1), x.getInt(3))).sorted
    assert(got.toSeq == Seq((1, "x", 10), (1, "x", 20), (1, "y", 10), (1, "y", 20)))
  }

  test("dataJoin keys are typed: int and string keys never collide") {
    // the stringified-key form would have joined int 1 with "1";
    // typed keys reject the mismatch outright (reference data_join
    // requires the same key class on both sides)
    val intKeys = Seq((1, "x")).toDF("k", "lv")
    val strKeys = Seq(("1", 10)).toDF("j", "rv")
    val e = intercept[IllegalArgumentException] {
      dataJoin(intKeys, strKeys, "k", "j")
    }
    assert(e.getMessage.contains("key types must match"))
    // same-typed keys still join natively
    val l2 = Seq((1L, "a")).toDF("k", "lv")
    val r2 = Seq((1L, 7)).toDF("j", "rv")
    assert(dataJoin(l2, r2, "k", "j").count() == 1)
  }
}

class AggregateLibSpec extends SparkSpec {
  import AggregateLib._
  import spark.implicits._

  test("accumulatingReduce types values by key prefix (DFSIO collector)") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("l:tasks", "3"), ("l:tasks", "4"),
      ("f:rate", "1.5"), ("f:rate", "2.25"),
      ("s:files", "b.txt"), ("s:files", "a.txt"),
      ("l:bad", "x"), ("l:bad", "7")).toDF("k", "v")
    val got = accumulatingReduce(df, col("k"), col("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("l:tasks") == "7")
    assert(got("f:rate") == "3.75")
    assert(got("s:files") == "a.txt;b.txt") // sorted, deterministic
    assert(got("l:bad") == "7")             // non-numeric -> null, skipped by sum
  }

  test("uniqValueCount caps exactly at maxNumItems") {
    val df = (1 to 100).map(i => ("g", i % 30)).toDF("g", "v")
    val got = df.groupBy($"g").agg(
      uniqValueCount($"v", 10).as("c10"),
      uniqValueCount($"v", 1000).as("call")).collect().head
    assert(got.getLong(1) == 10 && got.getLong(2) == 30)
  }

  test("uniqValueCountApprox bounds the HLL estimate by the cap") {
    val df = (1 to 1000).map(i => ("g", i)).toDF("g", "v")
    val r = df.groupBy($"g").agg(
      uniqValueCountApprox($"v", 50).as("capped"),
      uniqValueCountApprox($"v", 100000).as("est")).collect().head
    assert(r.getLong(1) == 50)
    assert(math.abs(r.getLong(2) - 1000) < 100) // ~2% rsd
  }

  test("aggregator plugin registers for SQL text (descriptor surface)") {
    registerSqlAggregates(spark)
    val df = (1 to 80).map(i => ("g", (i % 60).toString)).toDF("g", "v")
    df.createOrReplaceTempView("plugin_in")
    val r = spark.sql(
      "SELECT uniq_value_count_50(v) AS u FROM plugin_in GROUP BY g")
      .collect().head
    assert(r.getLong(0) == 50)
  }

  test("valueHistogram reports exact frequency stats") {
    // values: a x3, b x1 -> freqs {3,1}: n=2 min=1 max=3 median=2 avg=2 sd=1
    val df = Seq("a", "a", "a", "b").map(("g", _)).toDF("g", "v")
    val got = valueHistogram(df, Seq($"g"), $"v").collect().head
    assert(got.getLong(1) == 2)           // n_values
    assert(got.getLong(2) == 1)           // min_freq
    assert(got.getDouble(3) == 2.0)       // median
    assert(got.getLong(4) == 3)           // max
    assert(got.getDouble(5) == 2.0)       // avg
    assert(got.getDouble(6) == 1.0)       // stddev_pop
  }

  test("aggregateReduce dispatches all eight descriptor types on the key prefix") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("LongValueSum:s", "3"), ("LongValueSum:s", "4"),
      ("DoubleValueSum:d", "1.5"), ("DoubleValueSum:d", "2.25"),
      ("LongValueMax:mx", "7"), ("LongValueMax:mx", "2"),
      ("LongValueMin:mn", "7"), ("LongValueMin:mn", "2"),
      ("StringValueMax:sx", "b"), ("StringValueMax:sx", "a"),
      ("StringValueMin:sn", "b"), ("StringValueMin:sn", "a"),
      ("UniqValueCount:u", "x"), ("UniqValueCount:u", "x"),
      ("UniqValueCount:u", "y"),
      // histogram over values a,a,a,b -> freqs {3,1}: n=2 min=1
      // upper-median(counts[1])=3 max=3 avg=2 sd=1
      ("ValueHistogram:h", "a"), ("ValueHistogram:h", "a"),
      ("ValueHistogram:h", "a"), ("ValueHistogram:h", "b"),
      // id containing the separator: only the FIRST ":" splits
      ("LongValueSum:a:b", "5"),
      // no separator: null report (the reference throws mid-job)
      ("nosep", "1")).toDF("k", "v")
    val got = aggregateReduce(df, col("k"), col("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("s") == "7")
    assert(got("d") == "3.75")
    assert(got("mx") == "7" && got("mn") == "2")
    assert(got("sx") == "b" && got("sn") == "a")
    assert(got("u") == "2")
    assert(got("h") == "2\t1\t3\t3\t2.0\t1.0")
    assert(got("a:b") == "5")
    assert(got.get(null).contains(null))
  }

  test("aggregateReduce caps UniqValueCount like the reference's maxNumItems") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 100).map(i => ("UniqValueCount:u", (i % 30).toString))
      .toDF("k", "v")
    val got = aggregateReduce(df, col("k"), col("v"), uniqCap = 10L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("u") == "10")
  }

  test("percentileReport interpolates at p*(n-1) and names columns") {
    // values 10,20,30,40: p50 at pos 1.5 -> 25.0; p90 at pos 2.7 ->
    // 37.0 (30 + 0.7*10); p100 = 40
    val df = Seq(10L, 20L, 30L, 40L).map(("g", _)).toDF("g", "v")
    val out = percentileReport(df, $"g", $"v", Seq(0.5, 0.9, 1.0))
    assert(out.columns.toSeq == Seq("grp", "n", "p50", "p90", "p100"))
    val r = out.collect().head
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(2) == 25.0)
    assert(math.abs(r.getDouble(3) - 37.0) < 1e-9)
    assert(r.getDouble(4) == 40.0)
  }

  test("percentileReportApprox tracks the exact report within rank error") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 5000).map(i => ("g", rnd.nextInt(1000).toLong))
      .toDF("g", "v")
    val exact = percentileReport(df, $"g", $"v", Seq(0.5, 0.99))
      .collect().head
    val approx = percentileReportApprox(df, $"g", $"v", Seq(0.5, 0.99))
      .collect().head
    // accuracy 10000 on 5000 rows -> near-exact; allow a loose band
    assert(math.abs(exact.getDouble(2) - approx.getLong(2)) <= 5.0)
    assert(math.abs(exact.getDouble(3) - approx.getLong(3)) <= 10.0)
  }

  test("percentileReport names fractional percentiles safely") {
    val df = Seq(("g", 1L)).toDF("g", "v")
    val out = percentileReport(df, $"g", $"v", Seq(0.999))
    assert(out.columns.toSeq == Seq("grp", "n", "p99_9"))
    // decimal point-shift, not double multiply: 0.57*100 in binary
    // floating point is 56.99999999999999
    val out2 = percentileReport(df, $"g", $"v", Seq(0.57, 0.07))
    assert(out2.columns.toSeq == Seq("grp", "n", "p57", "p7"))
    intercept[IllegalArgumentException] {
      percentileReportApprox(df, $"g", $"v", Seq(1.5))
    }
  }
}

class FiltersSpec extends SparkSpec {
  import Filters._
  import spark.implicits._

  test("percentFilter keeps key % f == 0") {
    val df = (0L until 100L).toDF("k")
    assert(percentFilter(df, $"k", 10).count() == 10)
  }

  test("md5Filter is deterministic and ~1/16 selective") {
    val df = (0L until 1600L).toDF("k")
    val n = md5Filter(df, $"k").count()
    assert(n > 50 && n < 150)
    assert(md5Filter(df, $"k").count() == n)
  }
}

class PiSpec extends graft.SparkSpec {

  /** Direct Scala port of the reference's digit computation
    * (PiEstimator.HaltonSequence constructor): x = Σ d_j·q_j with
    * q_j by iterated division — the parity witness for the generated
    * SQL polynomial. NOTE: the reference JOB generates points
    * incrementally (HaltonSequence.nextPoint), whose base-carry step
    * (x -= 1.0 after accumulating base·q_j terms) can drift ULPs from
    * this direct polynomial — parity claimed here is with the
    * constructor's evaluation, not the incremental recurrence (a
    * count flip would need a point within ~1e-15 of the circle
    * boundary).
    */
  private def halton(index: Long, base: Int, digits: Int): Double = {
    var (k, x, q) = (index, 0.0, 1.0 / base)
    (0 until digits).foreach { _ =>
      x += (k % base) * q
      k /= base
      q /= base
    }
    x
  }

  test("estimate counts exactly the direct digit-polynomial inside set") {
    val n = 2048L
    val expected = (1L to n).count { i =>
      val x = halton(i, 2, 12) - 0.5
      val y = halton(i, 3, 7) - 0.5
      x * x + y * y <= 0.25
    }
    val got = Pi.estimate(spark, n).collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == expected.toLong,
      "the SQL digit polynomial reproduces the reference Halton bits")
    assert(got.getDouble(2) ==
      BigDecimal(4.0 * expected / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("estimate converges toward pi (low-discrepancy, not random)") {
    val got = Pi.estimate(spark, 20000L).collect().head
    assert(math.abs(got.getDouble(2) - math.Pi) < 0.01)
  }
}
