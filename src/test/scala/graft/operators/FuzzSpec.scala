package graft.operators

import graft.SparkSpec
import graft.functions.{Dedup, Sampling}
import graft.streaming.Heat
import org.apache.spark.sql.functions._

/** Randomized equivalence tests: each operator against an
  * independent in-memory reference implementation over seeded
  * random inputs (deterministic — same cases every run). Example
  * specs pin the documented cases; these sweep the space between
  * them: negative times, ties at bucket edges, empty groups,
  * fractional weights, duplicate keys.
  */
class FuzzSpec extends SparkSpec {
  import spark.implicits._

  private val cases = 12

  test("rangeJoin equals the brute-force inequality join on random data") {
    val rnd = new scala.util.Random(4242)
    for (c <- 1 to cases) {
      val nP = 1 + rnd.nextInt(40)
      val nI = 1 + rnd.nextInt(40)
      val bucket = Seq(1L, 3L, 97L, 1000L)(rnd.nextInt(4))
      val points = (1 to nP).map(i => (i.toLong, rnd.nextLong(4001) - 2000))
      val ivals = (1 to nI).map { i =>
        val s = rnd.nextLong(4001) - 2000
        // includes inverted (len < 0) intervals, which must match nothing
        (i.toLong, s, s + rnd.nextLong(700) - 100)
      }
      val got = Temporal.rangeJoin(
          points.toDF("pid", "t"), col("t"),
          ivals.toDF("iid", "s", "e"), col("s"), col("e"),
          bucket = bucket)
        .select(col("pid"), col("iid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (pid, t) <- points
        (iid, s, e) <- ivals
        if s <= e && s <= t && t <= e
      } yield (pid, iid)).toSet
      assert(got == want, s"case $c (bucket=$bucket): " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("asOfJoin equals the per-row latest-preceding scan on random data") {
    val rnd = new scala.util.Random(1717)
    for (c <- 1 to cases) {
      val keys = (1 to (1 + rnd.nextInt(5))).map(i => s"k$i")
      val left = (1 to (1 + rnd.nextInt(30))).map(i =>
        (i.toLong, keys(rnd.nextInt(keys.length)), rnd.nextLong(200)))
      // unique (key, time) on the right — the documented contract
      val right = rnd.shuffle(
        (for (k <- keys; t <- 0L until 200L) yield (k, t)).toList)
        .take(1 + rnd.nextInt(60))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i * 10L) }
      val got = Temporal.asOfJoin(
          left.toDF("lid", "lk", "lt"), col("lk"), col("lt"),
          right.toDF("rk", "rt", "v"), col("rk"), col("rt"),
          col("v"), "snap")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      val want = left.map { case (lid, lk, lt) =>
        val preceding = right.filter(r => r._1 == lk && r._2 <= lt)
        lid -> (if (preceding.isEmpty) None
                else Some(preceding.maxBy(_._2)._3))
      }.toMap
      assert(got == want, s"case $c: " +
        (want.keySet ++ got.keySet).filter(k => got.get(k) != want.get(k))
          .map(k => s"$k: got=${got.get(k)} want=${want.get(k)}").mkString(", "))
    }
  }

  test("sessionize equals the sequential gap fold on random data") {
    val rnd = new scala.util.Random(9090)
    for (c <- 1 to cases) {
      val gap = 1L + rnd.nextInt(20)
      val rows = (1 to (2 + rnd.nextInt(40))).map(i =>
        (i.toLong, s"k${rnd.nextInt(4)}", rnd.nextLong(300)))
        // unique time per key — ties make lag order nondeterministic
        .groupBy(r => (r._2, r._3)).map(_._2.head).toSeq
      val got = Temporal.sessionize(
          rows.toDF("id", "k", "t"), col("k"), col("t"), gap)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(_._3)
        var sess = 0L
        sorted.zipWithIndex.map { case ((id, _, t), i) =>
          if (i > 0 && t - sorted(i - 1)._3 > gap) sess += 1
          id -> sess
        }
      }
      assert(got == want, s"case $c (gap=$gap)")
    }
  }

  test("packByBudget equals the decimal prefix-sum fold on random data") {
    val rnd = new scala.util.Random(2626)
    for (c <- 1 to cases) {
      val budget = 1L + rnd.nextInt(50)
      val rows = (1 to (1 + rnd.nextInt(50))).map(i =>
        (s"p${rnd.nextInt(3)}", i.toLong,
          // fractional, zero, and heavy weights all in range
          math.abs(rnd.nextGaussian() * 10)))
      val got = Sampling.packByBudget(
          rows.toDF("part", "ord", "w"), col("part"), Seq(col("ord")),
          col("w"), budget)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
        .toMap
      // reference: quantize to the operator's micro-unit decimal,
      // exclusive prefix sum, integral division
      val want = rows.groupBy(_._1).flatMap { case (p, rs) =>
        var acc = BigDecimal(0)
        rs.sortBy(_._2).map { case (_, ord, w) =>
          val shard = (acc / budget).setScale(0, BigDecimal.RoundingMode.FLOOR)
          acc += BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          (p, ord) -> shard.toLong
        }
      }
      assert(got == want, s"case $c (budget=$budget): " +
        want.collect { case (k, v) if got.get(k) != Some(v) =>
          s"$k got=${got.get(k)} want=$v" }.mkString(", "))
    }
  }

  test("globalRank equals the sorted index on random data with duplicates") {
    val rnd = new scala.util.Random(3131)
    for (c <- 1 to cases) {
      val rows = (1 to (1 + rnd.nextInt(80))).map(i =>
        (i.toLong, rnd.nextLong(20)))
      val got = Heat.globalRank(
          rows.toDF("id", "v"), Seq(col("v").asc, col("id").asc), "rnk")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val want = rows.sortBy(r => (r._2, r._1)).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1L) }.toMap
      assert(got == want, s"case $c")
    }
  }

  test("connectedComponents equals union-find on random pair graphs") {
    val rnd = new scala.util.Random(6161)
    for (c <- 1 to cases) {
      val nNodes = 2 + rnd.nextInt(30)
      val pairs = (1 to (1 + rnd.nextInt(50))).map { _ =>
        (rnd.nextLong(nNodes), rnd.nextLong(nNodes))
      }.filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        // default routes tiny graphs to the driver union-find fast
        // path; smallGraphEdges = 0 forces the distributed fixpoint —
        // both must agree with the reference on every case
        val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val gotDist = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"),
            smallGraphEdges = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == gotDist,
          s"case $c: fast path diverged from distributed: $got vs $gotDist")
        // reference: union-find with path compression
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        assert(got == want, s"case $c: " +
          want.collect { case (k, v) if got.get(k) != Some(v) =>
            s"$k got=${got.get(k)} want=$v" }.mkString(", "))
      }
    }
  }

  test("boundedGroupPairs emits every unordered pair when no group tops the cap") {
    val rnd = new scala.util.Random(7272)
    for (c <- 1 to cases) {
      val rows = (1 to (2 + rnd.nextInt(40))).map(i =>
        (s"g${rnd.nextInt(6)}", i.toLong))
      val got = Dedup.boundedGroupPairs(rows.toDF("g", "m"),
          Seq(col("g")), col("m"), cap = 1000, site = "fuzz")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = rows.groupBy(_._1).values.flatMap { g =>
        val ms = g.map(_._2).sorted
        for (i <- ms.indices; j <- (i + 1) until ms.length)
          yield (ms(i), ms(j))
      }.toSet
      assert(got == want, s"case $c: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("mgSketch holds the Misra-Gries bound on random streams") {
    val rnd = new scala.util.Random(8383)
    for (c <- 1 to cases) {
      val cap = 1 + rnd.nextInt(8)
      val stream = (1 to (10 + rnd.nextInt(300))).map(_ => s"i${rnd.nextInt(12)}")
      val (n, sketch) = graft.functions.Sketches.mgSketch(stream.iterator, cap)
      assert(n == stream.length.toLong)
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      // every estimate is a lower bound, within n/(cap+1) of truth
      sketch.foreach { case (k, est) =>
        val t = exact(k)
        assert(est <= t && t - est <= n / (cap + 1), s"case $c: $k est=$est true=$t")
      }
      // every item with count > n/(cap+1) must be present
      exact.foreach { case (k, t) =>
        if (t > n / (cap + 1))
          assert(sketch.contains(k), s"case $c: heavy $k ($t of $n) missing")
      }
    }
  }

  test("hashSplit is an exact partition; membership is rate-monotone") {
    val rnd = new scala.util.Random(9494)
    for (c <- 1 to cases) {
      val rows = (1 to (1 + rnd.nextInt(60))).map { i =>
        val k = if (rnd.nextInt(8) == 0) None else Some(s"k${rnd.nextInt(40)}")
        (i.toLong, k)
      }
      val df = rows.toDF("id", "k")
      val r1 = rnd.nextDouble()
      val (a, b) = Sampling.hashSplit(df, col("k"), r1)
      val (sa, sb) = (a.select("id").as[Long].collect().toSet,
        b.select("id").as[Long].collect().toSet)
      assert((sa & sb).isEmpty && (sa ++ sb) == rows.map(_._1).toSet,
        s"case $c: not a partition")
      // null keys always land in the complement
      assert(rows.collect { case (id, None) => id }.forall(sb.contains),
        s"case $c: null key sampled in")
      // a higher rate's kept set contains a lower rate's (same seed)
      val r2 = math.min(1.0, r1 + rnd.nextDouble() * (1 - r1))
      val kept2 = Sampling.hashSplit(df, col("k"), r2)._1
        .select("id").as[Long].collect().toSet
      assert(sa.subsetOf(kept2), s"case $c: rate-monotonicity broken")
    }
  }

  test("stratifiedHashSample agrees with hashSample per stratum") {
    val rnd = new scala.util.Random(10101)
    for (c <- 1 to cases) {
      val strata = Seq("en", "de", "zh")
      val rows = (1 to (1 + rnd.nextInt(80))).map(i =>
        (i.toLong, s"k$i", strata(rnd.nextInt(3))))
      val df = rows.toDF("id", "k", "lang")
      val rates = Map("en" -> rnd.nextDouble(), "de" -> rnd.nextDouble())
      val dflt = rnd.nextDouble()
      val got = Sampling.stratifiedHashSample(df, col("k"), col("lang"),
          rates, dflt)
        .select("id").as[Long].collect().toSet
      val want = strata.flatMap { s =>
        Sampling.hashSample(df.filter(col("lang") === s), col("k"),
            rates.getOrElse(s, dflt))
          .select("id").as[Long].collect()
      }.toSet
      assert(got == want, s"case $c")
    }
  }

  test("winnowing: docs sharing a long token run share a fingerprint") {
    // the Schleimer/Wilkerson/Aiken guarantee: any shared substring
    // of >= window + shingleN - 1 tokens yields a shared fingerprint
    val rnd = new scala.util.Random(11111)
    val (shingleN, window) = (3, 4)
    val guarantee = window + shingleN - 1 // 6 tokens
    for (c <- 1 to cases) {
      def toks(n: Int) = (1 to n).map(_ => s"w${rnd.nextInt(50)}")
      val shared = toks(guarantee + rnd.nextInt(4))
      val a = (toks(rnd.nextInt(6)) ++ shared ++ toks(rnd.nextInt(6))).mkString(" ")
      val b = (toks(rnd.nextInt(6)) ++ shared ++ toks(rnd.nextInt(6))).mkString(" ")
      val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      val fps = graft.functions.TextAnalysis
        .winnowingFingerprints(df, col("doc_id"), col("text"),
          shingleN, window)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val fa = fps.filter(_._1 == 1L).map(_._2).toSet
      val fb = fps.filter(_._1 == 2L).map(_._2).toSet
      assert((fa & fb).nonEmpty,
        s"case $c: no shared fingerprint despite a $guarantee+-token overlap")
    }
  }

  test("bruteForceTopK equals the in-memory cosine ranking on random vectors") {
    val rnd = new scala.util.Random(12121)
    for (c <- 1 to cases) {
      val dim = 2 + rnd.nextInt(6)
      def vec() = Array.fill(dim)((rnd.nextInt(11) - 5).toFloat)
      val corpus = (1 to (3 + rnd.nextInt(25))).map(i => (i.toLong, vec()))
      val queries = corpus.take(1 + rnd.nextInt(3))
      val k = 1 + rnd.nextInt(4)
      val got = graft.functions.Similarity.bruteForceTopK(
          corpus.toDF("id", "v"), col("id"), col("v"),
          queries.toDF("qid", "qv"), col("qid"), col("qv"), k)
        .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        def dot(x: Array[Float], y: Array[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        val den = math.sqrt(dot(a, a) * dot(b, b))
        if (den == 0.0) 0.0 else dot(a, b) / den
      }
      val want = queries.flatMap { case (qid, qv) =>
        corpus.filter(_._1 != qid)
          .map { case (vid, v) =>
            (vid, BigDecimal(cos(v, qv)).setScale(4,
              BigDecimal.RoundingMode.HALF_UP).toDouble) }
          .sortBy { case (vid, s) => (-s, vid) }
          .take(k).zipWithIndex
          .map { case ((vid, _), i) => (qid, i + 1) -> vid }
      }.toMap
      assert(got == want, s"case $c: " +
        (want.keySet ++ got.keySet).filter(x => got.get(x) != want.get(x))
          .map(x => s"$x got=${got.get(x)} want=${want.get(x)}").mkString(", "))
    }
  }

  test("aggregateReduce matches reference folds for the sum/max/min/uniq types") {
    val rnd = new scala.util.Random(13131)
    val types = Seq("LongValueSum", "DoubleValueSum", "LongValueMax",
      "LongValueMin", "StringValueMax", "StringValueMin", "UniqValueCount")
    for (c <- 1 to cases) {
      // ids carry the type so output keys (which drop the type
      // prefix, like the reference's AccumulatingReducer) stay unique
      val kvs = (1 to (5 + rnd.nextInt(60))).map { _ =>
        val t = types(rnd.nextInt(types.length))
        val id = s"${t.toLowerCase}_k${rnd.nextInt(4)}"
        (s"$t:$id", (rnd.nextInt(30) - 10).toString)
      }
      val got = AggregateLib.aggregateReduce(
          kvs.toDF("k", "v"), col("k"), col("v"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val want = kvs.groupBy(r => r._1).map { case (tk, rows) =>
        val Array(t, id) = tk.split(":", 2)
        val vs = rows.map(_._2)
        val out = t match {
          case "LongValueSum"    => vs.map(_.toLong).sum.toString
          case "DoubleValueSum"  => vs.map(_.toDouble).sum.toString
          case "LongValueMax"    => vs.map(_.toLong).max.toString
          case "LongValueMin"    => vs.map(_.toLong).min.toString
          case "StringValueMax"  => vs.max
          case "StringValueMin"  => vs.min
          case "UniqValueCount"  => vs.distinct.size.toString
        }
        id -> out
      }
      assert(got == want, s"case $c: " +
        (want.keySet ++ got.keySet).filter(k => got.get(k) != want.get(k))
          .map(k => s"$k got=${got.get(k)} want=${want.get(k)}").mkString(", "))
    }
  }

  test("keyFieldSort equals the reference comparator on random tab lines") {
    val rnd = new scala.util.Random(14141)
    for (c <- 1 to cases) {
      // 3-field lines; field 2 numeric-ish (sometimes not a number)
      val lines = (1 to (2 + rnd.nextInt(40))).map { i =>
        val f1 = s"a${rnd.nextInt(6)}"
        val f2 = if (rnd.nextInt(6) == 0) "x" else (rnd.nextInt(50) - 25).toString
        s"$f1\t$f2\t$i"
      }
      val spec = Seq("-k2,2nr -k1,1 -k3,3n", "-k1,1r -k3,3n", "-k2,2n -k3,3n")(
        rnd.nextInt(3))
      val got = Sorting.keyFieldSort(lines.toDF("value"), col("value"), spec)
        .select("value").as[String].collect().toSeq
      // reference comparator: numeric fields via toDouble (non-numeric
      // -> null, which Spark sorts FIRST asc / LAST desc)
      val specs = spec.trim.split("\\s+").map { tok =>
        val m = "^-k(\\d+),\\d+([nr]*)$".r
        tok match { case m(f, o) => (f.toInt, o.contains('n'), o.contains('r')) }
      }
      implicit val ord: Ordering[String] = (x: String, y: String) => {
        val (fx, fy) = (x.split("\t"), y.split("\t"))
        specs.iterator.map { case (f, num, rev) =>
          val (a, b) = (fx(f - 1), fy(f - 1))
          val cmp =
            if (num) {
              val (da, db) = (a.toDoubleOption, b.toDoubleOption)
              (da, db) match {
                case (None, None) => 0
                case (None, _) => -1 // nulls first (asc)
                case (_, None) => 1
                case (Some(u), Some(v)) => java.lang.Double.compare(u, v)
              }
            } else a.compareTo(b)
          if (rev) -cmp else cmp
        }.find(_ != 0).getOrElse(0)
      }
      assert(got == lines.sorted(ord), s"case $c spec='$spec'")
    }
  }

  test("ewmaBatch equals the sequential EWMA recurrence on random series") {
    val rnd = new scala.util.Random(15151)
    val alpha = 0.5
    for (c <- 1 to cases) {
      val rows = (1 to (2 + rnd.nextInt(30))).map(i =>
        (s"k${rnd.nextInt(4)}", i.toLong, (rnd.nextInt(2000) - 1000) / 10.0))
      val got = Heat.ewmaBatch(rows.toDF("k", "t", "v"), col("k"),
          Seq(col("t").asc), col("v"), alpha)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        val vs = rs.sortBy(_._2).map(_._3)
        k -> BigDecimal(vs.tail.foldLeft(vs.head)((e, x) => alpha * x + (1 - alpha) * e))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      got.foreach { case (k, v) =>
        // the operator float-sums and rounds to 4dp; allow one ulp of
        // the rounding quantum for order-dependent accumulation
        assert(math.abs(v - want(k)) <= 1e-4 + 1e-9,
          s"case $c: $k got=$v want=${want(k)}")
      }
    }
  }

  test("record codecs round-trip adversarial strings (csv and json)") {
    val rnd = new scala.util.Random(16161)
    val nasty = Seq("plain", "with,comma", "with\"quote", "tab\there",
      "new\nline", "  padded  ", "", "\\backslash", "semi;colon",
      "uni→code", "'single'", "comma,\"and\",quote")
    for (c <- 1 to cases) {
      val rows = (1 to (1 + rnd.nextInt(20))).map(i =>
        (i.toLong, nasty(rnd.nextInt(nasty.length)),
          rnd.nextLong(1000000) - 500000))
      val df = rows.toDF("k", "s", "n")
      val ddl = "k BIGINT, s STRING, n BIGINT"
      val viaJson = df
        .select(graft.sources.Records.toJson(struct(col("k"), col("s"), col("n"))).as("j"))
        .select(graft.sources.Records.fromJson(col("j"), ddl).as("r"))
        .select(col("r.k"), col("r.s"), col("r.n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(viaJson == rows.toSet, s"case $c json")
      val viaCsv = df
        .select(graft.sources.Records.toCsv(struct(col("k"), col("s"), col("n"))).as("l"))
        .select(graft.sources.Records.fromCsv(col("l"), ddl).as("r"))
        .select(col("r.k"), col("r.s"), col("r.n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // CSV writers quote embedded separators/quotes; parsers must
      // invert it — modulo the codec's documented empty-vs-null edge
      val wantCsv = rows.map { case (k, s, n) =>
        (k, if (s.isEmpty) null else s, n) }.toSet
      assert(viaCsv == wantCsv, s"case $c csv: " +
        s"missing=${wantCsv -- viaCsv} extra=${viaCsv -- wantCsv}")
    }
  }

  test("fieldSelection equals cut(1)-style projection on random specs") {
    val rnd = new scala.util.Random(17171)
    for (c <- 1 to cases) {
      val width = 3 + rnd.nextInt(4)
      val lines = (1 to (1 + rnd.nextInt(20))).map { i =>
        (0 until width).map(f => s"r${i}f$f").mkString("\t")
      }
      // mix of single fields, closed ranges, and one open range
      val maxF = width
      val specs = Seq(
        s"${rnd.nextInt(width)}",
        s"${rnd.nextInt(width - 1)}-${width - 1}",
        s"${rnd.nextInt(width)}-")
      val spec = rnd.shuffle(specs).take(1 + rnd.nextInt(3)).mkString(",")
      val got = TextOps.fieldSelection(lines.toDF("value"), col("value"),
          spec, maxFields = maxF)
        .collect().map(_.toSeq.map(_.asInstanceOf[String]).mkString("|"))
        .sorted.toSeq
      val idxs = spec.split(",").flatMap { tok =>
        if (tok.endsWith("-")) tok.dropRight(1).toInt until maxF
        else if (tok.contains("-")) {
          val Array(a, b) = tok.split("-").map(_.toInt); a to b
        } else Seq(tok.toInt)
      }
      val want = lines.map { l =>
        val fs = l.split("\t"); idxs.map(fs).mkString("|")
      }.sorted
      assert(got == want, s"case $c spec='$spec' width=$width")
    }
  }

  test("phiHeavyHitters returns exactly the items at or above ceil(phi*n)") {
    val rnd = new scala.util.Random(18181)
    for (c <- 1 to cases) {
      val phi = 0.05 + rnd.nextDouble() * 0.3
      val stream = (1 to (20 + rnd.nextInt(400))).map(_ => s"i${rnd.nextInt(15)}")
      val got = graft.functions.Sketches.phiHeavyHitters(
          stream.toDF("it"), col("it"), phi)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = stream.length
      val minCnt = math.ceil(phi * n.toDouble).toLong
      val want = stream.groupBy(identity).view
        .mapValues(_.length.toLong).filter(_._2 >= minCnt).toMap
      assert(got == want, s"case $c phi=$phi n=$n: " +
        s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    }
  }

  test("simhash blocking finds every within-radius pair (pigeonhole recall)") {
    val rnd = new scala.util.Random(19191)
    for (c <- 1 to cases) {
      val maxHamming = 1 + rnd.nextInt(4)
      // random 64-bit signatures plus planted near pairs: flip up to
      // maxHamming random bits of an existing signature
      val base = (1 to (5 + rnd.nextInt(25))).map(i => (i.toLong, rnd.nextLong()))
      val planted = base.take(3 + rnd.nextInt(3)).zipWithIndex.map {
        case ((_, sig), j) =>
          val flips = rnd.nextInt(maxHamming + 1)
          val flipped = (1 to flips).foldLeft(sig)((s, _) =>
            s ^ (1L << rnd.nextInt(64)))
          (1000L + j, flipped)
      }
      val sigs = base ++ planted
      val got = Dedup.simhashNearDupsFromSigs(
          sigs.toDF("doc_id", "sig"), maxHamming)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= maxHamming
      } yield (ia, ib)).toSet
      assert(got == want, s"case $c r=$maxHamming: " +
        s"missing=${want -- got} extra=${got -- want}")
    }
  }

  test("saltedJoin equals the plain join for every allowed join type") {
    val rnd = new scala.util.Random(20202)
    val types = Seq("inner", "left", "left_semi", "left_anti")
    for (c <- 1 to cases) {
      // duplicate keys on BOTH sides — multiplicity must be exact
      val probe = (1 to (1 + rnd.nextInt(40))).map(i =>
        (s"k${rnd.nextInt(5)}", i.toLong))
      val build = (1 to (1 + rnd.nextInt(15))).map(i =>
        (s"k${rnd.nextInt(8)}", i * 100L))
      val jt = types(rnd.nextInt(types.length))
      val (p, b) = (probe.toDF("k", "pv"), build.toDF("k", "bv"))
      val salted = Skew.saltedJoin(p, b, "k", salts = 1 + rnd.nextInt(6), jt)
      val plain = p.join(b, Seq("k"), jt)
      def bag(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
          .groupBy(identity).view.mapValues(_.length).toMap
      assert(bag(salted) == bag(plain), s"case $c type=$jt")
    }
  }

  test("asOfJoin null keys and times: left rows survive, right rows drop") {
    val rnd = new scala.util.Random(21212)
    for (c <- 1 to cases) {
      val left = (1 to (1 + rnd.nextInt(20))).map { i =>
        val k = if (rnd.nextInt(4) == 0) None else Some(s"k${rnd.nextInt(3)}")
        val t = if (rnd.nextInt(6) == 0) None else Some(rnd.nextLong(100))
        (i.toLong, k, t)
      }
      // unique (key, time) — the operator's documented right-side
      // contract; with ties "latest right row" is ill-defined
      val right = (1 to (1 + rnd.nextInt(20))).map { i =>
        val k = if (rnd.nextInt(4) == 0) None else Some(s"k${rnd.nextInt(3)}")
        val t = if (rnd.nextInt(6) == 0) None else Some(rnd.nextLong(100))
        (k, t, i * 10L)
      }.groupBy(r => (r._1, r._2)).values.map(_.minBy(_._3)).toSeq
      val got = Temporal.asOfJoin(
          left.toDF("lid", "lk", "lt"), col("lk"), col("lt"),
          right.toDF("rk", "rt", "v"), col("rk"), col("rt"),
          col("v"), "snap")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      // EVERY left row must come out exactly once
      assert(got.keySet == left.map(_._1).toSet, s"case $c: lost left rows")
      val want = left.map { case (lid, lk, lt) =>
        val matches = for {
          (rk, rt, v) <- right
          k <- lk; t <- lt; k2 <- rk; t2 <- rt
          if k2 == k && t2 <= t
        } yield (t2, v)
        lid -> (if (matches.isEmpty) None else Some(matches.maxBy(_._1)._2))
      }.toMap
      assert(got == want, s"case $c")
    }
  }

  test("chunkByTokens covers every token exactly per the stride recurrence") {
    val rnd = new scala.util.Random(23232)
    for (c <- 1 to cases) {
      val chunkSize = 2 + rnd.nextInt(8)
      val stride = 1 + rnd.nextInt(chunkSize)
      val docs = (1 to (1 + rnd.nextInt(10))).map { i =>
        (i.toLong, (1 to (1 + rnd.nextInt(30))).map(t => s"t$t").mkString(" "))
      }
      val got = graft.functions.TextAnalysis.chunkByTokens(
          docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
          chunkSize, stride)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(3)).toMap
      val want = docs.flatMap { case (id, text) =>
        val tk = text.split(" ")
        val n = tk.length
        val nChunks =
          if (n <= chunkSize) 1
          else ((n - chunkSize + stride - 1) / stride) + 1
        (0 until nChunks).map { j =>
          val start = j * stride
          (id, j.toLong) -> tk.slice(start, start + chunkSize).mkString(" ")
        }
      }.toMap
      assert(got == want, s"case $c cs=$chunkSize st=$stride: " +
        (want.keySet ++ got.keySet).filter(k => got.get(k) != want.get(k))
          .take(3).map(k => s"$k got=${got.get(k)} want=${want.get(k)}")
          .mkString(", "))
      // coverage: every token index of every doc appears in >= 1 chunk
      docs.foreach { case (id, text) =>
        val n = text.split(" ").length
        val covered = want.keys.filter(_._1 == id).flatMap { case (_, j) =>
          val s = j * stride
          s until math.min(s + chunkSize, n.toLong) }.toSet
        assert(covered == (0L until n.toLong).toSet, s"doc $id gap")
      }
    }
  }

  test("scrubPii redacts generated PII and leaves near-miss text alone") {
    val rnd = new scala.util.Random(24242)
    for (c <- 1 to cases) {
      val email = s"u${rnd.nextInt(99)}@ex${rnd.nextInt(9)}.com"
      val ip = s"${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
      val phone = s"${100 + rnd.nextInt(900)}-${100 + rnd.nextInt(900)}-${1000 + rnd.nextInt(9000)}"
      val clean = s"plain${rnd.nextInt(100)} text v${rnd.nextInt(10)}"
      val doc = s"$clean contact $email at $ip or $phone end"
      val out = Seq(doc).toDF("t")
        .select(graft.functions.TextAnalysis.scrubPii(col("t")).as("s"))
        .select(col("s.clean")).as[String].collect().head
      assert(out.contains("<EMAIL>") && out.contains("<IP>") &&
        out.contains("<PHONE>"), s"case $c: $out")
      assert(!out.contains(email) && !out.contains(ip) && !out.contains(phone),
        s"case $c leaked: $out")
      assert(out.startsWith(clean), s"case $c clobbered clean text: $out")
    }
  }

  test("exactDedup keeps min-id per class plus all null-text rows") {
    val rnd = new scala.util.Random(5050)
    for (c <- 1 to cases) {
      // single-token lowercase texts: fingerprint equality is plain
      // string equality, so the reference needs no normalizer
      val rows = (1 to (1 + rnd.nextInt(40))).map { i =>
        val t = if (rnd.nextInt(5) == 0) None else Some(s"t${rnd.nextInt(8)}")
        (i.toLong, t)
      }
      val got = Dedup.exactDedup(rows.toDF("id", "text"), col("id"), col("text"))
        .collect().map(_.getLong(0)).toSet
      val survivors = rows.collect { case (id, Some(t)) => (id, t) }
        .groupBy(_._2).map(_._2.map(_._1).min).toSet
      val nulls = rows.collect { case (id, None) => id }.toSet
      assert(got == (survivors ++ nulls), s"case $c")
    }
  }

  test("funnel equals the sequential first-touch chase on random streams") {
    val rnd = new scala.util.Random(8686)
    val types = Seq("a", "b", "c", "d")
    for (c <- 1 to cases) {
      val nUsers = 1 + rnd.nextInt(8)
      val events = (1 to (5 + rnd.nextInt(80))).map { _ =>
        (s"u${rnd.nextInt(nUsers)}", rnd.nextLong(50),
          types(rnd.nextInt(types.length)))
      }
      val steps = rnd.shuffle(types).take(1 + rnd.nextInt(3))
      val window = Seq(0L, 3L, 10L, 1000L)(rnd.nextInt(4))
      val got = Temporal.funnel(events.toDF("u", "t", "s"),
          col("u"), col("t"), col("s"), steps, window)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      // reference: per user, greedily chase each step's first
      // occurrence after the previous match (within the window)
      val reached = events.groupBy(_._1).values.map { es =>
        var depth = 0
        var prev = Long.MinValue
        var going = true
        for (st <- steps if going) {
          val cand = es.filter(e => e._3 == st &&
            (depth == 0 || (e._2 > prev &&
              (window <= 0 || e._2 <= prev + window))))
          if (cand.isEmpty) going = false
          else { prev = cand.map(_._2).min; depth += 1 }
        }
        depth
      }.toSeq
      val want = steps.indices.map(i =>
        (i + 1) -> reached.count(_ >= i + 1).toLong).toMap
      assert(got == want, s"case $c steps=$steps window=$window: " +
        s"got $got want $want")
    }
  }

  test("topFraction equals the sorted prefix on random scores with ties") {
    val rnd = new scala.util.Random(9889)
    for (c <- 1 to cases) {
      val n = 1 + rnd.nextInt(120)
      val frac = Seq(0.0, 0.1, 0.33, 0.5, 1.0)(rnd.nextInt(5))
      val rows = (1 to n).map(i => (i.toLong, rnd.nextLong(7)))
      val got = Sampling.topFraction(rows.toDF("id", "score"),
          Seq(col("score").desc, col("id")), frac)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val want = rows.sortBy { case (id, s) => (-s, id) }
        .take(math.floor(frac * n).toInt)
        .zipWithIndex.map { case ((id, _), i) => (id, i + 1L) }.toSet
      assert(got == want, s"case $c n=$n frac=$frac")
    }
  }

  test("retentionCohorts equals the per-user first-bucket rollup on random events") {
    val rnd = new scala.util.Random(6363)
    for (c <- 1 to cases) {
      val nUsers = 1 + rnd.nextInt(10)
      val bucket = Seq(1L, 5L, 97L)(rnd.nextInt(3))
      // negative times exercise the decimal floorDiv (NOT truncation)
      val events = (1 to (5 + rnd.nextInt(80))).map { _ =>
        (rnd.nextInt(nUsers).toLong, rnd.nextLong(1000) - 200) }
      val got = Temporal.retentionCohorts(events.toDF("u", "t"),
          col("u"), col("t"), bucket)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val byUser = events.groupBy(_._1).view
        .mapValues(_.map(e => Math.floorDiv(e._2, bucket)).toSet)
      val want = byUser.values
        .flatMap { bs => val c0 = bs.min; bs.map(b => (c0, b - c0)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"case $c bucket=$bucket")
    }
  }

  test("prefixJaccardPairs equals the in-memory exact jaccard on random corpora") {
    // dense-overlap regime (tiny vocab, short docs) — the worst case
    // for prefix filtering's recall guarantee: many true pairs, heavy
    // shingle sharing, size-filter edges at every threshold
    val rnd = new scala.util.Random(5151)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    def sh(s: String): Set[String] = {
      val tk = s.split("\\s+").filter(_.nonEmpty).toSeq
      if (tk.length >= 2) tk.sliding(2).map(_.mkString(" ")).toSet
      else Set(tk.mkString(" "))
    }
    for (c <- 1 to cases) {
      val n = 3 + rnd.nextInt(18)
      val docs = (1 to n).map { i =>
        val len = rnd.nextInt(12)
        (i.toLong,
          (1 to len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val t = Seq(0.2, 0.4, 0.6, 0.9)(rnd.nextInt(4))
      val got = Dedup.prefixJaccardPairs(docs.toDF("id", "text"),
          col("id"), col("text"), shingleN = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val nonBlank = docs.filter(_._2.trim.nonEmpty)
      val want = (for {
        (ia, ta) <- nonBlank; (ib, tb) <- nonBlank if ia < ib
        sa = sh(ta); sb = sh(tb)
        inter = (sa & sb).size
        j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (ia, ib, j)).toSet
      assert(got == want, s"case $c t=$t")
    }
  }

  test("weightedSample equals the in-memory A-ES top-k on random weights") {
    val rnd = new scala.util.Random(7474)
    def md5hex8(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
    for (c <- 1 to cases) {
      val n = 2 + rnd.nextInt(60)
      val k = 1 + rnd.nextInt(n)
      // weights include zero and negative (never sampled: their draw
      // is null and they are dropped, even when that leaves < k rows)
      val rows = (1 to n).map(i => (i.toLong, rnd.nextLong(20) - 2))
      val got = Sampling.weightedSample(rows.toDF("id", "w"),
          col("id"), col("w"), k)
        .collect().map(_.getLong(0)).toSet
      val want = rows.filter(_._2 > 0).map { case (id, w) =>
        val u = java.lang.Long.parseLong(md5hex8(s"$id:42"), 16) / 4294967296.0
        (id, math.pow(u, 1.0 / w))
      }.sortBy { case (id, d) => (-d, id) }.take(k).map(_._1).toSet
      assert(got == want, s"case $c n=$n k=$k")
    }
  }

  test("containmentPairs equals the in-memory asymmetric overlap on random corpora") {
    val rnd = new scala.util.Random(8642)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def sh(s: String): Set[String] = {
      val tk = s.split("\\s+").filter(_.nonEmpty).toSeq
      if (tk.length >= 2) tk.sliding(2).map(_.mkString(" ")).toSet
      else Set(tk.mkString(" "))
    }
    for (c <- 1 to cases) {
      val n = 3 + rnd.nextInt(14)
      val docs = (1 to n).map { i =>
        (i.toLong, (1 to rnd.nextInt(10))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val t = Seq(0.3, 0.6, 0.9)(rnd.nextInt(3))
      val got = Dedup.containmentPairs(docs.toDF("id", "text"),
          col("id"), col("text"), shingleN = 2, threshold = t,
          maxDf = 1000000)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      val nonBlank = docs.filter(_._2.trim.nonEmpty)
      def rd(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = (for {
        (ia, ta) <- nonBlank; (ib, tb) <- nonBlank if ia < ib
        sa = sh(ta); sb = sh(tb)
        inter = (sa & sb).size if inter > 0
        ca = rd(inter.toDouble / sa.size); cb = rd(inter.toDouble / sb.size)
        if math.max(ca, cb) >= t
      } yield (ia, ib, ca, cb)).toSet
      assert(got == want, s"case $c t=$t")
    }
  }

  test("snapshotDiff equals the in-memory classification on random versions") {
    val rnd = new scala.util.Random(3131)
    val texts = Vector("aa", "bb", "cc", null)
    for (c <- 1 to cases) {
      val ids = (1 to (3 + rnd.nextInt(20))).map(_.toLong)
      def version(): Map[Long, String] =
        ids.filter(_ => rnd.nextBoolean())
          .map(i => i -> texts(rnd.nextInt(texts.size))).toMap
      val oldV = version(); val newV = version()
      val got = Dedup.snapshotDiff(
          oldV.toSeq.toDF("doc_id", "text"),
          newV.toSeq.toDF("doc_id", "text"),
          col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = (oldV.keySet ++ newV.keySet).map { id =>
        id -> ((oldV.get(id), newV.get(id)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if a == b => "unchanged"
          case _ => "changed"
        })
      }.toMap
      assert(got == want, s"case $c")
    }
  }

  test("keepBest equals the in-memory argmax retention on random corpora") {
    val rnd = new scala.util.Random(7272)
    for (c <- 1 to cases) {
      val n = 2 + rnd.nextInt(25)
      val rows = (1 to n).map { i =>
        (i.toLong,
          if (rnd.nextInt(8) == 0) null
          else s"t${rnd.nextInt(5)}",
          if (rnd.nextInt(5) == 0) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(rnd.nextLong(10)))
      }
      val got = Dedup.keepBest(rows.toDF("id", "text", "score"),
          col("id"), col("text"), col("score"))
        .collect().map(_.getLong(0)).toSet
      val (nulls, texted) = rows.partition(_._2 == null)
      val want = nulls.map(_._1).toSet ++
        texted.groupBy(_._2).values.map { grp =>
          grp.minBy { case (id, _, s) =>
            // score desc (nulls last), then id asc
            (if (s == null) (1, 0L) else (0, -s.longValue()), id)
          }._1
        }
      assert(got == want, s"case $c")
    }
  }

  test("kFold folds tile the hashSample thresholds on random keys") {
    val rnd = new scala.util.Random(2424)
    for (c <- 1 to 6) {
      val k = 2 + rnd.nextInt(9)
      val keys = (1 to (50 + rnd.nextInt(200)))
        .map(_ => rnd.nextLong(100000)).distinct
      val df = keys.toDF("id")
      val folds = Sampling.kFold(df, col("id"), k)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(folds.keySet == keys.toSet)
      assert(folds.values.forall(f => f >= 0 && f < k))
      // prefix property: folds < j  ==  hashSample at rate j/k
      val j = 1 + rnd.nextInt(k - 1)
      val sample = Sampling.hashSample(df, col("id"), j.toDouble / k)
        .collect().map(_.getLong(0)).toSet
      assert(folds.filter(_._2 < j).keySet == sample,
        s"case $c k=$k j=$j")
    }
  }

  test("Layout.interleave equals the in-memory Morton reference on random ranks") {
    val rnd = new scala.util.Random(9292)
    for (c <- 1 to cases) {
      val k = 1 + rnd.nextInt(3)          // 1-3 columns
      val bits = 1 + rnd.nextInt(63 / k)  // k*bits <= 63
      val n = 1 + rnd.nextInt(40)
      val rows = (1 to n).map { i =>
        (i.toLong, Seq.fill(k)(rnd.nextLong(1L << bits)))
      }
      val df = rows.map { case (i, rs) =>
        (i, rs.lift(0).getOrElse(0L), rs.lift(1).getOrElse(0L),
          rs.lift(2).getOrElse(0L))
      }.toDF("i", "r0", "r1", "r2")
      val cols = (0 until k).map(j => col(s"r$j"))
      val got = df.select(col("i"),
          graft.sources.Layout.interleave(cols, bits).as("z"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: bit b of column j lands at position b*k + j
      val want = rows.map { case (i, rs) =>
        var z = 0L
        for (b <- 0 until bits; j <- 0 until k)
          z |= (((rs(j) >> b) & 1L) << (b * k + j))
        i -> z
      }.toMap
      assert(got == want, s"case $c k=$k bits=$bits")
    }
  }
}
