package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The fused tokenize-and-hash must be VALUE-IDENTICAL to the LM
  * scorers' legacy projection
  * `transform(bpeishTokens(text), t => xxhash64(t))` — the hashes are
  * the scorers' count/join keys, so one differing element would
  * silently re-key a term's counts.
  */
class HashedBpeishTokensSpec extends SparkSpec {
  import spark.implicits._

  private def legacy(c: org.apache.spark.sql.Column) =
    transform(graft.functions.TextAnalysis.bpeishTokens(c),
      t => xxhash64(t))

  import HashedBpeishTokensSpec.cases

  test("fused hash equals transform(bpeishTokens, xxhash64) on ASCII, " +
       "Unicode, and boundary inputs") {
    val df = cases.toDF("t")
    val rows = df.select(
      HashedBpeishTokens(col("t")).as("fast"),
      legacy(col("t")).as("slow")).collect()
    rows.zip(cases).foreach { case (r, in) =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"input=${in.take(60)} fast=${r.getSeq[Long](0)} " +
          s"slow=${r.getSeq[Long](1)}")
    }
  }

  test("null text yields null hashes, matching the legacy chain") {
    val df = Seq[(Integer, String)]((1, null), (2, "ok")).toDF("i", "t")
    val r = df.select(
        HashedBpeishTokens(col("t")).as("fast"),
        legacy(col("t")).as("slow"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getSeq[Long](0) == r(1).getSeq[Long](1) &&
      r(1).getSeq[Long](0).nonEmpty)
  }

  test("random fuzz: 2000 strings, exact hash-array equality") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcXYZ019'~!@# \t\n-_.,;:ÄéßKİ"
    val strs = (1 to 2000).map { _ =>
      val len = rnd.nextInt(40)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val bad = strs.toDF("t").select(
        HashedBpeishTokens(col("t")).as("fast"),
        legacy(col("t")).as("slow"), col("t"))
      .collect()
      .filter(r => r.getSeq[Long](0) != r.getSeq[Long](1))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }
}

object HashedBpeishTokensSpec {
  /** Also the inputs of [[CodegenParitySpec]]'s row. */
  val cases: Seq[String] = Seq(
    "the Quick BROWN fox",
    "  leading and trailing  ",
    "a",
    "",
    "   ",
    "don't stop-believing",
    "digits 123 mix3d t0kens",
    "apostrophe's 'quoted' ''",
    "UPPER lower MiXeD",
    "tabs\tnewlines\nand\r\nreturns",
    "punctuation!@#$%^&*()[]{};:,.<>?/|\\~`\"=+_-",
    // non-ASCII: the tokenizer's slow path feeds the same hash
    "Ünïcödé wörds höre",
    "汉字 mixed with ascii",
    "émigré café naïve",
    "temp 300K outside",
    "İstanbul visit",
    "STRAßE groß",
    "ﬁle ﬂow",
    "emoji 😀 split 🎉 here",
    "a'b''c'''d",
    "'''",
    "x" * 5000,
    ("word " * 200).trim)
}
