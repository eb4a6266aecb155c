package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native tokenizer must be BIT-IDENTICAL to the legacy chain
  * `filter(split(lower(text), "[^a-z0-9']+"), length > 0)` — every
  * text operator's oracle is derived from that chain's semantics.
  */
class BpeishTokensSpec extends SparkSpec {
  import spark.implicits._

  private def legacy(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "[^a-z0-9']+"), t => length(t) > 0)

  import BpeishTokensSpec.cases

  test("native tokenizer equals the legacy lower+regex chain on " +
       "ASCII, Unicode, and case-crossing inputs") {
    val df = cases.toDF("t")
    val got = df.select(
      graft.functions.TextAnalysis.bpeishTokens(col("t")).as("fast"),
      legacy(col("t")).as("slow"))
    val rows = got.collect()
    rows.zip(cases).foreach { case (r, in) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"input=${in.take(60)} fast=${r.getSeq[String](0)} " +
          s"slow=${r.getSeq[String](1)}")
    }
  }

  test("null text yields null tokens, matching the legacy chain") {
    val df = Seq[(Integer, String)]((1, null), (2, "ok")).toDF("i", "t")
    val r = df.select(
        graft.functions.TextAnalysis.bpeishTokens(col("t")).as("fast"),
        legacy(col("t")).as("slow"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getSeq[String](0) == Seq("ok"))
  }

  test("random ASCII + Latin-1 fuzz: 2000 strings, exact equality") {
    val rnd = new scala.util.Random(7)
    val alphabet =
      "abcXYZ019'~!@# \t\n-_.,;:ÄéßKİ"
    val strs = (1 to 2000).map { _ =>
      val len = rnd.nextInt(40)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = strs.toDF("t")
    val bad = df.select(
        graft.functions.TextAnalysis.bpeishTokens(col("t")).as("fast"),
        legacy(col("t")).as("slow"), col("t"))
      .collect()
      .filter(r => r.getSeq[String](0) != r.getSeq[String](1))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }
}

object BpeishTokensSpec {
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
    // non-ASCII: slow path, must replicate lower+regex exactly
    "Ünïcödé wörds höre",
    "汉字 mixed with ascii",
    "émigré café naïve",
    // case-mapping crosses into ASCII: U+212A KELVIN SIGN -> 'k',
    // U+0130 LATIN CAPITAL I WITH DOT -> "i" + combining dot
    "temp 300K outside",
    "İstanbul visit",
    // German sharp S and ligatures
    "STRAßE groß",
    "ﬁle ﬂow",
    // surrogate pairs
    "emoji 😀 split 🎉 here",
    "a'b''c'''d",
    "'''",
    "x" * 5000,
    ("word " * 200).trim)
}
