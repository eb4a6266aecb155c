package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native whitespace tokenizer must be BIT-IDENTICAL to the
  * legacy chain `filter(split(text, "\\s+"), length > 0)` — the
  * quality/chunking/winnowing/shingle oracles all derive from that
  * chain's semantics (no lowering, ASCII-only separators).
  */
class WhitespaceTokensSpec extends SparkSpec {
  import spark.implicits._

  private def legacy(c: org.apache.spark.sql.Column) =
    filter(split(c, "\\s+"), t => length(t) > 0)

  import WhitespaceTokensSpec.cases

  test("native whitespace tokenizer equals the legacy split+filter " +
       "chain on ASCII, Unicode, and unicode-whitespace inputs") {
    val df = cases.toDF("t")
    val rows = df.select(
      graft.functions.TextAnalysis.tokens(col("t")).as("fast"),
      legacy(col("t")).as("slow")).collect()
    rows.zip(cases).foreach { case (r, in) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"input=${in.take(60)} fast=${r.getSeq[String](0)} " +
          s"slow=${r.getSeq[String](1)}")
    }
  }

  test("null text yields null tokens, matching the legacy chain") {
    val df = Seq[(Integer, String)]((1, null), (2, "ok fine")).toDF("i", "t")
    val r = df.select(
        graft.functions.TextAnalysis.tokens(col("t")).as("fast"),
        legacy(col("t")).as("slow"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getSeq[String](0) == Seq("ok", "fine"))
  }

  test("random fuzz incl. every ASCII separator and unicode " +
       "whitespace: 2000 strings, exact equality") {
    val rnd = new scala.util.Random(16)
    val alphabet = "abcXYZ019'~!@# \t\n\r\f-_.  汉é"
    val strs = (1 to 2000).map { _ =>
      val len = rnd.nextInt(40)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val bad = strs.toDF("t").select(
        graft.functions.TextAnalysis.tokens(col("t")).as("fast"),
        legacy(col("t")).as("slow"), col("t"))
      .collect()
      .filter(r => r.getSeq[String](0) != r.getSeq[String](1))
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }
}

object WhitespaceTokensSpec {
  /** Also the inputs of [[CodegenParitySpec]]'s row. */
  val cases: Seq[String] = Seq(
    "the Quick BROWN fox",
    "  leading and trailing  ",
    "a",
    "",
    "   ",
    "\t\n\r\f",
    "tabs\tnewlines\nand\r\nreturns",
    "verticaltab form\ffeed",
    "case MUST be Preserved",
    "punctuation!@# stays-in tokens.",
    // non-ASCII whitespace must NOT split (Java \s is ASCII-only):
    // NBSP, EN QUAD, LINE SEPARATOR, IDEOGRAPHIC SPACE
    "nbsp joined",
    "quad joined",
    "line joined",
    "ideo　joined",
    "Ünïcödé wörds höre",
    "汉字 mixed with ascii",
    "emoji 😀 split 🎉 here",
    "x" * 5000,
    ("word " * 200).trim,
    " \t mixed run \n ends\t")
}
