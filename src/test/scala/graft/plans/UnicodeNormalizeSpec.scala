package graft.plans

import graft.SparkSpec
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._

/** Codepoints are spelled as \\u escapes throughout \u2014 the WHOLE point
  * is which byte sequence is which, and raw glyphs in source are
  * editor-normalization bait.
  */
class UnicodeNormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("NFC composes decomposed sequences; ASCII and precomposed are identity") {
    val df = Seq(
      "cafe\u0301",              // decomposed -> precomposed
      "caf\u00e9",               // already precomposed: unchanged
      "plain ascii text",        // ASCII fast path
      "u\u0308ber pin\u0303a"    // two combining marks in one string
    ).toDF("t")
    val got = df.select(UnicodeNormalize($"t", "NFC")).as[String].collect()
    assert(got(0) == "caf\u00e9")
    assert(got(1) == "caf\u00e9")
    assert(got(2) == "plain ascii text")
    assert(got(3) == "\u00fcber pi\u00f1a")
  }

  test("NFD decomposes; NFKC folds compatibility chars") {
    // precomposed \u00e9 + fi ligature (U+FB01) + fullwidth A (U+FF21)
    val df = Seq("caf\u00e9 \ufb01le \uff21BC").toDF("t")
    assert(df.select(UnicodeNormalize($"t", "NFD")).as[String].head()
      .startsWith("cafe\u0301"))
    assert(df.select(UnicodeNormalize($"t", "NFKC")).as[String].head()
      == "caf\u00e9 file ABC")
  }

  test("null input stays null; bad form fails analysis") {
    val df = Seq(Option("x"), None).toDF("t")
    val got = df.select(UnicodeNormalize($"t", "NFC")).collect()
    assert(got(0).getString(0) == "x" && got(1).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(UnicodeNormalize($"t", "NFX")).collect()
    }
  }

  test("canonicalText keys precomposed and decomposed variants identically") {
    val df = Seq(
      (1L, "The  Caf\u00e9 menu"),
      (2L, "the cafe\u0301 menu"),
      (3L, "a different doc")
    ).toDF("doc_id", "text")
    val keys = df.select($"doc_id",
        md5(TextAnalysis.canonicalText($"text")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keys(1L) == keys(2L))
    assert(keys(1L) != keys(3L))
  }
}
