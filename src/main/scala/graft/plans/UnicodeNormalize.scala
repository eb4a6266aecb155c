package graft.plans

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native codegen'd
  * expression — the canonicalization step text dedup needs BEFORE
  * fingerprinting: "café" arrives from real crawls both precomposed
  * (U+00E9) and decomposed (e + U+0301), and a byte-hash dedup that
  * skips normalization silently treats them as distinct documents.
  * Spark ships no normalization builtin; a Scala UDF would box every
  * row and fence codegen, so this is the Expression form with an
  * ASCII fast path: `UTF8String.isFullAscii` (a vectorized byte scan,
  * no decode) short-circuits the overwhelmingly-ASCII bulk of a web
  * corpus, and `Normalizer.isNormalized` (a cheap scan, no allocation)
  * skips the rebuild for already-normalized non-ASCII rows. ASCII is
  * closed under all four forms, so the fast path is exact.
  *
  * (Reference: per-record canonicalization lives in user map
  * functions, SURVEY §2.2/§2.8 — a Catalyst Expression is the
  * Spark-native extension point, same positioning as
  * [[SortedIntersectCount]].)
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.simpleString}")
    else if (!UnicodeNormalize.Forms.contains(form))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName form must be one of ${UnicodeNormalize.Forms.mkString("/")}, got $form")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String],
      Normalizer.Form.valueOf(form))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // `form` is whitelist-validated above, so interpolating it into
    // the static Form reference is injection-safe
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.plans.UnicodeNormalize$$.MODULE$$.normalize(
       |  $c, java.text.Normalizer.Form.$form);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val Forms: Set[String] = Set("NFC", "NFD", "NFKC", "NFKD")

  /** Shared interpreted/codegen kernel. Returns the INPUT object
    * unchanged on the fast paths — no copy, no decode.
    */
  def normalize(s: UTF8String, form: Normalizer.Form): UTF8String = {
    if (s.isFullAscii) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }

  /** Column form; `form` one of NFC/NFD/NFKC/NFKD (default NFC). */
  def apply(text: Column, form: String): Column =
    GraftColumnBridge.column(
      UnicodeNormalize(GraftColumnBridge.expression(text), form))
}
