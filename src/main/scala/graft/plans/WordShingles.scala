package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingling: whitespace-tokenize once, emit the
  * array of n-token shingles (optionally distinct, first occurrence
  * kept) in a single pass per row.
  *
  * The composable form ([[graft.functions.Dedup.shinglesRawComposable]],
  * `transform(sequence(...), i => concat_ws(" ", slice(tokens, ...)))`)
  * is an interpreted higher-order function: the lambda body references
  * the token-split subtree, and interpreted HOFs get no common
  * subexpression elimination — the whitespace regex split re-runs for
  * EVERY shingle position, O(positions × tokens) per document. That
  * made shingling the most expensive stage of the whole near-dup
  * family (MinHash, n-gram Jaccard). Here the split runs once and the
  * shingles are assembled from the token array, O(tokens × n), inside
  * whole-stage codegen (one static call per row).
  *
  * Output is element-for-element equal to the composable form,
  * including edges: fewer than n tokens → one shingle of all tokens
  * joined; empty/whitespace-only/null text → [""] (`concat_ws` of an
  * empty or null token list). The parity witness spec pins this.
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input and n >= 1, " +
        s"got ${child.dataType.simpleString}, n=$n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.WordShingles$$.MODULE$$.compute($c, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  private val ws = Pattern.compile("\\s+")

  /** One row's shingles; called once per row from codegen. */
  def compute(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    // identical tokenization to split(text, "\\s+") + drop empties:
    // Java regex on the decoded string, limit -1
    val raw = ws.split(text.toString, -1)
    var nTok = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { raw(nTok) = raw(i); nTok += 1 }
      i += 1
    }
    val out: Array[String] =
      if (nTok >= n) {
        val m = nTok - n + 1
        val a = new Array[String](m)
        var p = 0
        while (p < m) {
          val sb = new java.lang.StringBuilder()
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(raw(p + j))
            j += 1
          }
          a(p) = sb.toString
          p += 1
        }
        a
      } else {
        // fewer than n tokens: a single shingle of all tokens joined
        // ("" when there are none — concat_ws semantics)
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < nTok) {
          if (j > 0) sb.append(' ')
          sb.append(raw(j))
          j += 1
        }
        Array(sb.toString)
      }
    val vals: Array[AnyRef] =
      if (!distinct) out.map(UTF8String.fromString(_): AnyRef)
      else {
        val seen = new java.util.LinkedHashSet[String]()
        out.foreach(seen.add)
        val a = new Array[AnyRef](seen.size)
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) { a(k) = UTF8String.fromString(it.next()); k += 1 }
        a
      }
    new GenericArrayData(vals)
  }

  /** Column form (null text → [""], matching the composable witness). */
  def apply(text: Column, n: Int, distinct: Boolean): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftColumnBridge.column(
        WordShingles(GraftColumnBridge.expression(text), n, distinct)),
      org.apache.spark.sql.functions.array(org.apache.spark.sql.functions.lit("")))
}
