package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd integer dot product over two `array<tinyint>`
  * columns — the scoring kernel of scalar-quantized (int8) embedding
  * search. A quantized corpus column is 4× smaller than its float
  * form (scan bytes, shuffle bytes, cache footprint all shrink 4×),
  * and the candidate-ranking loop is pure integer multiply-add; the
  * float vectors are only touched for the exact rerank of the few
  * survivors. At 100 TB that byte ratio is the difference between a
  * memory-resident index and a disk-bound one.
  *
  * Accumulates in long: |dot| ≤ dim · 127² < 2⁶³ for any real
  * dimension, so the sum cannot overflow. Null semantics match
  * [[CosineSim]] (and the composable `aggregate`/`zip_with` witness):
  * mismatched lengths → null, any null element → null.
  *
  * (Reference scalar compute lives in user map functions, SURVEY
  * §2.8; as with [[CosineSim]] the Spark-native extension point is a
  * Catalyst Expression with codegen, not a UDF.)
  */
case class Int8Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<tinyint> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "int8_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val v = Int8Dot.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (v == Int8Dot.Null) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.plans.Int8Dot$$.MODULE$$.dot($a, $b);
      ${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8Dot =
    copy(left = newLeft, right = newRight)
}

object Int8Dot {
  /** Column form. */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      Int8Dot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** [[dot]]'s null result: |dot| ≤ 2³¹ · 128² < 2⁶³, so no sum
    * reaches it (generated code spells it `Long.MIN_VALUE`).
    */
  val Null: Long = Long.MinValue

  /** The kernel, for eval and generated code alike; [[Null]] stands
    * for a null result.
    */
  def dot(a: ArrayData, b: ArrayData): Long = {
    if (a.numElements() != b.numElements()) return Null
    val n = a.numElements()
    var dot = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return Null
      dot += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    dot
  }
}
