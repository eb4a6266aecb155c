package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two `array<float>` columns.
  *
  * The composable form (`zip_with` + `aggregate`, see
  * [[graft.functions.Similarity.cosine]]) is interpreted per element
  * with boxed lambda dispatch; this expression is one fused primitive
  * loop inside whole-stage codegen — the per-(row, query) kernel of
  * brute-force similarity search, which at 100 TB dominates the scan.
  *
  * Accumulation is double, left-to-right, identical to the composable
  * form — results are bit-equal, so the two are interchangeable under
  * the correctness oracle.
  *
  * (The reference has no expression engine at all — scalar compute
  * lives in user map functions, SURVEY §2.8; this is the Spark-native
  * extension point for it: a Catalyst Expression, not a UDF.)
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must already be array<float|double> (the embeddings
  // contract); no implicit-cast machinery — AbstractDataType is
  // private[sql], so the contract is enforced by checkInputDataTypes
  // instead: misuse fails analysis, not execution (a non-array input
  // would ClassCastException at runtime; an array<int> would silently
  // read garbage bytes via getFloat)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> or array<double> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // element accessor must match the stored type: reading a double
  // array with getFloat returns garbage bytes, not a cast
  private def elemIsDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val v = CosineSim.cosine(a, b, elemIsDouble(left), elemIsDouble(right))
    if (java.lang.Double.isNaN(v) && CosineSim.isNull(a, b)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.plans.CosineSim$$.MODULE$$.cosine(
        $a, $b, ${elemIsDouble(left)}, ${elemIsDouble(right)});
      ${ev.isNull} = java.lang.Double.isNaN(${ev.value})
        && graft.plans.CosineSim$$.MODULE$$.isNull($a, $b);""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column form. */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      CosineSim(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** The kernel, for eval and generated code alike. A null result
    * comes back as NaN, which a NaN element also yields: [[isNull]]
    * tells the two apart, and runs only on a NaN.
    */
  def cosine(a: ArrayData, b: ArrayData, aDouble: Boolean,
             bDouble: Boolean): Double = {
    // composable-form parity: zip_with over mismatched lengths pads
    // with null and the sum nulls out — so do we; same for null
    // elements
    if (a.numElements() != b.numElements()) return Double.NaN
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return Double.NaN
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na * nb)
    // zero-norm guard: 0/0 would be NaN, and Spark's double ordering
    // ranks NaN ABOVE every value — a zero vector (padding / failed
    // embedding) would win every top-k and pass every >= threshold
    // filter. Cosine with a zero vector is "no similarity": 0.0.
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Whether the cosine of `a` and `b` is null: mismatched lengths or
    * a null element on either side.
    */
  def isNull(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() != b.numElements() ||
      (0 until a.numElements()).exists(i => a.isNullAt(i) || b.isNullAt(i))
}
