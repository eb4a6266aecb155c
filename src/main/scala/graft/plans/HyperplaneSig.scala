package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd random-hyperplane LSH signature over an
  * `array<float|double>` column: bit j = sign of dot(v, h_j), where
  * h_j's components are deterministic ±1 from `xxhash64(j, i)` parity
  * (seed 42, the builtin's seed) — reproducible across runs and
  * engines with no stored model.
  *
  * This replaces the nested higher-order form
  * (`aggregate(zip_with(..aggregate(zip_with(..))))`), which is
  * interpreted, boxed, and re-evaluates the inner dot product per bit
  * — the exact anti-pattern measured at 20× on MinHash (BASELINE.md).
  * Here all `bits × dim` multiply-adds run in one fused primitive
  * loop inside whole-stage codegen; the composable form is kept as
  * the parity witness ([[graft.functions.Similarity.hyperplaneSigComposable]]).
  *
  * Null semantics mirror the composable form exactly: any null
  * element poisons every dot product, whose `> 0` check then falls to
  * the `otherwise(0)` branch → signature 0; an empty vector → all
  * dots 0 → signature 0; a null vector also → 0 (the composable
  * outer fold runs over the plane list, not the vector — the Column
  * factory below coalesces the null-safe native eval to 0 to match).
  *
  * (The reference has no expression engine — scalar compute lives in
  * user map functions, SURVEY §2.8; a Catalyst Expression is the
  * Spark-native extension point for it.)
  */
case class HyperplaneSig(child: Expression, bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok && bits >= 1 && bits <= 64)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> input and 1 <= bits <= 64, " +
        s"got ${child.dataType.simpleString}, bits=$bits")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override def nullable: Boolean = true

  private def elemIsDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.sig(input.asInstanceOf[ArrayData], bits, elemIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.plans.HyperplaneSig$$.MODULE$$.sig($a, $bits, $elemIsDouble)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  /** Column form (null vector → 0, matching the composable witness). */
  def apply(vec: Column, bits: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftColumnBridge.column(
        HyperplaneSig(GraftColumnBridge.expression(vec), bits)),
      org.apache.spark.sql.functions.lit(0L))

  /** The kernel, for eval and generated code alike; never null. */
  def sig(a: ArrayData, bits: Int, isDouble: Boolean): Long = {
    val n = a.numElements()
    var i = 0
    while (i < n) { // any null element -> every dot null -> sig 0
      if (a.isNullAt(i)) return 0L
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      val seed = XXH64.hashInt(j, 42L)
      var dot = 0.0
      i = 0
      while (i < n) {
        val x = if (isDouble) a.getDouble(i) else a.getFloat(i).toDouble
        dot += (if ((XXH64.hashInt(i, seed) & 1L) == 0L) x else -x)
        i += 1
      }
      if (dot > 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}
