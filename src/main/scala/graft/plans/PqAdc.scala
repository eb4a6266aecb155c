package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd ADC (asymmetric distance computation) lookup —
  * the scoring kernel of product-quantized embedding search: sum,
  * over the `m` subspaces, of `table[sub * ksub + code(sub)]`, where
  * `codes` is the corpus vector's `m`-byte PQ code word and `table`
  * is the query's flattened `m × ksub` per-centroid dot-product
  * table. The corpus side of the scan touches only the code words —
  * `m` bytes per vector vs `4·dim` float bytes (32× smaller at
  * dim 64 / m 8), the byte ratio that keeps a 100 TB index scan
  * memory-resident — and the per-candidate work is `m` array reads
  * and adds, no float multiply at all.
  *
  * Codes are stored as unsigned bytes (`code & 0xFF`), so `ksub` up
  * to 256 round-trips through `array<tinyint>`. Null semantics match
  * [[Int8Dot]]: null input → null, any null element → null; a code
  * out of the table's range (corrupt code word or mismatched
  * codebook) also yields null rather than a wrong score.
  *
  * (Reference scalar compute lives in user map functions, SURVEY
  * §2.8; as with [[CosineSim]] the Spark-native extension point is a
  * Catalyst Expression with codegen, not a UDF.)
  */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<tinyint>, array<double>), " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val codes = l.asInstanceOf[ArrayData]
    val table = r.asInstanceOf[ArrayData]
    val v = PqAdc.adc(codes, table, ksub)
    if (java.lang.Double.isNaN(v) && PqAdc.isNull(codes, table, ksub)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => s"""
      ${ev.value} = graft.plans.PqAdc$$.MODULE$$.adc($c, $t, $ksub);
      ${ev.isNull} = java.lang.Double.isNaN(${ev.value})
        && graft.plans.PqAdc$$.MODULE$$.isNull($c, $t, $ksub);""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  /** Column form. */
  def apply(codes: Column, table: Column, ksub: Int): Column =
    GraftColumnBridge.column(
      PqAdc(GraftColumnBridge.expression(codes),
        GraftColumnBridge.expression(table), ksub))

  // table index of subspace i's code, or -1 if the code or its table
  // entry is null or the code is past the table
  private def entry(codes: ArrayData, table: ArrayData, ksub: Int, i: Int): Int =
    if (codes.isNullAt(i)) -1
    else {
      val idx = i * ksub + (codes.getByte(i) & 0xFF)
      if (idx >= table.numElements() || table.isNullAt(idx)) -1 else idx
    }

  /** The kernel, for eval and generated code alike. A null result
    * comes back as NaN, which a NaN table entry also yields:
    * [[isNull]] tells the two apart, and runs only on a NaN.
    */
  def adc(codes: ArrayData, table: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var sum = 0.0
    var i = 0
    while (i < m) {
      val idx = entry(codes, table, ksub, i)
      if (idx < 0) return Double.NaN
      sum += table.getDouble(idx)
      i += 1
    }
    sum
  }

  /** Whether the ADC score is null: some code is null, past the
    * table, or looks up a null entry.
    */
  def isNull(codes: ArrayData, table: ArrayData, ksub: Int): Boolean =
    (0 until codes.numElements()).exists(entry(codes, table, ksub, _) < 0)
}
