package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd PQ encoder: nearest-centroid assignment of all
  * `m` subvectors of a double vector against a flattened codebook,
  * in ONE kernel per row — the assignment step of product
  * quantization ([[graft.functions.Pq]]) without the m-way explode,
  * the ksub-way crossJoin, or interpreted higher-order L2 folds
  * (the composable form evaluates an interpreted lambda per
  * (subvector, centroid) pair — measured 6.5 s vs sub-second for
  * the PQ query at sf0.1 before this kernel existed).
  *
  * `codebook` is sub-major flattened: centroid `c` of subspace `s`
  * occupies `[(s·ksub + c)·dsub, …+dsub)`, with `dsub = dim / m` —
  * the layout `graft.functions.Pq` flattens codebooks into. Returns
  * the `m`-byte code word (unsigned bytes, matching [[PqAdc]]).
  * Ties (exactly equal distances) keep the lowest centroid id, the
  * same rule as the DataFrame witness (`min(struct(d, cluster))`).
  *
  * Null semantics: null vector or any null element → null. A vector
  * whose length is not `m·dsub`, or a codebook of the wrong length,
  * throws: those are configuration errors (the codebook is
  * caller-built), and a silent null would poison every downstream
  * code word of the run.
  */
case class PqEncode(left: Expression, right: Expression, m: Int, ksub: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }
  }

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    PqEncode.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      m, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb) => s"""
      ${ev.value} = graft.plans.PqEncode$$.MODULE$$.compute($v, $cb, $m, $ksub);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {

  /** One row's code word; called once per row from codegen. */
  def compute(vec: ArrayData, cb: ArrayData, m: Int, ksub: Int): ArrayData = {
    val dim = vec.numElements()
    require(dim % m == 0,
      s"pq_encode: vector dim $dim is not divisible by m=$m")
    val dsub = dim / m
    require(cb.numElements() == m * ksub * dsub,
      s"pq_encode: codebook has ${cb.numElements()} entries, " +
        s"expected m*ksub*dsub = ${m * ksub * dsub}")
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (vec.isNullAt(i)) return null
      v(i) = vec.getDouble(i)
      i += 1
    }
    val codes = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        val base = (sub * ksub + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = v(sub * dsub + j) - cb.getDouble(base + j)
          d += diff * diff
          j += 1
        }
        // strict < keeps the FIRST (lowest id) centroid on exact ties
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(sub) = best.toByte
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** Column form. */
  def apply(vec: Column, codebook: Column, m: Int, ksub: Int): Column =
    GraftColumnBridge.column(
      PqEncode(GraftColumnBridge.expression(vec),
        GraftColumnBridge.expression(codebook), m, ksub))
}
