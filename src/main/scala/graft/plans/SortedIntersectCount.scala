package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native codegen'd intersection size of two SORTED arrays (string
  * or long elements) — the per-candidate-pair kernel of the MinHash
  * rerank (`|A ∩ B|` over distinct sorted shingle sets via a linear
  * merge).
  *
  * `size(array_intersect(a, b))` allocates and populates a hash set
  * per ROW evaluation; at bands=numHashes validation operating points
  * the rerank touches 10⁵-10⁶ candidate pairs × ~50-element arrays,
  * making that allocation the hottest line of the near-dup family.
  * The merge is a single pass over both arrays with binary UTF8String
  * (or primitive long) comparison — the same ordering `sort_array`
  * wrote, so results equal `size(array_intersect(...))` exactly for
  * distinct sorted null-free inputs (the caller's contract;
  * [[graft.functions.Dedup]] sorts the pinned shingle table once at
  * build). Both inputs must share one element type; the long form
  * exists because hashed shingle sets shuffle 8-byte elements where
  * the raw strings are ~25 — see `Dedup.minhashNearDups`. A null
  * element VISITED by the merge yields a null count — outside the
  * contract, but defined rather than a task-killing NPE. (A null
  * positioned past the point where the merge exhausts the shorter
  * side is never inspected, so the count returns normally — the
  * null result is a best-effort tripwire, not a validator.)
  *
  * (Reference: scalar compute lives in user map functions, SURVEY
  * §2.8 — a Catalyst Expression is the Spark-native extension point.)
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(StringType, _) => true
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val sameElem = (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) => a == b
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) && sameElem)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> or two array<bigint> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** ArrayData.getLong on a non-long array returns garbage bytes, not
    * a cast — dispatch on the resolved element type (same rule as
    * CosineSim).
    */
  private def longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val cnt = SortedIntersectCount.count(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], longElems)
    if (cnt < 0) null else cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.plans.SortedIntersectCount$$.MODULE$$.count(
        $a, $b, $longElems);
      ${ev.isNull} = ${ev.value} < 0;""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Column form. */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      SortedIntersectCount(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** The kernel, for eval and generated code alike. A count is never
    * negative, so -1 stands for a null result.
    */
  def count(a: ArrayData, b: ArrayData, longs: Boolean): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      // null elements are outside the sorted-set contract: result is
      // null (defined), never an NPE mid-merge
      if (a.isNullAt(i) || b.isNullAt(j)) return -1
      val c =
        if (longs) java.lang.Long.compare(a.getLong(i), b.getLong(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }
}
