package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |A ∩ B| for two SORTED-ascending distinct `array<bigint>` columns
  * via a single merge scan — the hot kernel of pair-verification in
  * the near-dup operators.
  *
  * `array_intersect(a, b)` builds a hash set per CALL and is
  * interpreted (no codegen); at 10⁵-10⁶ candidate pairs per LSH
  * bucket-join that's the dominant cost of the whole dedup pipeline.
  * This expression is one JIT'd O(|A|+|B|) loop with no allocation.
  * Jaccard follows as c / (|A| + |B| − c), so the union needs no
  * second pass. Inputs MUST be sorted ascending and duplicate-free
  * (produce them with array_sort over a distinct set — see q41);
  * SetOpsSpec pins equality against the interpreted form.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetOps.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SetOps.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

object SetOps {

  /** Merge-scan intersection count of two sorted ascending long
    * arrays.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
