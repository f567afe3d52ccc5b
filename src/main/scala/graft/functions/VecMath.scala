package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd vector arithmetic over `array<float|double>` columns.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`) do NOT
  * participate in whole-stage codegen — each lambda application is
  * interpreted, so a 64-dim dot product costs ~128 boxed lambda calls
  * per row and splits the codegen span. These expressions compile to
  * one static JIT-compiled loop call per row and keep the span
  * intact. Semantics are exactly [[VectorFunctions.dot]]/
  * [[VectorFunctions.dist2]]: left-to-right DOUBLE accumulation, so
  * results stay bit-identical to the DuckDB oracle's
  * `list_sum(list_transform(list_zip(...)))` form (which keeps
  * validating this fast path).
  *
  * Null ELEMENTS contribute 0 (embedding arrays never contain nulls;
  * the interpreted form would null-poison the whole sum) — the one
  * documented divergence, unreachable on real inputs.
  */
abstract class VecBinaryOp extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<float|double> inputs, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }

  protected def leftIsFloat: Boolean = elemType(left).contains(FloatType)
  protected def rightIsFloat: Boolean = elemType(right).contains(FloatType)

  /** Static Java-callable loop: graft.functions.VecMath.<method>. */
  protected def method: String

  override protected def nullSafeEval(a: Any, b: Any): Any = run(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected def run(a: ArrayData, b: ArrayData): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecMath.$method($a, $b, $leftIsFloat, $rightIsFloat)")
}

/** dot(a, b) = Σ aᵢ·bᵢ accumulated left-to-right in DOUBLE. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryOp {
  override def prettyName: String = "vecdot"
  override protected def method: String = "dot"
  override protected def run(a: ArrayData, b: ArrayData): Double =
    VecMath.dot(a, b, leftIsFloat, rightIsFloat)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** dist2(a, b) = Σ pow(aᵢ−bᵢ, 2) — Math.pow like the SQL `pow` the
  * interpreted form and the oracle both call.
  */
case class VecDist2(left: Expression, right: Expression) extends VecBinaryOp {
  override def prettyName: String = "vecdist2"
  override protected def method: String = "dist2"
  override protected def run(a: ArrayData, b: ArrayData): Double =
    VecMath.dist2(a, b, leftIsFloat, rightIsFloat)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDist2 =
    copy(left = l, right = r)
}

object VecMath {

  @inline private def at(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) s += at(a, i, af) * at(b, i, bf)
      i += 1
    }
    s
  }

  def dist2(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        s += Math.pow(at(a, i, af) - at(b, i, bf), 2)
      i += 1
    }
    s
  }

  /** Column-level dot for composing with other Column expressions. */
  def dotCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlBridge.column(VecDot(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))
}
