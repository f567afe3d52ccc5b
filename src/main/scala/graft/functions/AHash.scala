package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Codegen'd 32-bit average-hash (aHash) over a binary payload: bit i
  * is set iff unsigned byte i is at or above the payload's mean —
  * compared integer-exact as `byteᵢ·32 ≥ Σbytes`, the same rule the
  * DuckDB oracle computes in the hex domain (q198). One pass over the
  * bytes; replaces the higher-order `aggregate(...)` formulation whose
  * sig lambda inlined the bytesum aggregate and re-evaluated it per
  * iteration — 32×32 interpreted conv/substring calls per row, twice
  * (measured 33 s of the sf0.1 bench for 5 000 rows; this kernel is
  * sub-millisecond for the same work).
  */
case class AHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ahash32 expects binary, got ${t.sql}")
  }
  override def prettyName: String = "ahash32"

  override protected def nullSafeEval(input: Any): Any =
    AHash32.ahash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AHash32.ahash($c)")

  override protected def withNewChildInternal(newChild: Expression): AHash32 =
    copy(child = newChild)
}

object AHash32 {

  /** Signature over the first 32 bytes (the oracle's 32 hex pairs);
    * the mean is over the same window so payloads longer than 32
    * bytes hash their prefix consistently in both engines.
    */
  def ahash(payload: Array[Byte]): Long = {
    val n = math.min(32, payload.length)
    var sum = 0L
    var i = 0
    while (i < n) { sum += (payload(i) & 0xff); i += 1 }
    var out = 0L
    i = 0
    while (i < n) {
      if ((payload(i) & 0xff).toLong * 32 >= sum) out |= (1L << i)
      i += 1
    }
    out
  }
}
