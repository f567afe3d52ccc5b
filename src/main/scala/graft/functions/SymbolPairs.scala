package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd adjacent-symbol pair extraction for the BPE trainer
  * (q216): the input is a space-separated symbol string (" d a t a "),
  * the output is the array of adjacent pairs ("d a", "a t", "t a").
  * Semantically `transform(sequence(1, n-1), i -> concat(sym[i], ' ',
  * sym[i+1]))` over `split(trim(sy), ' ')` — the HOF form the DuckDB
  * oracle still runs — but as ONE pass over the string instead of an
  * interpreted lambda that re-splits the string per element (the HOF
  * dominated q216's pair-count stage at sf10).
  */
case class SymbolPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"symbol_pairs expects string, got ${t.sql}")
  }
  override def prettyName: String = "symbol_pairs"

  override protected def nullSafeEval(input: Any): Any =
    SymbolPairs.pairs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SymbolPairs.pairs($c)")

  override protected def withNewChildInternal(newChild: Expression): SymbolPairs =
    copy(child = newChild)
}

object SymbolPairs {

  def pairs(sy: UTF8String): ArrayData = {
    val s = sy.toString.trim
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    val syms = s.split(' ')
    if (syms.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](syms.length - 1)
    var i = 0
    while (i < syms.length - 1) {
      out(i) = UTF8String.fromString(syms(i) + " " + syms(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
}
