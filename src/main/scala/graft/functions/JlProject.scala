package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd Johnson-Lindenstrauss ±1 random projection: the input
  * embedding times a deterministic d×k sign matrix (sign = md5
  * parity of "jl:i:j", the same derivation the DuckDB oracle runs
  * inline), accumulated left-to-right in DOUBLE per output dim — one
  * static call per row.
  *
  * Semantically identical to the folded Column form
  * (`array(Σᵢ emb[i]·sgnᵢⱼ for j < k)`), but that form is a ~d·k-term
  * expression TREE: at d=64, k=16 Catalyst spends multiple seconds
  * analyzing/optimizing/Janino-compiling the ~10⁴-node plan before a
  * single row moves (measured 4.3 s for q194 at sf0.1, ~3 s of it
  * plan overhead). This expression is one node; the sign matrix is
  * computed once per (d, k) and cached statically.
  */
case class JlProject(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"jl_project expects array<float|double>, got ${t.sql}")
  }

  override def prettyName: String = "jl_project"

  override protected def nullSafeEval(input: Any): Any =
    JlProject.project(input.asInstanceOf[ArrayData], k, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.JlProject.project($c, $k, $childIsFloat)")

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {

  /** Sign matrices keyed by d·2²⁰+k (both are small ints); row-major
    * d×k, sᵢⱼ = +1 iff md5long60("jl:i:j") is even — byte-identical
    * to the SQL parity the oracle derives.
    */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private def signs(d: Int, k: Int): Array[Double] =
    signCache.computeIfAbsent(d * (1 << 20) + k, _ => {
      val m = new Array[Double](d * k)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < k) {
          val h = Md5Long60.hashBytes(
            s"jl:$i:$j".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          m(i * k + j) = if (h % 2 == 0) 1.0 else -1.0
          j += 1
        }
        i += 1
      }
      m
    })

  /** proj[j] = Σᵢ emb[i]·sᵢⱼ, i ascending (the oracle's list_sum fold
    * order), all arithmetic in DOUBLE.
    */
  def project(e: ArrayData, k: Int, isFloat: Boolean): ArrayData = {
    val d = e.numElements()
    val s = signs(d, k)
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var acc = 0.0
      var i = 0
      while (i < d) {
        val x = if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)
        acc += x * s(i * k + j)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
}
