package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd 60-bit md5 hash: exactly
  * `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)` — the
  * first 15 hex digits of md5 parsed as an integer — but computed
  * straight from the digest bytes (big-endian first 8 bytes >>> 4),
  * skipping the hex-string render + string parse round-trip.
  *
  * This is the hot hash of every dedup/LSH/fingerprint operator
  * (millions of evaluations per query), and the slow portable form is
  * what the DuckDB oracle still runs — bit-identical results, so the
  * oracle keeps validating the fast path. Oracle-level equivalence is
  * itself pinned by q33_hash_functions.
  */
case class Md5Long60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5long60 expects STRING, got ${child.dataType.sql}")
  override def prettyName: String = "md5long60"

  override protected def nullSafeEval(input: Any): Any =
    Md5Long60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Long60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

object Md5Long60 {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(s) as a non-negative long. */
  def hash(s: UTF8String): Long = hashBytes(s.getBytes)

  /** Same hash straight over raw bytes (kernel-side callers that
    * build their inputs without a UTF8String round-trip).
    */
  def hashBytes(b: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(b)
    ByteBuffer.wrap(d).getLong >>> 4
  }
}
