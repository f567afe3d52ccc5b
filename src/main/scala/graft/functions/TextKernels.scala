package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass codegen'd kernels for the text-pipeline hot paths that
  * were previously written as higher-order-function SQL. Each is
  * value-identical to its portable formulation (the form the DuckDB
  * oracle still runs — KernelPropSpec pins every equivalence); the
  * point is purely mechanical: Spark HOFs interpret a boxed lambda
  * per element and knock the enclosing operator out of whole-stage
  * codegen, while these run as one static JVM call per row.
  */
private[functions] trait ArrayStringInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.sql}")
  }
}

/** `array_sort(transform(toks, t -> md5long60(t)))` as one pass:
  * the sorted-hash form every merge-scan intersect (q40/q41/q45's
  * sorted_intersect_count) consumes.
  */
case class Md5Sorted(child: Expression)
    extends UnaryExpression with ArrayStringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_sorted"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.md5Sorted(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.md5Sorted($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Sorted =
    copy(child = newChild)
}

/** `array_distinct(zip_with(slice(toks,1,n-1), slice(toks,2,n-1),
  * (x, y) -> md5long60(concat(x, ' ', y))))` as one pass — q43's
  * token-bigram shingle hashes, first-occurrence order.
  */
case class BigramHashes(child: Expression)
    extends UnaryExpression with ArrayStringInput {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bigram_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.bigramHashes(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.bigramHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramHashes =
    copy(child = newChild)
}

/** `zip_with(slice(toks, 1, n-1), slice(toks, 2, n-1),
  * (a, b) -> concat(a, ' ', b))` as one codegen'd pass — the
  * NON-distinct bigram occurrence list (q117's LM scorer explodes
  * it; the HOF form costs two interpreted slices plus a boxed lambda
  * per element and splits the codegen span).
  */
case class BigramStrings(child: Expression)
    extends UnaryExpression with ArrayStringInput {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bigram_strings"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.bigramStrings(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.bigramStrings($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramStrings =
    copy(child = newChild)
}

/** `size(array_distinct(zip_with(..., (x, y) -> concat(x, ' ', y))))`
  * as one pass that never materialises the bigram array — q102's
  * dup-bigram denominator. Distinctness is over the STRINGS (not
  * their hashes), exactly like the portable form.
  */
case class DistinctBigramCount(child: Expression)
    extends UnaryExpression with ArrayStringInput {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "distinct_bigram_count"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.distinctBigramCount(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.distinctBigramCount($c)")
  override protected def withNewChildInternal(
      newChild: Expression): DistinctBigramCount = copy(child = newChild)
}

/** `array_distinct(transform(sequence(1, length(text) - k + 1),
  * i -> md5long60(substring(text, i, k))))` as one pass over the
  * text — q103's contamination probe. Windows are CHARACTER-based
  * (Spark `substring` semantics), walked by advancing two UTF-8
  * char pointers, so the whole scan is O(bytes), not O(chars × k).
  */
case class CharShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_shingle_hashes expects string, got ${t.sql}")
  }
  override def prettyName: String = "char_shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.charShingleHashes(input.asInstanceOf[UTF8String], k, distinct = true)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.charShingleHashes($c, $k, true)")
  override protected def withNewChildInternal(
      newChild: Expression): CharShingleHashes = copy(child = newChild)
}

/** Content-defined anchor sampling of the k-char window hashes
  * (winnowing, Schleimer et al. 2003): emit only the distinct window
  * hashes with `h % mod == 0`. Selection depends on window CONTENT,
  * never position, so every copy of a duplicated span selects the
  * same ~1/mod of its windows regardless of alignment — the property
  * a fixed-stride grid lacks (two copies offset by one char share
  * zero stride-grid windows). This is what keeps the q192
  * duplicated-span scan at 1/mod of the full explode volume without
  * opening an alignment hole.
  */
case class AnchorShingleHashes(child: Expression, k: Int, mod: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"anchor_shingle_hashes expects string, got ${t.sql}")
  }
  override def prettyName: String = "anchor_shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.anchorShingleHashes(input.asInstanceOf[UTF8String], k, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.anchorShingleHashes($c, $k, $mod)")
  override protected def withNewChildInternal(
      newChild: Expression): AnchorShingleHashes = copy(child = newChild)
}

/** [[AnchorShingleHashes]] with POSITIONS: every anchored k-char
  * window as `struct(pos, h)` where `pos` is the window's 1-based
  * CHARACTER offset (Spark/DuckDB `substring` convention). Unlike the
  * hash-only kernel this does NOT per-doc-deduplicate — span excision
  * (q291) must excise every occurrence of a duplicated window, and a
  * hash repeating inside one document occupies two distinct ranges.
  * Same winnowing selection (h % mod == 0), so the positions line up
  * with exactly the windows q192's audit counted.
  */
case class AnchorShinglePos(child: Expression, k: Int, mod: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"anchor_shingle_pos expects string, got ${t.sql}")
  }
  override def prettyName: String = "anchor_shingle_pos"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.anchorShinglePos(input.asInstanceOf[UTF8String], k, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.anchorShinglePos($c, $k, $mod)")
  override protected def withNewChildInternal(
      newChild: Expression): AnchorShinglePos = copy(child = newChild)
}

/** q47's whole per-document aggregate — `min(h)` and
  * `count(DISTINCT h)` over the k-char shingle hashes — as ONE
  * per-row struct, eliminating the |text|-row explode AND the
  * shuffle the groupBy needed. At 100 TB that explode is the
  * difference between scanning documents once and shuffling
  * |corpus chars| rows.
  */
case class ShingleFingerprint(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("fingerprint", LongType, nullable = false),
    StructField("n_shingles", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_fingerprint expects string, got ${t.sql}")
  }
  override def prettyName: String = "shingle_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.shingleFingerprint(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.shingleFingerprint($c, $k)")
  override protected def withNewChildInternal(
      newChild: Expression): ShingleFingerprint = copy(child = newChild)
}

object TextKernels {

  def md5Sorted(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Md5Long60.hashBytes(toks.getUTF8String(i).getBytes)
      i += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  def bigramHashes(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new java.util.ArrayList[java.lang.Long](math.max(n - 1, 0))
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 1
    while (i < n) {
      val h = Md5Long60.hashBytes(
        joinBytes(toks.getUTF8String(i - 1), toks.getUTF8String(i)))
      if (seen.add(h)) out.add(h)
      i += 1
    }
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  def bigramStrings(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = new Array[AnyRef](math.max(n - 1, 0))
    var i = 1
    while (i < n) {
      out(i - 1) = UTF8String.fromBytes(
        joinBytes(toks.getUTF8String(i - 1), toks.getUTF8String(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  def distinctBigramCount(toks: ArrayData): Int = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    var i = 1
    while (i < n) {
      seen.add(UTF8String.fromBytes(
        joinBytes(toks.getUTF8String(i - 1), toks.getUTF8String(i))))
      i += 1
    }
    seen.size
  }

  /** bytes of `concat(x, ' ', y)` */
  private def joinBytes(x: UTF8String, y: UTF8String): Array[Byte] = {
    val xb = x.getBytes; val yb = y.getBytes
    val b = new Array[Byte](xb.length + 1 + yb.length)
    System.arraycopy(xb, 0, b, 0, xb.length)
    b(xb.length) = ' '
    System.arraycopy(yb, 0, b, xb.length + 1, yb.length)
    b
  }

  /** All k-char windows hashed in one O(bytes) scan: `lo`/`hi` are
    * byte offsets of the window's first char and one-past-last char,
    * each advanced one UTF-8 char per step.
    */
  private def eachShingleHash(s: UTF8String, k: Int)(f: Long => Unit): Unit = {
    val bytes = s.getBytes
    val n = bytes.length
    // advance hi k chars for the first window
    var hi = 0
    var chars = 0
    while (hi < n && chars < k) { hi += charLen(bytes(hi)); chars += 1 }
    if (chars < k) return // fewer than k chars: no windows
    var lo = 0
    var cont = true
    while (cont) {
      f(Md5Long60.hashBytes(java.util.Arrays.copyOfRange(bytes, lo, hi)))
      if (hi < n) { lo += charLen(bytes(lo)); hi += charLen(bytes(hi)) }
      else cont = false
    }
  }

  private def charLen(lead: Byte): Int =
    if ((lead & 0x80) == 0) 1
    else if ((lead & 0xe0) == 0xc0) 2
    else if ((lead & 0xf0) == 0xe0) 3
    else if ((lead & 0xf8) == 0xf0) 4
    else 1 // continuation/invalid byte: count as one, like UTF8String

  def charShingleHashes(s: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val out = new java.util.ArrayList[java.lang.Long]()
    val seen = if (distinct) new java.util.HashSet[java.lang.Long]() else null
    eachShingleHash(s, k) { h =>
      if (seen == null || seen.add(h)) out.add(h)
    }
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  def anchorShinglePos(s: UTF8String, k: Int, mod: Int): ArrayData = {
    val out = new java.util.ArrayList[AnyRef]()
    var pos = 1L // 1-based char offset, the substring convention
    eachShingleHash(s, k) { h =>
      if (h % mod == 0)
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](pos, h)))
      pos += 1
    }
    new GenericArrayData(out.toArray)
  }

  def anchorShingleHashes(s: UTF8String, k: Int, mod: Int): ArrayData = {
    val out = new java.util.ArrayList[java.lang.Long]()
    val seen = new java.util.HashSet[java.lang.Long]()
    eachShingleHash(s, k) { h =>
      if (h % mod == 0 && seen.add(h)) out.add(h)
    }
    val arr = new Array[Long](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    new GenericArrayData(arr)
  }

  /** (min hash, distinct-hash count) over the k-char windows.
    * Callers must pre-filter texts shorter than k chars (as the
    * exploded formulation's length filter does); a window-free text
    * degenerates to (-1, 0) rather than dropping the row.
    */
  def shingleFingerprint(s: UTF8String, k: Int): InternalRow = {
    var min = Long.MaxValue
    val seen = new java.util.HashSet[java.lang.Long]()
    eachShingleHash(s, k) { h =>
      if (h < min) min = h
      seen.add(h)
    }
    if (seen.isEmpty) InternalRow(-1L, 0L)
    else InternalRow(min, seen.size.toLong)
  }
}
