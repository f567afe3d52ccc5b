package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Codegen'd MinHash band signatures: the whole LSH signature matrix
  * — `bands × rows` seeded min-hashes collapsed to one 60-bit bucket
  * hash per band — in a single JIT'd pass over the token array.
  *
  * Semantically identical to the higher-order-function formulation
  * (`transform(sequence…, array_min(transform(toks, md5long60(seed:tok))))`
  * per band, parts sorted lexicographically, comma-joined, band-
  * prefixed, hashed), which is what the DuckDB oracle still computes
  * — but Spark's HOF lambdas are INTERPRETED, so the nested form
  * costs ~`bands×rows×|toks|` boxed lambda calls per row and splits
  * the whole-stage-codegen span. This expression is one static call.
  *
  * Bucket values are band-prefixed (`hash("b|seed:min,…")`), so a
  * band-0 bucket can never equal a band-1 bucket: candidates can
  * join on the bucket value alone, and the buckets double as graph
  * nodes for the connected-components cluster merge (q100).
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands expects array<string>, got ${t.sql}")
  }
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.bandSigs(input.asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashBands.bandSigs($c, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {

  /** One pass: all `bands*rows` seeded minima, then one bucket hash
    * per band. Tokens hash as the ASCII bytes of "seed:token" —
    * byte-identical to the portable `md5long60(concat(seed,':',tok))`
    * the oracle runs. Empty (or all-null) token arrays produce the
    * band's hash of "b|" (no parts), mirroring the HOF form where
    * null min-hashes drop out of array_join.
    */
  def bandSigs(toks: ArrayData, bands: Int, rows: Int): ArrayData = {
    val seeds = bands * rows
    val mins = seededMins(toks, seeds)
    val any = mins.exists(_ != Long.MaxValue)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      sb.append(b).append('|')
      if (any) {
        val parts = new Array[String](rows)
        var j = 0
        while (j < rows) {
          val sd = b * rows + j
          parts(j) = sd.toString + ":" + mins(sd).toString
          j += 1
        }
        java.util.Arrays.sort(parts.asInstanceOf[Array[AnyRef]])
        var j2 = 0
        while (j2 < rows) {
          if (j2 > 0) sb.append(',')
          sb.append(parts(j2))
          j2 += 1
        }
      }
      out(b) = Md5Long60.hashBytes(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** The seeded-minima pass both kernels share: min over tokens of
    * md5long60("<seed>:<token>") for every seed. One implementation
    * so [[MinHashBands]] buckets and [[MinHashSig]] audit signatures
    * can never hash differently. Tokens that are null are skipped; a
    * token-free input leaves every entry at Long.MaxValue.
    */
  private[functions] def seededMins(toks: ArrayData, seeds: Int): Array[Long] = {
    val mins = new Array[Long](seeds)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val tok = toks.getUTF8String(i).getBytes
        var sd = 0
        while (sd < seeds) {
          val pre = seedPrefix(sd)
          val buf = new Array[Byte](pre.length + tok.length)
          System.arraycopy(pre, 0, buf, 0, pre.length)
          System.arraycopy(tok, 0, buf, pre.length, tok.length)
          val h = Md5Long60.hashBytes(buf)
          if (h < mins(sd)) mins(sd) = h
          sd += 1
        }
      }
      i += 1
    }
    mins
  }

  /** ASCII bytes of "<seed>:" (seed counts are tiny; cache them). */
  private val seedPrefixes = new java.util.concurrent.ConcurrentHashMap[Int, Array[Byte]]()
  private def seedPrefix(sd: Int): Array[Byte] =
    seedPrefixes.computeIfAbsent(sd,
      s => (s.toString + ":").getBytes(java.nio.charset.StandardCharsets.US_ASCII))

  /** DuckDB form of [[seededMins]] with 16 seeds, over a relation
    * `src(keys…, toks)`: CTEs `ex` (one row per token) and
    * `mh(keys…, seed, minh)`.
    */
  def minsSql(src: String, keys: String = "doc_id"): String =
    s"""ex AS (SELECT $keys, unnest(toks) AS tok FROM $src),
       |mh AS (
       |  SELECT $keys, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
       |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
       |  GROUP BY $keys, seed)""".stripMargin

  /** A query over `mh`: each (keys…, band)'s sorted `seed:minh` list
    * as `sig`, `rows` seeds to a band.
    */
  def bandListSql(rows: Int, keys: String = "doc_id"): String =
    s"""SELECT $keys, seed // $rows AS band,
       |  string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)) AS sig
       |FROM mh GROUP BY $keys, seed // $rows""".stripMargin

  /** [[minsSql]] plus `sigs(keys…, band, sig)`: 2 bands of 8 seeds. */
  def sigsSql(src: String, keys: String = "doc_id"): String =
    s"${minsSql(src, keys)},\nsigs AS (\n${bandListSql(8, keys)})"

  /** [[minsSql]] plus `db(doc_id, b0, b1)`: each doc's two band
    * buckets, hashed as [[bandSigs]] hashes them with 2 bands × 8 rows.
    */
  def bucketsSql(src: String): String =
    s"""${minsSql(src)},
       |db AS (
       |  SELECT doc_id,
       |    min(CASE WHEN band = 0 THEN bucket END) AS b0,
       |    min(CASE WHEN band = 1 THEN bucket END) AS b1
       |  FROM (
       |    SELECT doc_id, band, ${Portable.md5LongSql("concat(band, '|', sig)")} AS bucket
       |    FROM (${bandListSql(8)}))
       |  GROUP BY doc_id)""".stripMargin
}

/** Codegen'd raw MinHash signature: the `seeds` seeded min-hashes as
  * an `array<long>` (no banding) — the form sketch-accuracy audits
  * need, where two signatures are compared position by position to
  * estimate Jaccard (matches/seeds). Same seeded hash as
  * [[MinHashBands]] (`md5long60("seed:tok")`), so the DuckDB oracle's
  * `min(...) GROUP BY seed` CTE reproduces it exactly. Empty (or
  * all-null) arrays yield Long.MaxValue minima — callers filter empty
  * token sets, mirroring the oracle where `min` over no rows is NULL.
  */
case class MinHashSig(child: Expression, seeds: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${t.sql}")
  }
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.sig($c, $seeds)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** All `seeds` seeded minima in one pass over the token array —
    * [[MinHashBands.seededMins]], the exact loop the band kernel
    * buckets with.
    */
  def sig(toks: ArrayData, seeds: Int): ArrayData =
    new GenericArrayData(MinHashBands.seededMins(toks, seeds))
}

/** Codegen'd 32-bit SimHash over a token array: per token one 60-bit
  * md5 reduced mod 2³², each of the 32 bits votes ±1, the sign of
  * each bit's tally forms the signature. Replaces an explode to
  * |toks|×32 rows plus two aggregation shuffles with ONE per-row
  * pass — integer math identical to the exploded form, which is what
  * the DuckDB oracle still computes.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash32 expects array<string>, got ${t.sql}")
  }
  override def prettyName: String = "simhash32"

  override protected def nullSafeEval(input: Any): Any =
    SimHash32.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash32.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

object SimHash32 {

  /** Bit-tally SimHash; callers should pass DISTINCT tokens (set
    * semantics) and filter out empty arrays (the exploded form emits
    * no row for them).
    */
  def simhash(toks: ArrayData): Long = {
    val bal = new Array[Int](32)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h32 = Md5Long60.hashBytes(toks.getUTF8String(i).getBytes) % 4294967296L
        var b = 0
        while (b < 32) {
          bal(b) += (if (((h32 >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (bal(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
