package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) storage dedup — the rsync/LBFS/
  * FastCDC idea at word granularity. Fixed-stride chunking (q74)
  * breaks under insertion: one added word shifts every later chunk
  * boundary in the document, so a near-copy shares almost no chunks
  * with its original. CDC instead cuts where the CONTENT says so — a
  * token whose hash lands in 1/8 of the hash space terminates a chunk
  * — so an edit perturbs only the chunk containing it and the two
  * documents still share every other chunk. Expected chunk length is
  * the mask reciprocal (8 words).
  *
  * Scale design: boundary detection, chunk slicing and chunk hashing
  * are all row-local higher-order expressions — NO token-level rows
  * ever shuffle (the q74 family's property, kept). The only exchange
  * is the groupBy on (lang, 60-bit chunk hash): fixed-width keys,
  * never chunk text. Dedup ratios are emitted in integer basis
  * points (the README gate rule: no float quotients near round
  * boundaries).
  */
object CorpusOps5 {

  /** SQL expression: ascending 1-based CDC boundary positions of the
    * token array `toks` (content cuts at md5long60(token) % 8 == 0,
    * doc end appended as the closing sentinel).
    */
  private[graft] def cdcBoundsExpr(toks: String): String =
    s"""array_distinct(concat(
       |  filter(transform($toks, (t, i) -> IF(md5long60(t) % 8 = 0, i + 1, 0)),
       |         p -> p > 0),
       |  array(size($toks))))""".stripMargin

  /** SQL expression: the CDC chunks of `toks` given boundary array
    * `bnds`, as array<struct<h: chunk hash, nc: chunk chars>> —
    * factored out so CorpusOps5Spec can pin shift-resistance on
    * synthetic edits with the exact production kernel.
    */
  private[graft] def cdcChunksExpr(toks: String, bnds: String): String =
    s"""transform(
       |  transform($bnds, (b, j) ->
       |    slice($toks, IF(j = 0, 1, element_at($bnds, j) + 1),
       |          b - IF(j = 0, 0, element_at($bnds, j)))),
       |  s -> struct(md5long60(array_join(s, ' ')) AS h,
       |              length(array_join(s, ' ')) AS nc))""".stripMargin

  /** Per-language chunk-store dedup report: documents are CDC-chunked,
    * chunks are hashed, and each language's chunk store is measured —
    * total vs distinct chunks and the redundant characters a
    * content-addressed store would not re-write. A chunk's boundary
    * token is its LAST token (`md5long60(token) % 8 == 0` cuts after
    * it); the document tail closes the final chunk.
    */
  val q266 = Q(
    "q266_cdc_chunk_dedup",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("lang"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        // ascending boundary positions (1-based), with the doc end
        // appended as the closing sentinel (array_distinct keeps the
        // first occurrence, so an end token that is ALSO a content
        // boundary is not doubled)
        .withColumn("bnds", expr(cdcBoundsExpr("toks")))
        // chunk j spans (bnds[j-1]+1 .. bnds[j]); element_at is
        // 1-based, so with j 0-based element_at(bnds, j) IS the
        // previous boundary
        .withColumn("c", explode(expr(cdcChunksExpr("toks", "bnds"))))
        .groupBy(col("lang"), col("c.h").as("h"))
        .agg(count(lit(1)).as("copies"), min(col("c.nc")).as("nc"))
        .groupBy("lang")
        .agg(
          sum(col("copies")).as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(col("copies") - 1).as("dup_chunks"),
          sum(col("copies") * col("nc")).cast("long").as("chunk_chars"),
          sum((col("copies") - 1) * col("nc")).cast("long").as("dup_chars"))
        .withColumn("dedup_bp",
          expr("dup_chars * 10000 div chunk_chars")) // integer basis points
        .orderBy("lang")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n FROM (
      |    SELECT doc_id, lang, ${Portable.tokensSql("text")} AS toks
      |    FROM documents)
      |  WHERE len(toks) >= 1),
      |tok AS (
      |  SELECT doc_id, lang, i, toks[i] AS tk,
      |    CASE WHEN ${Portable.md5LongSql("toks[i]")} % 8 = 0
      |      THEN 1 ELSE 0 END AS b
      |  FROM t, unnest(range(1, n + 1)) g(i)),
      |ch AS (
      |  SELECT doc_id, lang, i, tk,
      |    1 + coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cno
      |  FROM tok),
      |cj AS (
      |  SELECT lang, string_agg(tk, ' ' ORDER BY i) AS ctext
      |  FROM ch GROUP BY doc_id, lang, cno),
      |ck AS (
      |  SELECT lang, ${Portable.md5LongSql("ctext")} AS h,
      |    CAST(length(ctext) AS BIGINT) AS nc
      |  FROM cj),
      |g AS (SELECT lang, h, count(*) AS copies, min(nc) AS nc
      |      FROM ck GROUP BY 1, 2)
      |SELECT lang,
      |  CAST(sum(copies) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(copies - 1) AS BIGINT) AS dup_chunks,
      |  CAST(sum(copies * nc) AS BIGINT) AS chunk_chars,
      |  CAST(sum((copies - 1) * nc) AS BIGINT) AS dup_chars,
      |  CAST(sum((copies - 1) * nc) * 10000 // sum(copies * nc) AS BIGINT)
      |    AS dedup_bp
      |FROM g GROUP BY lang
      |ORDER BY lang""".stripMargin))

  val all: Vector[Q] = Vector(q266)
}
