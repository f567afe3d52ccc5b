package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import graft.multimodal.MediaPipeline
import graft.stats.SchemaPreview
import org.apache.spark.sql.functions._

/** Multimodal data (SURVEY.md §2.13 L5, §3.3): schema preview, media
  * metadata and decode features, frame sampling, the text–vector
  * join, and perceptual-hash near-dup over binary payloads.
  */
object Multimodal {

  /** L5 multimodal row: text metadata ⋈ vector + derived features
    * from both modalities in one result.
    */
  val q52 = Q(
    "q52_multimodal_join",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .join(Tables.emb(s, dir), col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"), col("lang"), col("source"), col("n_chars"), col("label"),
          round(V.norm("embedding"), 6).as("emb_norm"),
          size(Portable.tokens(col("text"))).as("n_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, lang, source, n_chars, label,
      |  round(${V.normSql("embedding")}, 6) AS emb_norm,
      |  CAST(len(${Portable.tokensSql("text")}) AS INTEGER) AS n_tokens
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin))

  /* SURVEY.md §2.13 L5 + §3.3 — schema preview on the documents table
    * and the multimodal binary-column pipeline. q54/q54b/q55 keep
    * Spark's side in real `binary` (unhex → BinaryType → hex) while
    * the oracle mirrors the arithmetic in the hex-string domain
    * (DuckDB 1.0 has no blob substring). The typed mapPartitions
    * decode stub lives in MediaPipeline and is spec-pinned equal to
    * the q55 expression form.
    */

  private val statCols = Seq("doc_id", "n_chars")

  val q53 = Q(
    "q53_schema_preview_documents",
    (s, dir) => SchemaPreview.columnStats(Tables.t(s, dir, "documents"), statCols),
    Some(SchemaPreview.columnStatsSql("documents", statCols)))

  /** Binary payload metadata: byte length, 4-byte hex prefix, and a
    * 4-point stride sample — computed on a real BinaryType column.
    */
  val q54 = Q(
    "q54_media_metadata",
    (s, dir) => {
      MediaPipeline.withPayload(Tables.t(s, dir, "documents"))
        .withColumn("hexp", hex(col("payload")))
        .select(
          col("doc_id"), col("kind"),
          length(col("payload")).as("byte_len"),
          substring(col("hexp"), 1, 8).as("prefix4"),
          concat(
            substring(col("hexp"), 1, 2), substring(col("hexp"), 17, 2),
            substring(col("hexp"), 33, 2), substring(col("hexp"), 49, 2)).as("stride_sample"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      |  CASE WHEN n_chars % 3 = 0 THEN 'image'
      |       WHEN n_chars % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS kind,
      |  CAST(length(hexp) / 2 AS INTEGER) AS byte_len,
      |  substr(hexp, 1, 8) AS prefix4,
      |  substr(hexp, 1, 2) || substr(hexp, 17, 2) ||
      |    substr(hexp, 33, 2) || substr(hexp, 49, 2) AS stride_sample
      |FROM (SELECT doc_id, n_chars,
      |        upper(md5(text) || md5(text || '1')) AS hexp
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** Decode-stub features (byte length, mean byte "brightness",
    * frame count, header checksum) computed as codegen'd expressions
    * over the BinaryType payload, with the oracle mirroring the byte
    * arithmetic in the hex domain (nibble values via instr on the hex
    * alphabet — DuckDB has no conv). The typed mapPartitions decoder
    * (MediaPipeline.decodeFeatures — where a real codec would drop
    * in) is pinned EQUAL to this expression form by
    * MediaPipelineSpec, so the registry entry is fully oracle-checked
    * while the Pandas-UDF-shaped plumbing stays covered.
    *
    * brightness = bytesum/32 is exact in binary AND ≤6 decimal
    * digits (1/32 = 0.03125), so round(·,6) is the identity on both
    * engines — no float-rounding hazard in the hash compare.
    */
  val q55 = Q(
    "q55_media_decode_features",
    (s, dir) => {
      val byteSum = (n: Int) => expr(
        s"""aggregate(sequence(1, $n), 0L,
           |  (acc, i) -> acc + cast(conv(substring(hexp, i*2-1, 2), 16, 10) AS bigint))""".stripMargin)
      MediaPipeline.withPayload(Tables.t(s, dir, "documents"))
        .withColumn("hexp", hex(col("payload")))
        .withColumn("bytesum", byteSum(32))
        .select(
          col("doc_id"), col("kind"),
          length(col("payload")).as("byte_len"),
          round(col("bytesum") / 32.0, 6).as("brightness"),
          (length(col("payload")) / 8).cast("int").as("n_frames"),
          byteSum(8).as("header_checksum"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      |  CASE WHEN n_chars % 3 = 0 THEN 'image'
      |       WHEN n_chars % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS kind,
      |  CAST(length(hexp) / 2 AS INTEGER) AS byte_len,
      |  round(list_sum(
      |    [(instr('0123456789ABCDEF', substr(hexp, i*2-1, 1)) - 1) * 16
      |     + instr('0123456789ABCDEF', substr(hexp, i*2, 1)) - 1
      |     for i in generate_series(1, 32)]) / 32.0, 6) AS brightness,
      |  CAST(length(hexp) / 2 / 8 AS INTEGER) AS n_frames,
      |  CAST(list_sum(
      |    [(instr('0123456789ABCDEF', substr(hexp, i*2-1, 1)) - 1) * 16
      |     + instr('0123456789ABCDEF', substr(hexp, i*2, 1)) - 1
      |     for i in generate_series(1, 8)]) AS BIGINT) AS header_checksum
      |FROM (SELECT doc_id, n_chars,
      |        upper(md5(text) || md5(text || '1')) AS hexp
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** Frame sampling over the binary payload: treat the 32-byte
    * payload as 4 8-byte "frames" and sample frames 1 and 3 (stride
    * 2) — the resize/frame-sample plumbing of a video pipeline, with
    * the oracle mirroring the byte arithmetic in the hex domain.
    */
  val q54b = Q(
    "q54b_media_frame_sample",
    (s, dir) => {
      MediaPipeline.withPayload(Tables.t(s, dir, "documents"))
        .withColumn("hexp", hex(col("payload")))
        .select(
          col("doc_id"), col("kind"),
          (length(col("payload")) / 8).cast("int").as("n_frames"),
          substring(col("hexp"), 1, 16).as("frame0"),
          substring(col("hexp"), 33, 16).as("frame2"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      |  CASE WHEN n_chars % 3 = 0 THEN 'image'
      |       WHEN n_chars % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS kind,
      |  4 AS n_frames,
      |  substr(hexp, 1, 16) AS frame0,
      |  substr(hexp, 33, 16) AS frame2
      |FROM (SELECT doc_id, n_chars,
      |        upper(md5(text) || md5(text || '1')) AS hexp
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** Perceptual-hash near-dup over the binary media payloads (aHash,
    * the average-hash construction every image-dedup pipeline starts
    * from): bit i of the 32-bit signature is set iff byte i is at or
    * above the payload's own mean brightness — compared integer-exact
    * as `byteᵢ·32 >= Σbytes`, so there is no float threshold to
    * disagree on. Payload bytes ride the q54/q55 hex-domain bridge
    * (real BinaryType on the Spark side, hex arithmetic in the
    * oracle). Signatures then bucket by (kind, sig) — one groupBy +
    * one join back, the exact-dedup shape (q39) applied to media: at
    * 100 TB the signature is 4 bytes per asset and the shuffle keys
    * are fixed-width, never the payloads.
    */
  val q198 = Q(
    "q198_media_perceptual_dedup",
    (s, dir) => {
      // one codegen'd pass over the payload bytes ([[graft.functions
      // .AHash32]]). The previous higher-order formulation computed
      // bytesum as an aggregate HOF and referenced it inside the sig
      // lambda; Catalyst's projection collapse inlined the whole
      // 32-step bytesum into each of sig's 32 iterations — 32×32
      // interpreted conv/substring per row, evaluated twice (groups +
      // join) = 33 s of the sf0.1 bench for 5 000 rows. The kernel is
      // bit-identical (KernelPropSpec) and leaves the scan inside
      // whole-stage codegen.
      val sigs = graft.multimodal.MediaPipeline
        .withPayload(Tables.t(s, dir, "documents"))
        .withColumn("sig", expr("ahash32(payload)"))
        .select("doc_id", "kind", "sig")
      val groups = sigs.groupBy("kind", "sig")
        .agg(count(lit(1)).as("group_size"), min("doc_id").as("canonical"))
        .filter(col("group_size") >= 2)
      sigs.join(groups, Seq("kind", "sig"))
        .select(col("doc_id"), col("kind"), col("group_size"), col("canonical"),
          (col("doc_id") =!= col("canonical")).cast("int").as("is_dup"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars % 3 = 0 THEN 'image'
      |         WHEN n_chars % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    upper(md5(text) || md5(text || '1')) AS hexp
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, kind,
      |    [(instr('0123456789ABCDEF', substr(hexp, i*2-1, 1)) - 1) * 16
      |     + instr('0123456789ABCDEF', substr(hexp, i*2, 1)) - 1
      |     for i in generate_series(1, 32)] AS bytes
      |  FROM p),
      |s AS (
      |  SELECT doc_id, kind,
      |    CAST(list_sum([CASE WHEN bytes[i] * 32 >= list_sum(bytes)
      |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END
      |      for i in generate_series(1, 32)]) AS BIGINT) AS sig
      |  FROM b),
      |g AS (
      |  SELECT kind, sig, count(*) AS group_size, min(doc_id) AS canonical
      |  FROM s GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT s.doc_id, s.kind, g.group_size, g.canonical,
      |  CAST(s.doc_id <> g.canonical AS INTEGER) AS is_dup
      |FROM s JOIN g ON g.kind = s.kind AND g.sig = s.sig
      |ORDER BY doc_id""".stripMargin))

  val all: Vector[Q] =
    Vector(q52, q53, q54, q55, q54b, q198)
}
