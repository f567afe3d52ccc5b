package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable => P}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 second wave: the release-gate audits a training-data
  * pipeline runs AFTER the splits and batches exist — cross-split
  * near-dup contamination (the q150 exact-leakage audit's fuzzy
  * sibling), padding-waste accounting for length-bucketed batching,
  * and exact largest-remainder quota sampling per source.
  */
object CurationOps9 {

  /** Cross-split NEAR-dup contamination audit. q150 catches exact
    * duplicate text straddling the q70 train/valid/test hash split;
    * real eval contamination is mostly near-duplicates, which is why
    * release pipelines (and every public corpus card) audit the
    * split boundary with the SAME fuzzy matcher they deduped with.
    * This operator reuses q41's machinery verbatim — 16 seeded
    * min-hashes → 2 bands of 8 via the codegen'd
    * [[graft.functions.MinHashBands]] kernel, exact-Jaccard verify
    * over sorted 60-bit token hashes — but keeps ONLY candidate
    * pairs whose two docs land in different splits (the predicate
    * rides the bucket equi-join; the split column is a per-row hash
    * projection, so no extra shuffle anywhere). A pair's
    * contaminated doc is the one in the LATER pipeline stage
    * (train < valid < test): dropping it from the later split is the
    * cheapest fix, so that is the count a release decision needs.
    * Output: per split-pair, candidate pairs that verified at
    * Jaccard ≥ 0.8 and the distinct later-stage docs they implicate.
    * Scale posture = q41's: LSH bands bound candidate volume at
    * Σ bucket², never n², and the verify stage is one codegen merge
    * scan per candidate pair.
    */
  val q238 = Q(
    "q238_cross_split_contamination",
    (s, dir) => {
      val base = Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"),
          pmod(P.md5Long(concat(lit("split:"), col("doc_id").cast("string"))),
            lit(10)).as("b"),
          P.tokenSet(col("text")).as("toks"))
        .withColumn("stage",
          when(col("b") < 8, 0).when(col("b") === 8, 1).otherwise(2))
      val sigs = base.select(col("doc_id"), col("stage"),
        explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
      val cand = sigs.alias("sa").hint("shuffle_hash")
        .join(sigs.alias("sb"),
          col("sa.sig") === col("sb.sig") &&
            col("sa.doc_id") < col("sb.doc_id") &&
            col("sa.stage") =!= col("sb.stage"))
        .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"),
          col("sa.stage").as("st_a"), col("sb.stage").as("st_b"))
        .distinct()
      val toksH = base.select(col("doc_id"), P.md5Sorted(col("toks")).as("tt"))
      val names = typedLit(Seq("train", "valid", "test"))
      cand
        .join(toksH.select(col("doc_id").as("doc_a"), col("tt").as("ta")), "doc_a")
        .join(toksH.select(col("doc_id").as("doc_b"), col("tt").as("tb")), "doc_b")
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .filter(col("c") / (size(col("ta")) + size(col("tb")) - col("c")) >= 0.8)
        .select(
          least(col("st_a"), col("st_b")).as("lo"),
          greatest(col("st_a"), col("st_b")).as("hi"),
          when(col("st_a") > col("st_b"), col("doc_a"))
            .otherwise(col("doc_b")).as("late_doc"))
        .groupBy("lo", "hi")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("late_doc")).as("n_contaminated"))
        .select(element_at(names, col("lo") + 1).as("split_lo"),
          element_at(names, col("hi") + 1).as("split_hi"),
          col("n_pairs"), col("n_contaminated"))
        .orderBy("split_lo", "split_hi")
    },
    Some(s"""WITH base AS (
      |  SELECT doc_id, ${P.tokenSetSql("text")} AS toks,
      |    CASE WHEN b < 8 THEN 0 WHEN b = 8 THEN 1 ELSE 2 END AS stage
      |  FROM (SELECT doc_id, text,
      |          ${P.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 AS b
      |        FROM documents WHERE lang = 'en')),
      |${graft.functions.MinHashBands.sigsSql("base", "doc_id, stage")},
      |cand AS (
      |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
      |    sa.stage AS st_a, sb.stage AS st_b
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.band = sb.band AND sa.sig = sb.sig
      |   AND sa.doc_id < sb.doc_id AND sa.stage <> sb.stage),
      |ver AS (
      |  SELECT st_a, st_b, doc_a, doc_b
      |  FROM cand
      |  JOIN base ba ON ba.doc_id = doc_a
      |  JOIN base bb ON bb.doc_id = doc_b
      |  WHERE len(list_intersect(ba.toks, bb.toks)) /
      |        len(list_distinct(list_concat(ba.toks, bb.toks))) >= 0.8)
      |SELECT ['train', 'valid', 'test'][least(st_a, st_b) + 1] AS split_lo,
      |  ['train', 'valid', 'test'][greatest(st_a, st_b) + 1] AS split_hi,
      |  count(*) AS n_pairs,
      |  count(DISTINCT CASE WHEN st_a > st_b THEN doc_a ELSE doc_b END) AS n_contaminated
      |FROM ver GROUP BY 1, 2
      |ORDER BY split_lo, split_hi""".stripMargin))

  /** Padding-waste audit for length-bucketed batching. A training
    * job pads every sequence in a batch to the batch max, so batch
    * composition decides how many FLOPs are spent on pad tokens:
    * length-sorted batching (the dynamic-batching default) packs
    * similar lengths together; hash-order batching is the
    * random-shuffle baseline. This operator quantifies the gap on
    * the real corpus: both strategies form batches of 16 docs over a
    * TOTAL order ([[Dist.globalRank]] — order-preserving range
    * bucketing + broadcast prefix offsets, never a partition-less
    * window), and each batch pays `rows × max(len) − Σ len` pad
    * tokens (a trailing partial batch pads only to its own size).
    * Output: one row per strategy with batch count, real tokens,
    * padded-slot tokens, and the pad ratio — the number a pipeline
    * owner reads before turning on length bucketing.
    */
  val q239 = Q(
    "q239_padding_waste_audit",
    (s, dir) => {
      // both strategies rank the same frame
      val lens = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"),
          size(P.tokens(col("text"))).cast("long").as("n_toks"),
          P.md5Long(concat(lit("pack:"), col("doc_id").cast("string"))).as("hk")))
      def audit(strategy: String, order: Seq[org.apache.spark.sql.Column]) =
        Dist.globalRank(lens, order, "rnk", 32)
          .withColumn("batch", floor((col("rnk") - 1) / 16))
          .groupBy("batch")
          .agg(count(lit(1)).as("rows"), max("n_toks").as("mx"),
            sum("n_toks").as("tok"))
          .agg(count(lit(1)).as("n_batches"),
            sum("tok").as("real_tokens"),
            sum(col("rows") * col("mx")).as("padded_tokens"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("real_tokens"), col("padded_tokens"),
            round(lit(1) - col("real_tokens") / col("padded_tokens"), 6)
              .as("pad_ratio"))
      audit("hash_order", Seq(col("hk"), col("doc_id")))
        .unionAll(audit("length_sorted",
          Seq(col("n_toks").desc, col("doc_id"))))
        .orderBy("strategy")
    },
    Some(s"""WITH lens AS (
      |  SELECT doc_id, CAST(len(${P.tokensSql("text")}) AS BIGINT) AS n_toks,
      |    ${P.md5LongSql("concat('pack:', CAST(doc_id AS VARCHAR))")} AS hk
      |  FROM documents),
      |hb AS (
      |  SELECT (row_number() OVER (ORDER BY hk, doc_id) - 1) // 16 AS batch, n_toks
      |  FROM lens),
      |lb AS (
      |  SELECT (row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) // 16 AS batch, n_toks
      |  FROM lens),
      |ha AS (SELECT count(*) AS rows_, max(n_toks) AS mx, sum(n_toks) AS tok
      |       FROM hb GROUP BY batch),
      |la AS (SELECT count(*) AS rows_, max(n_toks) AS mx, sum(n_toks) AS tok
      |       FROM lb GROUP BY batch),
      |u AS (
      |  SELECT 'hash_order' AS strategy, count(*) AS n_batches,
      |    CAST(sum(tok) AS BIGINT) AS real_tokens,
      |    CAST(sum(rows_ * mx) AS BIGINT) AS padded_tokens FROM ha
      |  UNION ALL
      |  SELECT 'length_sorted', count(*), CAST(sum(tok) AS BIGINT),
      |    CAST(sum(rows_ * mx) AS BIGINT) FROM la)
      |SELECT strategy, n_batches, real_tokens, padded_tokens,
      |  round(1 - real_tokens / padded_tokens, 6) AS pad_ratio
      |FROM u ORDER BY strategy""".stripMargin))

  /** Exact per-source quota sampling by the largest-remainder
    * (Hamilton) method. q183's temperature mixing is RATE-based
    * (Bernoulli per doc — unbiased but only approximately sized);
    * when the contract is an EXACT corpus budget with exact
    * proportional allocation (dataset cards, fixed-size eval
    * corpora), the apportionment must be integer arithmetic:
    * quotaᵢ = ⌊N·nᵢ/total⌋ plus one bonus slot for the R largest
    * remainders N·nᵢ mod total (ties by source name) — every value a
    * BIGINT, so both engines agree exactly, no doubles anywhere.
    * Docs fill their source's quota in portable-hash priority order
    * (content-independent, stable under repartitioning, same
    * discipline as q70/q78). The apportionment runs on the
    * #sources-row aggregate (its global window touches ≤20 rows —
    * the q225 bounded-frame discipline); the per-source rank is a
    * partitionBy(source) window, the q26 per-group-top-k shape, with
    * the quota frame broadcast into the filter.
    */
  val q240 = Q(
    "q240_quota_sample_largest_remainder",
    (s, dir) => {
      val docs = Tables.docs(s, dir)
      val counts = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum("n_docs").as("total"),
        expr("sum(n_docs) DIV 4").as("budget"))
      // apportionment over the ≤#sources-row frame (bounded, q225
      // discipline): exact integer base + largest-remainder bonus
      val wRem = Window.orderBy(
        (col("budget") * col("n_docs") % col("total")).desc, col("source"))
      val quota = counts.crossJoin(broadcast(tot))
        .withColumn("base", expr("budget * n_docs DIV total"))
        .withColumn("spare",
          col("budget") - sum(col("base")).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("bonus",
          when(row_number().over(wRem) <= col("spare"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"),
          (col("base") + col("bonus")).as("quota"))
      val ranked = docs.select(col("source"), col("doc_id"), col("n_chars"),
        P.md5Long(concat(lit("quota:"), col("doc_id").cast("string"))).as("hk"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy("hk", "doc_id")))
      ranked.join(broadcast(quota), "source")
        .filter(col("rn") <= col("quota"))
        .groupBy("source")
        .agg(max("n_docs").as("n_docs"), max("quota").as("quota"),
          count(lit(1)).as("sel_docs"),
          sum("n_chars").cast("long").as("sel_chars"))
        .orderBy("source")
    },
    Some("""WITH counts AS (
      |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
      |               CAST(sum(n_docs) // 4 AS BIGINT) AS budget FROM counts),
      |quota AS (
      |  SELECT source, n_docs, base +
      |    CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
      |           <= budget - CAST(sum(base) OVER () AS BIGINT)
      |         THEN 1 ELSE 0 END AS quota
      |  FROM (SELECT source, n_docs, budget,
      |          budget * n_docs // total AS base,
      |          budget * n_docs % total AS rem
      |        FROM counts CROSS JOIN tot)),
      |ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |      md5long60, doc_id) AS rn
      |  FROM (SELECT source, doc_id, n_chars,
      |          MD5LONG_PLACEHOLDER AS md5long60
      |        FROM documents))
      |SELECT source, max(n_docs) AS n_docs, max(quota) AS quota,
      |  count(*) AS sel_docs, CAST(sum(n_chars) AS BIGINT) AS sel_chars
      |FROM ranked JOIN quota USING (source)
      |WHERE rn <= quota
      |GROUP BY source ORDER BY source""".stripMargin
      .replace("MD5LONG_PLACEHOLDER",
        P.md5LongSql("concat('quota:', CAST(doc_id AS VARCHAR))"))))

  val all: Vector[Q] = Vector(q238, q239, q240)
}
