package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 curation wave — completing two op families the earlier
  * rounds opened:
  *
  *   - q282 t-closeness: the third leg of the privacy-audit triad.
  *     q224's k-anonymity bounds group SIZE, q272's l-diversity
  *     bounds in-group sensitive VARIETY; t-closeness bounds how far
  *     each group's sensitive DISTRIBUTION sits from the corpus-wide
  *     one (ordered-attribute Earth Mover's Distance) — the audit
  *     that catches a group whose values are diverse but skewed
  *     toward the revealing end.
  *   - q283 ECE/reliability: the calibration metric next to q191's
  *     ROC-AUC — a ranker can have perfect AUC and useless
  *     probabilities; ECE is what a downstream
  *     filter-by-threshold pipeline actually depends on.
  *   - q285 tokenizer fertility: per-language tokens-per-word and
  *     bytes-per-token — the corpus-costing numbers a training run
  *     budgets with (token counts by source/lang exist since q44;
  *     fertility is the RATIO surface that says which languages the
  *     tokenizer serves badly).
  *
  * Same scale contract as CurationOps10: each operator reads its
  * fact table ONCE, and all the math runs on frames bounded by group
  * cardinality (QI groups × 5 priorities / 10 probability bins /
  * #langs). Exact integer (or DECIMAL(38,0)) sums feed every
  * division; doubles appear only in final rounded columns.
  */
object CurationOps11 {

  /** t-closeness audit over QI = (nation, market segment), sensitive
    * attribute = order priority (ordinal: '1-URGENT' … '5-LOW').
    * For ordered attributes the EMD between a group's distribution P
    * and the global Q has the closed form
    * (1/(m−1)) · Σᵢ |P_cum(i) − Q_cum(i)| over the m value ranks.
    * Engine-exact formulation: with group counts c (cum C), global
    * counts g (cum G), group size n, corpus size N,
    * |C/n − G/N| = |C·N − G·n| / (n·N) — the numerators are exact
    * DECIMAL(38,0) products summed exactly, and ONE final division
    * (+ round) produces t. Groups pass at the conventional t ≤ 0.2.
    *
    * Scale: one orders⋈customer pass → (QI, sens) cells; the global
    * distribution and the m-rank spine derive from the CELLS (no
    * second fact scan); the cumsum windows partition by QI group and
    * run over ≤ m rows each. The only unpartitioned window is the
    * global cumulative over the m = 5 priority ranks — a constant-
    * size frame, same contract as q273's 12-bin spine.
    */
  val q282 = Q(
    "q282_t_closeness_audit",
    (s, dir) => {
      val cells = Pins.pin(Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("sens"))
        .agg(count(lit(1)).as("cnt"))) // feeds global dist + groups + fill
      val glob = cells.groupBy("sens").agg(sum("cnt").as("g"))
        .withColumn("g_cum", sum("g").over(
          Window.orderBy("sens").rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(cells.agg(
          sum("cnt").as("big_n"),
          countDistinct("sens").as("m"))))
      val groups = cells.groupBy("nation", "segment").agg(sum("cnt").as("n"))
      val w = Window.partitionBy("nation", "segment").orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, 0)
      groups.join(broadcast(glob)) // QI groups × m ranks, zero-filled
        .join(cells, Seq("nation", "segment", "sens"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("c_cum", sum("cnt").over(w))
        .withColumn("num", abs(
          col("c_cum").cast("decimal(19,0)") * col("big_n").cast("decimal(19,0)")
            - col("g_cum").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")))
        .groupBy("nation", "segment", "n")
        .agg(sum("num").as("emd_num"), max("big_n").as("big_n"), max("m").as("m"))
        .select(col("nation"), col("segment"), col("n"),
          round(col("emd_num").cast("double") /
            (col("n").cast("double") * col("big_n").cast("double") * (col("m") - 1)),
            8).as("t_emd"))
        .withColumn("t_ok", col("t_emd") <= 0.2)
        .orderBy("nation", "segment")
    },
    Some("""WITH cells AS MATERIALIZED (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |         o_orderpriority AS sens, count(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3),
      |gdist AS (
      |  SELECT sens, g,
      |    CAST(sum(g) OVER (ORDER BY sens
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS g_cum,
      |    (SELECT CAST(sum(cnt) AS BIGINT) FROM cells) AS big_n,
      |    (SELECT count(DISTINCT sens) FROM cells) AS m
      |  FROM (SELECT sens, CAST(sum(cnt) AS BIGINT) AS g FROM cells GROUP BY 1)),
      |groups AS (
      |  SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS n
      |  FROM cells GROUP BY 1, 2),
      |filled AS (
      |  SELECT groups.nation, groups.segment, n, gdist.sens, g_cum, big_n, m,
      |    CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
      |  FROM groups CROSS JOIN gdist
      |  LEFT JOIN cells ON cells.nation = groups.nation
      |    AND cells.segment = groups.segment AND cells.sens = gdist.sens),
      |cum AS (
      |  SELECT nation, segment, n, big_n, m,
      |    abs(CAST(sum(cnt) OVER (PARTITION BY nation, segment ORDER BY sens
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
      |        * big_n - CAST(g_cum AS HUGEINT) * n) AS num
      |  FROM filled)
      |SELECT nation, segment, n,
      |  round(CAST(sum(num) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(max(big_n) AS DOUBLE) * (max(m) - 1)), 8)
      |    AS t_emd,
      |  round(CAST(sum(num) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(max(big_n) AS DOUBLE) * (max(m) - 1)), 8)
      |    <= 0.2 AS t_ok
      |FROM cum
      |GROUP BY 1, 2, 3
      |ORDER BY nation, segment""".stripMargin))

  /** Reliability diagram + expected-calibration-error contributions
    * for the SAME hashed-feature quality score q191 grades by AUC —
    * the calibration half of the classifier report. The score (a
    * 6-dp-rounded double q191's oracle already proves engine-exact)
    * is lifted to an integer micro-probability
    * pm = round(score·10⁶) + 500000 ∈ (0, 10⁶), binned into 10
    * fixed-width bins on a full spine. Per bin: count, positives,
    * mean confidence Σpm/(10⁶·n), accuracy pos/n, and the ECE
    * contribution n/N·|conf−acc| = |Σpm − 10⁶·pos| / (10⁶·N) — an
    * exact integer numerator with one final division, so the summed
    * ECE is fold-order-free. One documents scan; everything after
    * the per-doc aggregate lives on a 10-row frame.
    */
  val q283 = Q(
    "q283_ece_reliability",
    (s, dir) => {
      val s2 = s
      import s2.implicits._
      val scored = Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(Portable.tokens(col("text"))).as("tok"))
        .withColumn("w",
          (pmod(Portable.md5Long(col("tok")), lit(64)) * 37 + 11) % 97 - 48)
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
        .withColumn("score", round(
          col("wsum").cast("double") / (col("n_toks").cast("double") * 97.0), 6))
        .select(
          (round(col("score") * 1e6, 0).cast("long") + 500000L).as("pm"),
          (col("lang") === "en").cast("long").as("pos"))
      val binned = scored
        .groupBy(least(floor(col("pm") / 100000L), lit(9L)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"), sum("pm").as("pm_sum"))
      val spine = (0L to 9L).toDF("bin")
      // big_n = Σ n over the zero-filled 10-row spine — derived from
      // the binned frame itself, so the expensive tokenize/explode
      // pipeline behind `scored` executes exactly once (a separate
      // scored.count() branch would re-run it; ADVICE r11 #1).
      spine.join(binned, Seq("bin"), "left")
        .na.fill(0L, Seq("n", "n_pos", "pm_sum"))
        .withColumn("big_n", sum("n").over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("bin"), col("n"), col("n_pos"),
          when(col("n") > 0,
            round(col("pm_sum").cast("double") / (col("n") * 1e6), 6))
            .otherwise(0.0).as("avg_conf"),
          when(col("n") > 0,
            round(col("n_pos").cast("double") / col("n"), 6))
            .otherwise(0.0).as("accuracy"),
          round(abs(col("pm_sum").cast("decimal(19,0)")
              - col("n_pos").cast("decimal(19,0)") * 1000000L).cast("double")
            / (col("big_n").cast("double") * 1e6), 8).as("ece_contrib"))
        .orderBy("bin")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang, count(*) AS n_toks,
      |    CAST(sum(((${Portable.md5LongSql("tok")} % 64) * 37 + 11) % 97 - 48)
      |      AS BIGINT) AS wsum
      |  FROM toks GROUP BY 1, 2),
      |pm AS (
      |  SELECT CAST(round(round(CAST(wsum AS DOUBLE)
      |      / (CAST(n_toks AS DOUBLE) * 97.0), 6) * 1e6) AS BIGINT) + 500000 AS pm,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM scored),
      |binned AS (
      |  SELECT least(pm // 100000, 9) AS bin, count(*) AS n,
      |    CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(pm) AS BIGINT) AS pm_sum
      |  FROM pm GROUP BY 1),
      |spine AS (SELECT unnest(range(10)) AS bin),
      |big AS (SELECT count(*) AS big_n FROM pm)
      |SELECT CAST(spine.bin AS BIGINT) AS bin,
      |  CAST(coalesce(n, 0) AS BIGINT) AS n,
      |  CAST(coalesce(n_pos, 0) AS BIGINT) AS n_pos,
      |  CASE WHEN coalesce(n, 0) > 0
      |    THEN round(CAST(pm_sum AS DOUBLE) / (n * 1e6), 6) ELSE 0.0 END
      |    AS avg_conf,
      |  CASE WHEN coalesce(n, 0) > 0
      |    THEN round(CAST(n_pos AS DOUBLE) / n, 6) ELSE 0.0 END AS accuracy,
      |  round(CAST(abs(CAST(coalesce(pm_sum, 0) AS HUGEINT)
      |      - CAST(coalesce(n_pos, 0) AS HUGEINT) * 1000000) AS DOUBLE)
      |    / (CAST((SELECT big_n FROM big) AS DOUBLE) * 1e6), 8) AS ece_contrib
      |FROM spine LEFT JOIN binned ON spine.bin = binned.bin
      |ORDER BY bin""".stripMargin))

  /** Per-language tokenizer fertility: BPE-style pre-tokens (q145's
    * GPT-2-shaped regex over the lowercased text) per whitespace
    * word, and bytes per pre-token — the two ratios that price a
    * language's representation cost under a byte-level tokenizer.
    * High fertility = the tokenizer fragments that language (more
    * sequence length per word of content); bytes/token calibrates
    * token-count budgets against raw corpus size. One documents
    * scan, integer sums, two final divisions per lang row.
    */
  val q285 = Q(
    "q285_tokenizer_fertility",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("lang"),
          size(Portable.tokens(col("text"))).cast("long").as("words"),
          size(expr(
            "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
            .cast("long").as("toks"),
          octet_length(col("text")).cast("long").as("bytes"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("words").as("words"), sum("toks").as("toks"),
          sum("bytes").as("bytes"))
        .select(col("lang"), col("n_docs"), col("words"), col("toks"), col("bytes"),
          round(col("toks").cast("double") / col("words"), 6).as("fertility"),
          round(col("bytes").cast("double") / col("toks"), 6).as("bytes_per_token"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(${Portable.tokensSql("text")})) AS BIGINT) AS words,
      |  CAST(sum(len(regexp_extract_all(lower(text),
      |    '[a-z]+|[0-9]+|[^a-z0-9 ]+'))) AS BIGINT) AS toks,
      |  CAST(sum(strlen(text)) AS BIGINT) AS bytes,
      |  round(CAST(sum(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]+'))) AS DOUBLE)
      |    / sum(len(${Portable.tokensSql("text")})), 6) AS fertility,
      |  round(CAST(sum(strlen(text)) AS DOUBLE)
      |    / sum(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]+'))), 6) AS bytes_per_token
      |FROM documents
      |GROUP BY 1
      |ORDER BY lang""".stripMargin))

  val all: Vector[Q] = Vector(q282, q283, q285)
}
