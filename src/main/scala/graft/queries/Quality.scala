package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable, VectorFunctions => V}
import graft.functions.{Portable => P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data quality: language ID, heuristic, classifier and
  * trained quality scores (`qualityScore` is the shared hashed-feature
  * score), their AUC and calibration, repetition and character-class
  * checks, fluency and novelty, contamination and Bloom
  * decontamination, release drift and Pareto frontiers.
  */
object Quality {

  /** Heuristic language ID: per-language top-20 token profiles are
    * learned from the corpus itself, each document scores by profile
    * overlap, argmax wins; output is the confusion matrix.
    */
  val q45 = Q(
    "q45_lang_id_profile",
    (s, dir) => {
      val d = Tables.docs(s, dir)
      // learn per-language top-20 profiles from ONE exploded pass,
      // collapsed to 5 sorted hash arrays
      val profiles = d
        .select(col("lang"), explode(Portable.tokens(col("text"))).as("tok"))
        .groupBy(col("lang").as("plang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("plang")).orderBy(col("cnt").desc, col("tok"))))
        .filter(col("rn") <= 20)
        .groupBy("plang")
        .agg(expr("array_sort(collect_list(md5long60(tok)))").as("ptoks"))
      // scoring is per-row array math against the broadcast profiles:
      // |doc-token-set ∩ profile| via the codegen'd merge scan, argmax
      // via a map-side min(struct) — no second explode, no token-level
      // join, no per-doc window (docs with zero overlap with every
      // profile drop out, matching the oracle's inner join)
      d.select(col("doc_id"), col("lang"), Portable.tokenSet(col("text")).as("ts"))
        .withColumn("dtoks", Portable.md5Sorted(col("ts")))
        .crossJoin(broadcast(profiles))
        .withColumn("score", expr("sorted_intersect_count(dtoks, ptoks)"))
        .filter(col("score") >= 1)
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("score")).as("ns"), col("plang"))).as("best"))
        .groupBy(col("lang"), col("best.plang").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },
    Some(s"""WITH tok_all AS (
      |  SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |top AS (
      |  SELECT plang, tok FROM (
      |    SELECT lang AS plang, tok, count(*) AS cnt,
      |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rn
      |    FROM tok_all GROUP BY lang, tok)
      |  WHERE rn <= 20),
      |dtok AS (
      |  SELECT doc_id, lang, unnest(${Portable.tokenSetSql("text")}) AS tok
      |  FROM documents),
      |pred AS (
      |  SELECT doc_id, lang, plang FROM (
      |    SELECT d.doc_id, d.lang, t.plang, count(*) AS score,
      |      row_number() OVER (PARTITION BY d.doc_id
      |        ORDER BY count(*) DESC, t.plang) AS rn
      |    FROM dtok d JOIN top t ON d.tok = t.tok
      |    GROUP BY d.doc_id, d.lang, t.plang)
      |  WHERE rn = 1)
      |SELECT lang, plang AS predicted, count(*) AS n
      |FROM pred
      |GROUP BY lang, plang
      |ORDER BY lang, predicted""".stripMargin))

  /** Quality scoring: type-token ratio, stopword ratio (top-10 global
    * tokens as the stop list), length saturation — one score per doc.
    *
    * Shape: ONE explode pass learns the stop list (vocab-sized agg);
    * the per-document statistics are then pure per-row array math
    * against the broadcast 10-token stop array — no second explode,
    * no 10⁵-row join, no wide re-aggregation. All per-doc measures
    * are integers, so the derived ratios are fold-order-free.
    */
  val q46 = Q(
    "q46_quality_score",
    (s, dir) => {
      val toksDf = Tables.docs(s, dir).select(col("doc_id"),
        Portable.tokens(col("text")).as("toks"))
      // global top-10 via sort+limit (TakeOrderedAndProject: per-
      // partition heaps + a 10-row driver merge), never a partition-
      // less rank window — the vocabulary grows with the corpus, and
      // a Window.orderBy with no partition key funnels ALL of it
      // through one task (flagged by WindowExec at sf10)
      val stops = toksDf.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(10)
        .agg(collect_set(col("tok")).as("stops"))
      toksDf
        .filter(size(col("toks")) >= 1) // explode-based oracle drops token-free docs
        .crossJoin(broadcast(stops))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("nt"),
          size(array_distinct(col("toks"))).cast("long").as("ntypes"),
          expr("CAST(size(filter(toks, t -> array_contains(stops, t))) AS BIGINT)").as("stopn"),
          expr("CAST(aggregate(toks, 0L, (a, t) -> a + length(t)) AS BIGINT)").as("sumlen"))
        .withColumn("ttr", col("ntypes") / col("nt"))
        .withColumn("stop_ratio", col("stopn") / col("nt"))
        .withColumn("avg_len", col("sumlen") / col("nt"))
        .withColumn("score",
          round(lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * least(lit(1.0), col("nt") / 50), 6))
        .select(col("doc_id"), col("nt"), col("ntypes"),
          round(col("ttr"), 6).as("ttr"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("avg_len"), 6).as("avg_len"),
          col("score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok_all AS (
      |  SELECT doc_id, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |stop AS (
      |  SELECT tok AS stok FROM (
      |    SELECT tok, count(*) AS cnt,
      |      row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
      |    FROM tok_all GROUP BY tok)
      |  WHERE rn <= 10),
      |per_doc AS (
      |  SELECT doc_id, count(*) AS nt, count(DISTINCT tok) AS ntypes,
      |    CAST(sum(CASE WHEN stok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stopn,
      |    CAST(sum(length(tok)) AS BIGINT) AS sumlen
      |  FROM tok_all LEFT OUTER JOIN stop ON tok = stok
      |  GROUP BY doc_id)
      |SELECT doc_id, nt, ntypes,
      |  round(ntypes / nt, 6) AS ttr,
      |  round(stopn / nt, 6) AS stop_ratio,
      |  round(sumlen / nt, 6) AS avg_len,
      |  round(0.4 * (ntypes / nt) + 0.3 * (1.0 - stopn / nt) +
      |        0.3 * least(1.0, nt / 50), 6) AS score
      |FROM per_doc
      |ORDER BY doc_id""".stripMargin))

  /** Intra-document repetition metrics (the Gopher/MassiveText
    * quality rules): duplicate-token ratio, most-frequent-token
    * share, and duplicate-bigram ratio, per document. Token counts
    * ride one explode+aggregate on doc_id; the bigram measure is
    * per-row array math (q43's zip_with shingling) joined back — all
    * integer-derived ratios, fold-order-free.
    */
  val q102 = Q(
    "q102_repetition_stats",
    (s, dir) => {
      val base = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val tokStats = base
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").cast("long").as("nt"),
          count(lit(1)).as("ntypes"),
          max("cnt").cast("long").as("topcnt"))
      val bigrams = base.select(
        col("doc_id"),
        (size(col("toks")) - 1).cast("long").as("n2"),
        // one-pass kernel: counts distinct bigram STRINGS without
        // ever materialising the bigram array
        expr("distinct_bigram_count(toks)").cast("long").as("n2d"))
      tokStats.join(bigrams, "doc_id")
        .select(col("doc_id"), col("nt"),
          round(lit(1.0) - col("ntypes") / col("nt"), 6).as("dup_token_ratio"),
          round(col("topcnt") / col("nt"), 6).as("top_token_share"),
          round(lit(1.0) - col("n2d") / col("n2"), 6).as("dup_bigram_ratio"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents),
      |base AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM t WHERE len(toks) >= 2),
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
      |tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |ts AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nt, count(*) AS ntypes,
      |    CAST(max(cnt) AS BIGINT) AS topcnt
      |  FROM tc GROUP BY 1),
      |bg AS (
      |  SELECT doc_id,
      |    CAST(len(toks) - 1 AS BIGINT) AS n2,
      |    CAST(len(list_distinct(list_transform(range(1, CAST(len(toks) AS BIGINT)),
      |      i -> toks[i] || ' ' || toks[i + 1]))) AS BIGINT) AS n2d
      |  FROM base)
      |SELECT ts.doc_id, ts.nt,
      |  round(1.0 - ntypes / ts.nt, 6) AS dup_token_ratio,
      |  round(topcnt / ts.nt, 6) AS top_token_share,
      |  round(1.0 - n2d / n2, 6) AS dup_bigram_ratio
      |FROM ts JOIN bg ON ts.doc_id = bg.doc_id
      |ORDER BY ts.doc_id""".stripMargin))

  /** Benchmark-contamination screen: a held-out "benchmark" slice
    * (deterministic 2% hash split) is fingerprinted by its distinct
    * 8-char shingle hashes (q47's shingling); every corpus document
    * reports how many of its shingles appear in ANY benchmark doc.
    * The benchmark fingerprint set is tiny by construction, so the
    * probe is a broadcast left join — the corpus side never
    * shuffles, which is what makes decontaminating 100 TB against a
    * fixed eval suite cheap.
    */
  val q103 = Q(
    "q103_contamination_check",
    (s, dir) => {
      val sh = Tables.docs(s, dir)
        .filter(length(col("text")) >= 8)
        .withColumn("is_bench",
          pmod(Portable.md5Long(concat(lit("bench:"), col("doc_id").cast("string"))),
            lit(50)) === 0)
        // distinct 8-char-window hashes in one kernel pass (the HOF
        // form materialised every window string before hashing)
        .select(col("doc_id"), col("is_bench"),
          explode(expr("char_shingle_hashes(text, 8)")).as("h"))
      val bench = sh.filter(col("is_bench")).select(col("h").as("bh")).distinct()
      sh.filter(!col("is_bench"))
        .join(broadcast(bench), col("h") === col("bh"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("bh").isNotNull, 1L).otherwise(0L)).cast("long").as("n_hit"))
        .withColumn("hit_ratio", round(col("n_hit") / col("n_sh"), 6))
        .withColumn("contaminated",
          (col("n_hit") / col("n_sh") >= 0.6).cast("int"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
      |  SELECT doc_id,
      |    ${Portable.md5LongSql("concat('bench:', CAST(doc_id AS VARCHAR))")} % 50 = 0 AS is_bench,
      |    ${Portable.md5LongSql("s")} AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |        range(1, CAST(length(text) AS BIGINT) - 6),
      |        i -> substr(text, CAST(i AS INTEGER), 8)))) AS s
      |    FROM documents WHERE length(text) >= 8)),
      |bh AS (SELECT DISTINCT h FROM sh WHERE is_bench),
      |corp AS (SELECT doc_id, h FROM sh WHERE NOT is_bench)
      |SELECT corp.doc_id, count(*) AS n_sh,
      |  CAST(sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
      |  round(sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS hit_ratio,
      |  CAST(sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END) / count(*) >= 0.6 AS INTEGER) AS contaminated
      |FROM corp LEFT OUTER JOIN bh ON corp.h = bh.h
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Per-language quality gate: keep each language's top half of
    * documents by type-token ratio. The gate is RANK-based (discrete
    * — keep rank ≤ ⌈n/2⌉ by (ttr desc, doc_id)), not an interpolated
    * median: comparing two docs' ttr is safe across engines (both
    * compute the same single division), whereas `x >= quantile_cont`
    * compares against an engine-interpolated value whose last ulp is
    * fold-order-dependent. One window shuffle on the language key.
    */
  val q105 = Q(
    "q105_quality_gate",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(Portable.tokens(col("text"))).cast("long").as("nt"),
          size(Portable.tokenSet(col("text"))).cast("long").as("ntypes"))
        .filter(col("nt") >= 1)
        .withColumn("ttr", col("ntypes") / col("nt"))
      val w = Window.partitionBy("lang")
      d.withColumn("rn", row_number().over(
          w.orderBy(col("ttr").desc, col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("keep", col("rn") <= ceil(col("n") / 2))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
          sum(when(col("keep"), col("nt"))).cast("long").as("kept_tokens"),
          round(min(when(col("keep"), col("ttr"))), 6).as("gate_ttr"))
        .orderBy("lang")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS nt,
      |    CAST(len(${Portable.tokenSetSql("text")}) AS BIGINT) AS ntypes
      |  FROM documents
      |  WHERE len(${Portable.tokensSql("text")}) >= 1),
      |r AS (
      |  SELECT doc_id, lang, nt, ntypes / nt AS ttr,
      |    row_number() OVER (PARTITION BY lang ORDER BY ntypes / nt DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM d)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN rn <= ceil(n / 2.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn <= ceil(n / 2.0) THEN nt END) AS BIGINT) AS kept_tokens,
      |  round(min(CASE WHEN rn <= ceil(n / 2.0) THEN ttr END), 6) AS gate_ttr
      |FROM r
      |GROUP BY lang
      |ORDER BY lang""".stripMargin))

  /** L4+ bigram-LM fluency score (the cheap perplexity-filter proxy):
    * corpus bigram/unigram counts with add-one smoothing, each doc
    * scored by its mean conditional probability. Both count tables
    * are vocabulary-bounded (≤|V|² rows) → broadcast joins; the only
    * big shuffle is the per-doc average.
    */
  val q117 = Q(
    "q117_bigram_lm_score",
    (s, dir) => {
      val ts = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      // one codegen'd pass per row ([[graft.functions.BigramStrings]])
      // instead of two interpreted slices + a boxed lambda per bigram
      val bg = ts.select(col("doc_id"), explode(expr("bigram_strings(toks)")).as("bg"))
      val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = ts.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      val v = c1.agg(count(lit(1)).as("v"))
      // c2 (distinct bigrams) and c1 (vocabulary) grow with the
      // corpus toward O(total tokens) — no broadcast hint on them: a
      // forced broadcast would hit the 8 GB table limit at the 100 TB
      // design point, while AQE picks broadcast-vs-shuffle from the
      // measured size at runtime. Only the single-row v is pinned.
      bg.join(c2, "bg")
        .join(c1, split_part(col("bg"), lit(" "), lit(1)) === col("tok"))
        .crossJoin(broadcast(v))
        .withColumn("p", (col("c2") + lit(1.0)) / (col("c1") + col("v")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(avg("p"), 6).as("lm_score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, toks FROM (
      |    SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM ts),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
      |c1 AS (SELECT tok, count(*) AS c1
      |       FROM (SELECT unnest(toks) AS tok FROM ts) GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM c1)
      |SELECT doc_id, count(*) AS n_bigrams, round(avg((c2 + 1.0) / (c1 + v)), 6) AS lm_score
      |FROM bg JOIN c2 USING (bg)
      |JOIN c1 ON split_part(bg, ' ', 1) = tok
      |CROSS JOIN v
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** L4+ shingle novelty: the fraction of each doc's distinct bigram
    * shingles whose FIRST corpus occurrence (min doc_id) is this doc
    * — the streaming-ingest "how much of this is new text" score.
    * One groupBy over exploded shingle hashes (never the strings),
    * one join back; both sides fixed-width longs.
    */
  val q119 = Q(
    "q119_shingle_novelty",
    (s, dir) => {
      val ex = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .withColumn("hs", expr("bigram_hashes(toks)"))
        .select(col("doc_id"), explode(col("hs")).as("h"))
      val firsts = ex.groupBy("h").agg(min("doc_id").as("first_doc"))
      ex.join(firsts, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
        .select(col("doc_id"), col("n_shingles"),
          round(col("novel") / col("n_shingles"), 6).as("novel_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, CAST(len(toks) AS BIGINT)), i -> toks[i] || ' ' || toks[i + 1]))) AS sh
      |  FROM ts WHERE len(toks) >= 2),
      |firsts AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT doc_id, count(*) AS n_shingles,
      |  round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) / count(*), 6) AS novel_frac
      |FROM sh JOIN firsts USING (sh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** L13+ per-language score calibration: percent_rank within each
    * language over a deterministic key (n_chars, doc_id), cut into
    * deciles. Rank-based (no float thresholds), so the decile
    * boundaries are identical on any engine and any partitioning.
    */
  val q121 = Q(
    "q121_quantile_calibrate",
    (s, dir) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      Tables.t(s, dir, "documents")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("decile", least(floor(col("pr") * 10), lit(9L)).cast("int"))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang", "decile")
    },
    Some("""WITH pr AS (
      |  SELECT lang, doc_id, n_chars,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
      |  FROM documents)
      |SELECT lang, CAST(least(floor(pr * 10), 9) AS INTEGER) AS decile,
      |  count(*) AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM pr
      |GROUP BY 1, 2
      |ORDER BY lang, decile""".stripMargin))

  /** q184's per-doc score `(doc_id, lang, n_toks, wsum, score)`, which
    * q191 grades by AUC and q283 by calibration.
    */
  private def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Portable.tokens(col("text"))).as("tok"))
      .withColumn("w",
        (pmod(Portable.md5Long(col("tok")), lit(64)) * 37 + 11) % 97 - 48)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
      .withColumn("score", round(
        col("wsum").cast("double") / (col("n_toks").cast("double") * 97.0), 6))

  /** DuckDB twin of [[qualityScore]] before the score: CTEs `toks` and
    * `scored(doc_id, lang, n_toks, wsum)`.
    */
  private def qualityScoreSql: String =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, count(*) AS n_toks,
       |    CAST(sum(((${Portable.md5LongSql("tok")} % 64) * 37 + 11) % 97 - 48)
       |      AS BIGINT) AS wsum
       |  FROM toks GROUP BY 1, 2)""".stripMargin

  /** Learned linear quality classifier with feature hashing — the
    * fasttext-style model-based filter of the GPT-3/LLaMA data
    * recipes, re-expressed as a pure dataflow: tokens hash into 64
    * feature buckets, each bucket carries a weight, and the per-doc
    * score is the normalized weighted sum. The weights here derive
    * from the bucket id by a fixed integer formula so the oracle can
    * replay them; in production they'd be an offline-trained model
    * broadcast exactly the same way (O(buckets) values).
    *
    * Determinism by integer math: weights are integers in [-48, 48],
    * the per-doc accumulation is an exact BIGINT sum, and the single
    * double division at the end divides identical integers — no
    * float fold anywhere. Scale: explode + one doc_id-keyed
    * aggregation with map-side combine; no joins.
    */
  val q184 = Q(
    "q184_quality_classifier",
    (s, dir) => {
      qualityScore(s, dir)
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
        .select("doc_id", "lang", "n_toks", "score", "keep")
        .orderBy("doc_id")
    },
    Some(s"""WITH $qualityScoreSql,
      |final AS (
      |  SELECT doc_id, lang, n_toks,
      |    round(CAST(wsum AS DOUBLE) / (CAST(n_toks AS DOUBLE) * 97.0), 6) AS score
      |  FROM scored)
      |SELECT doc_id, lang, n_toks, score,
      |  CASE WHEN score > 0 THEN 1 ELSE 0 END AS keep
      |FROM final ORDER BY doc_id""".stripMargin))

  /** Rank-based ROC-AUC (Mann-Whitney U) of the q184 hashed-feature
    * quality score against a held-out binary label (lang = 'en'),
    * computed WITHOUT a single-partition rank window: scores are
    * pre-aggregated to distinct values (one shuffle), and the
    * cumulative negative count below each score comes from
    * [[Dist.globalCumsumBy]]'s range-bucketed cumsum — O(#buckets)
    * driver rows, never a global sort on one reducer. All terms stay
    * exact integers until the single final division (ties contribute
    * half a pair via the 2U formulation), so the statistic is
    * fold-order-free at any corpus size.
    */
  val q191 = Q(
    "q191_classifier_auc",
    (s, dir) => {
      val scored = qualityScore(s, dir)
        .withColumn("pos", (col("lang") === "en").cast("long"))
      val byScore = scored.groupBy("score")
        .agg(sum(col("pos")).as("n_pos"),
          sum(lit(1L) - col("pos")).as("n_neg"))
      Dist.globalCumsumBy(byScore, Seq(col("score")), Seq("n_neg"),
          s.sparkContext.defaultParallelism)
        .agg(
          sum(col("n_pos") *
            (lit(2L) * (col("n_neg_cum") - col("n_neg")) + col("n_neg")))
            .as("twice_u"),
          sum(col("n_pos")).as("np"),
          sum(col("n_neg")).as("nn"))
        .select(col("np"), col("nn"),
          round(col("twice_u").cast("double") /
            (lit(2.0) * col("np") * col("nn")), 6).as("auc"))
        .withColumn("gini", round(col("auc") * 2 - 1, 6))
    },
    Some(s"""WITH ${qualityScoreSql},
      |sc AS (
      |  SELECT round(CAST(wsum AS DOUBLE) / (CAST(n_toks AS DOUBLE) * 97.0), 6) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM scored),
      |bys AS (
      |  SELECT score, CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - pos) AS BIGINT) AS n_neg
      |  FROM sc GROUP BY 1),
      |cum AS (
      |  SELECT n_pos, n_neg,
      |    CAST(sum(n_neg) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_neg_cum
      |  FROM bys),
      |u AS (
      |  SELECT CAST(sum(n_pos * (2 * (n_neg_cum - n_neg) + n_neg)) AS BIGINT) AS twice_u,
      |    CAST(sum(n_pos) AS BIGINT) AS np, CAST(sum(n_neg) AS BIGINT) AS nn
      |  FROM cum)
      |SELECT np, nn,
      |  round(CAST(twice_u AS DOUBLE) / (2.0 * np * nn), 6) AS auc,
      |  round(round(CAST(twice_u AS DOUBLE) / (2.0 * np * nn), 6) * 2 - 1, 6) AS gini
      |FROM u""".stripMargin))

  /** Character-class QC profile per language: encoding damage shows
    * up as mass outside the expected classes (mojibake, control
    * bytes, stray punctuation), so the gate is the ratio of
    * non-[a-z ] characters. All aggregates are exact integer sums
    * with one final division — no float fold-order hazard.
    */
  val q200 = Q(
    "q200_charclass_profile",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("lang"),
          length(col("text")).as("len"),
          length(regexp_replace(col("text"), "[^a-z]", "")).as("alpha"),
          length(regexp_replace(col("text"), "[^ ]", "")).as("sp"))
        .withColumn("other", col("len") - col("alpha") - col("sp"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum("alpha") / sum("len"), 6).as("alpha_ratio"),
          round(sum("sp") / sum("len"), 6).as("space_ratio"),
          sum("other").cast("long").as("other_chars"),
          (sum("other") === 0).as("clean"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
      |  round(sum(alpha) / CAST(sum(len) AS DOUBLE), 6) AS alpha_ratio,
      |  round(sum(sp) / CAST(sum(len) AS DOUBLE), 6) AS space_ratio,
      |  CAST(sum(other) AS BIGINT) AS other_chars,
      |  sum(other) = 0 AS clean
      |FROM (SELECT lang, length(text) AS len,
      |        length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha,
      |        length(regexp_replace(text, '[^ ]', '', 'g')) AS sp,
      |        length(text) - length(regexp_replace(text, '[^a-z]', '', 'g'))
      |          - length(regexp_replace(text, '[^ ]', '', 'g')) AS other
      |      FROM documents)
      |GROUP BY 1 ORDER BY lang""".stripMargin))

  /** Bloom-filter decontamination: the eval split (doc_id % 10 = 0)
    * is fingerprinted by word-5-gram hashes, but instead of
    * broadcasting the exact fingerprint SET (q103's shape — fine for
    * a fixed benchmark, unbounded for a 20%-of-corpus eval split),
    * only its BLOOM BITS broadcast: each 60-bit hash sets three
    * 16-bit positions (pure integer arithmetic — no second hash
    * round), a constant ≤3×2¹⁶-row table at ANY corpus size. Train
    * shingles whose three bits all hit are candidates; candidates
    * alone pay the exact-confirm shuffle join. Output per train doc:
    * shingle count, bloom candidates, confirmed hits — so the
    * false-positive mass the bloom admits is audited in the result
    * itself, per the no-silent-caps rule.
    */
  val q228 = Q(
    "q228_bloom_decontaminate",
    (s, dir) => {
      // pin the shingled frame ONCE: the query reads it along four
      // branches (bloom bits, eval hashes, candidate probe, per-doc
      // shingle counts), and without the checkpoint each branch
      // re-tokenizes, re-explodes and re-distincts the full corpus —
      // the sf0.01 plan showed 12 parquet scans and ZERO reused
      // exchanges (the eval/train filters sit below the distinct, so
      // the exchange subtrees never match). Only (doc_id, h) is
      // pinned; the bloom bit columns are two-instruction bit ops
      // recomputed per scan of the cached blocks.
      val sh0 = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), P.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', slice(toks, i, 5)))"))
          .as("g"))
        .select(col("doc_id"), P.md5Long(col("g")).as("h"))
        .distinct())
      // true integer bit extraction (h is a non-negative 60-bit
      // hash): shiftright+mask, never `/` — both engines' `/`
      // promote to IEEE double, whose 53-bit mantissa would bend
      // b2/b3 near rounding boundaries (ADVICE r6)
      val sh = sh0
        .withColumn("b1", col("h").bitwiseAND(lit(65535L)))
        .withColumn("b2", shiftright(col("h"), 16).bitwiseAND(lit(65535L)))
        .withColumn("b3", shiftright(col("h"), 32).bitwiseAND(lit(65535L)))
      val isEval = pmod(col("doc_id"), lit(10)) === 0
      val evalSh = sh.filter(isEval)
      val bits = evalSh.select(explode(array(col("b1"), col("b2"), col("b3")))
        .as("bit")).distinct()
      val train = sh.filter(!isEval)
      val candidates = train
        .join(broadcast(bits.select(col("bit").as("x1"))), col("b1") === col("x1"), "left_semi")
        .join(broadcast(bits.select(col("bit").as("x2"))), col("b2") === col("x2"), "left_semi")
        .join(broadcast(bits.select(col("bit").as("x3"))), col("b3") === col("x3"), "left_semi")
      val confirmed = candidates
        .join(evalSh.select(col("h").as("eh")).distinct(),
          col("h") === col("eh"), "left_outer")
      confirmed
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("eh").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("n_confirmed"))
        .join(train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles")),
          Seq("doc_id"), "right_outer")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, ${P.md5LongSql("g")} AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      range(1, CAST(len(toks) AS BIGINT) - 3),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS g
      |    FROM (SELECT doc_id, ${P.tokensSql("text")} AS toks FROM documents)
      |    WHERE len(toks) >= 5)),
      |shb AS (
      |  SELECT doc_id, h, h & 65535 AS b1,
      |    (h >> 16) & 65535 AS b2,
      |    (h >> 32) & 65535 AS b3
      |  FROM sh),
      |bits AS (
      |  SELECT DISTINCT unnest([b1, b2, b3]) AS bit
      |  FROM shb WHERE doc_id % 10 = 0),
      |train AS (SELECT * FROM shb WHERE doc_id % 10 <> 0),
      |cand AS (
      |  SELECT * FROM train
      |  WHERE b1 IN (SELECT bit FROM bits)
      |    AND b2 IN (SELECT bit FROM bits)
      |    AND b3 IN (SELECT bit FROM bits)),
      |ev AS (SELECT DISTINCT h FROM shb WHERE doc_id % 10 = 0),
      |conf AS (
      |  SELECT c.doc_id, count(*) AS n_candidates,
      |    CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_confirmed
      |  FROM cand c LEFT OUTER JOIN ev ON c.h = ev.h
      |  GROUP BY 1)
      |SELECT t.doc_id, count(*) AS n_shingles,
      |  coalesce(any_value(conf.n_candidates), 0) AS n_candidates,
      |  coalesce(any_value(conf.n_confirmed), 0) AS n_confirmed
      |FROM train t LEFT OUTER JOIN conf ON t.doc_id = conf.doc_id
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin))

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

  /** Skyline / Pareto frontier (Börzsönyi et al., ICDE'01): documents
    * not dominated in (type-token ratio ↑, length ↑) — the corpus-
    * curation shortlist of "long AND lexically rich" docs no weighted
    * score can rank away. 2-d dominance collapses to a prefix
    * maximum: d survives iff its length equals the max length at its
    * exact TTR AND strictly exceeds the max length over all higher
    * TTRs. The TTR is rounded to 4dp, so the per-TTR aggregate frame
    * is ≤ 10,001 rows at ANY corpus size — the partition-less
    * cumulative-max window runs over that bounded frame, never the
    * corpus (same bounded-frame argument as q225). Scale shape: one
    * groupBy over the corpus, one ≤10k-row window, one semi-join
    * back. Ties on both dims all survive (neither strictly
    * dominates). Output carries the dominated count so the frontier's
    * selectivity is auditable.
    */
  val q248 = Q(
    "q248_skyline_pareto_docs",
    (s, dir) => {
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          P.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("n_chars"),
          round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 4).as("ttr"))
      // per-TTR max length: ≤ 10,001 rows by construction (4dp ratio)
      val g = d.groupBy("ttr").agg(max(col("n_chars")).as("gmax"))
        .withColumn("pmax", max(col("gmax")).over(
          Window.orderBy(col("ttr").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("pmax").isNull || col("gmax") > col("pmax"))
        .select(col("ttr"), col("gmax"))
      val sky = d.join(g,
        d("ttr") === g("ttr") && d("n_chars") === g("gmax"), "left_semi")
      val tot = d.agg(count(lit(1)).as("n_docs"))
      sky.crossJoin(broadcast(sky.agg(count(lit(1)).as("n_sky"))
          .crossJoin(tot)
          .select(col("n_sky"), (col("n_docs") - col("n_sky")).as("n_dominated"))))
        .select(col("doc_id"), col("ttr"), col("n_chars"), col("n_dominated"))
        .orderBy(col("ttr").desc, col("doc_id"))
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, n_chars,
      |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
      |      AS ttr
      |  FROM (SELECT doc_id, n_chars, ${P.tokensSql("text")} AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 1),
      |g AS (
      |  SELECT ttr, gmax FROM (
      |    SELECT ttr, max(n_chars) AS gmax,
      |      max(max(n_chars)) OVER (ORDER BY ttr DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |    FROM d GROUP BY ttr)
      |  WHERE pmax IS NULL OR gmax > pmax),
      |sky AS (
      |  SELECT d.doc_id, d.ttr, d.n_chars FROM d
      |  JOIN g ON d.ttr = g.ttr AND d.n_chars = g.gmax)
      |SELECT doc_id, ttr, n_chars,
      |  (SELECT count(*) FROM d) - (SELECT count(*) FROM sky) AS n_dominated
      |FROM sky
      |ORDER BY ttr DESC, doc_id""".stripMargin))

  /** Population-stability index between the pre-1997 order snapshot
    * and the 1997+ delta, over 12 fixed 50k-wide total-price bands
    * (top band open). Add-one smoothing keeps empty bands finite in
    * both engines AND on a full bin spine, so the artifact always has
    * exactly 12 attributable rows. PSI reads: <0.1 stable, 0.1–0.25
    * drifting, >0.25 action. Per-band contributions are emitted so
    * the total attributes to the bands that moved.
    */
  val q273 = Q(
    "q273_psi_release_drift",
    (s, dir) => {
      val s2 = s
      import s2.implicits._
      val cut = to_date(lit("1997-01-01"))
      val binned = Tables.t(s, dir, "orders")
        .select(least(floor(col("o_totalprice") / 50000), lit(11)).cast("long").as("bin"),
          (col("o_orderdate") < cut).as("is_base"))
        .groupBy("bin")
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
          sum(when(col("is_base"), 0L).otherwise(1L)).as("n_new"))
      val spine = (0L to 11L).toDF("bin")
      val totals = binned.agg(sum("n_base").as("tb"), sum("n_new").as("tn"))
      spine.join(binned, Seq("bin"), "left")
        .na.fill(0L, Seq("n_base", "n_new"))
        .crossJoin(broadcast(totals))
        .select(col("bin"), col("n_base"), col("n_new"),
          ((col("n_base") + 1) / (col("tb") + 12)).as("pb"),
          ((col("n_new") + 1) / (col("tn") + 12)).as("pn"))
        .select(col("bin"), col("n_base"), col("n_new"),
          round(col("pb"), 6).as("p_base"), round(col("pn"), 6).as("p_new"),
          round((col("pn") - col("pb")) * log(col("pn") / col("pb")), 8)
            .as("psi_contrib"))
        .orderBy("bin")
    },
    Some("""WITH binned AS (
      |  SELECT CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bin,
      |    sum(CASE WHEN o_orderdate < DATE '1997-01-01' THEN 1 ELSE 0 END) AS n_base,
      |    sum(CASE WHEN o_orderdate < DATE '1997-01-01' THEN 0 ELSE 1 END) AS n_new
      |  FROM orders GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 12)) AS bin),
      |filled AS (
      |  SELECT spine.bin,
      |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
      |    CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
      |  FROM spine LEFT JOIN binned ON spine.bin = binned.bin),
      |t AS (SELECT sum(n_base) AS tb, sum(n_new) AS tn FROM filled),
      |p AS (SELECT bin, n_base, n_new,
      |    CAST(n_base + 1 AS DOUBLE) / (SELECT tb + 12 FROM t) AS pb,
      |    CAST(n_new + 1 AS DOUBLE) / (SELECT tn + 12 FROM t) AS pn
      |  FROM filled)
      |SELECT bin, n_base, n_new,
      |  round(pb, 6) AS p_base, round(pn, 6) AS p_new,
      |  round((pn - pb) * ln(pn / pb), 8) AS psi_contrib
      |FROM p ORDER BY bin""".stripMargin))

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
      val scored = qualityScore(s, dir)
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
    Some(s"""WITH ${qualityScoreSql},
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

  /* Skyline / Pareto-frontier selection — the
    * multi-criteria preference query. Curation rules that cut on one
    * score (q105's gate, q226's MMR) answer "best by THIS metric";
    * the skyline answers "not beaten on ALL metrics at once" — the
    * candidate set a human reviews when no single weighting is agreed
    * (classic preference-query operator: Börzsönyi et al., "The
    * Skyline Operator", ICDE 2001).
    */

  /** Per-language Pareto frontier of (token count, distinct-token
    * count): a document is on the frontier iff no same-language
    * document has BOTH ≥ tokens and ≥ types with at least one
    * strict — the "long AND lexically rich" shortlist.
    *
    * Scale shape — the skyline WITHOUT the Θ(n²) dominance
    * self-join: one documents scan computes (toks, types) per doc
    * (pinned once — it feeds the cell aggregate AND the final
    * membership join, the r10 multi-branch rule); cells collapse to
    * one row per (lang, toks) with the max types (bounded by
    * #langs × distinct doc lengths, NOT corpus size); a running max
    * over each language's cells ordered by toks DESC marks frontier
    * cells (a cell survives iff its max-types strictly beats every
    * longer cell's — same-length lower-types docs are dominated by
    * the cell max, equal (toks, types) ties all survive, neither
    * strictly dominating); the tiny frontier broadcasts back onto
    * the per-doc frame for membership. The per-lang window runs over
    * the CELL frame, never the corpus.
    */
  val q288 = Q(
    "q288_pareto_frontier",
    (s, dir) => {
      // feeds cells + the membership join
      val perDoc = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(Portable.tokens(col("text"))).cast("long").as("toks"),
          size(Portable.tokenSet(col("text"))).cast("long").as("types")))
      val cells = perDoc.groupBy("lang", "toks").agg(max("types").as("types"))
      val wLonger = Window.partitionBy("lang").orderBy(col("toks").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = cells
        .withColumn("best_longer", max("types").over(wLonger))
        .filter(col("best_longer").isNull || col("types") > col("best_longer"))
        .select("lang", "toks", "types")
      perDoc.join(broadcast(frontier), Seq("lang", "toks", "types"))
        .select("doc_id", "lang", "toks", "types")
        .orderBy("lang", "toks", "doc_id")
    },
    Some(s"""WITH per_doc AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |    CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS toks,
      |    CAST(len(${Portable.tokenSetSql("text")}) AS BIGINT) AS types
      |  FROM documents),
      |cells AS (
      |  SELECT lang, toks, max(types) AS types FROM per_doc GROUP BY 1, 2),
      |fr AS (
      |  SELECT lang, toks, types FROM (
      |    SELECT lang, toks, types,
      |      max(types) OVER (PARTITION BY lang ORDER BY toks DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_longer
      |    FROM cells)
      |  WHERE best_longer IS NULL OR types > best_longer)
      |SELECT doc_id, lang, toks, types
      |FROM per_doc JOIN fr USING (lang, toks, types)
      |ORDER BY lang, toks, doc_id""".stripMargin))

  val all: Vector[Q] =
    Vector(q45, q46, q102, q103, q105, q117, q119, q121, q184, q191, q200,
      q228, q238, q248, q273, q283, q288)
}
