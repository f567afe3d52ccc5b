package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import graft.functions.{Portable => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The corpus pipeline from split to release: hash splits, stratified
  * and k-fold splits, priority, quota and temperature sampling,
  * mixture weights and token budgets, source caps, curriculum phases,
  * MMR selection, interleaved shuffles, gate funnels, the end-to-end
  * preparation pipeline, JSONL export, corpus diffs, release
  * manifests and release diffs.
  */
object Pipeline {

  /* Training-data pipeline operators (SURVEY.md §2.13 / BASELINE
    * north-star): deterministic dataset splitting and stratified
    * sampling.
    *
    * Scale notes: every operator is a constant number of shuffles over
    * key-partitioned data — no driver-side collection, no O(n²) pair
    * spaces. Pseudo-randomness (splits, samples) is the portable
    * md5-based hash ([[Portable.md5Long]]) so results are reproducible
    * across engines, runs, AND cluster sizes — the property a 100 TB
    * train/eval split must have (re-running the split on different
    * hardware must not move documents between splits).
    */

  /** Deterministic train/valid/test split by content-independent hash
    * of the stable document id (80/10/10). Hash-mod splitting is the
    * canonical scale-out form: stateless, shuffle-free (the split
    * column is a per-row projection), and stable under re-partitioning.
    */
  val q70 = Q(
    "q70_hash_split",
    (s, dir) => {
      Tables.docs(s, dir)
        .withColumn("b",
          pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))), lit(10)))
        .withColumn("split",
          when(col("b") < 8, "train").when(col("b") === 8, "valid").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("lang", "split")
    },
    Some(s"""SELECT lang,
      |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM (SELECT lang, n_chars,
      |        ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 AS b
      |      FROM documents)
      |GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin))

  /** Stratified deterministic sample: 10 documents per language,
    * chosen by portable hash order — reproducible across engines and
    * cluster layouts, unlike TABLESAMPLE/rand(). Per-group top-k over
    * one shuffle on the stratum key.
    */
  val q78 = Q(
    "q78_stratified_sample",
    (s, dir) => {
      Tables.docs(s, dir)
        .withColumn("hk",
          Portable.md5Long(concat(lit("samp:"), col("doc_id").cast("string"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy("lang", "rn")
    },
    Some(s"""SELECT lang, doc_id, rn FROM (
      |  SELECT lang, doc_id, CAST(row_number() OVER (
      |    PARTITION BY lang
      |    ORDER BY ${Portable.md5LongSql("concat('samp:', CAST(doc_id AS VARCHAR))")}, doc_id)
      |    AS INTEGER) AS rn
      |  FROM documents)
      |WHERE rn <= 10
      |ORDER BY lang, rn""".stripMargin))

  /** Capstone corpus health report per source: volume, language
    * spread, duplicate rate (via the normalized content key), size,
    * and dominant language — the one-page summary a data curator
    * pulls before admitting a source into training.
    */
  val q99 = Q(
    "q99_corpus_report",
    (s, dir) => {
      val d = Tables.docs(s, dir).withColumn("ck",
        Portable.md5Long(array_join(array_sort(Portable.tokenSet(col("text"))), " ")))
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        countDistinct("ck").as("n_unique"),
        round(avg("n_chars"), 4).as("avg_chars"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("n_unique") / col("n_docs"), 6))
      val topLang = d.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("cnt").desc, col("lang"))))
        .filter(col("rn") === 1)
        .select(col("source").as("s2"), col("lang").as("top_lang"))
      base.join(topLang, col("source") === col("s2"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("dup_rate"), col("avg_chars"), col("top_lang"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (
      |  SELECT source, lang, n_chars,
      |    ${Portable.md5LongSql(s"array_to_string(list_sort(${Portable.tokenSetSql("text")}), ' ')")} AS ck
      |  FROM documents),
      |base AS (
      |  SELECT source, count(*) AS n_docs,
      |    count(DISTINCT lang) AS n_langs,
      |    count(DISTINCT ck) AS n_unique,
      |    round(avg(n_chars), 4) AS avg_chars
      |  FROM d GROUP BY 1),
      |top AS (
      |  SELECT source, lang AS top_lang FROM (
      |    SELECT source, lang, count(*) AS cnt,
      |      row_number() OVER (PARTITION BY source
      |        ORDER BY count(*) DESC, lang) AS rn
      |    FROM d GROUP BY source, lang)
      |  WHERE rn = 1)
      |SELECT source, n_docs, n_langs,
      |  round(1.0 - n_unique / n_docs, 6) AS dup_rate, avg_chars, top_lang
      |FROM base JOIN top USING (source)
      |ORDER BY source""".stripMargin))

  /** Domain-mixture reweighting: per-source sampling weights that
    * steer the corpus toward a uniform source mix WITHOUT upsampling
    * (weight = min(1, target_share / actual_share) — downsample-only
    * waterfill). The entire computation is two scalar aggregates and
    * a broadcast of one row per source; shares divide exact integer
    * token counts, so every engine derives identical weights.
    */
  val q104 = Q(
    "q104_mixture_weights",
    (s, dir) => {
      val perSource = Tables.docs(s, dir)
        .select(col("source"), size(Portable.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("sum_tokens"))
      val totals = perSource.agg(
        sum("sum_tokens").cast("long").as("total_tokens"),
        count(lit(1)).as("n_sources"))
      perSource.crossJoin(broadcast(totals))
        .withColumn("actual_share", col("sum_tokens") / col("total_tokens"))
        .withColumn("weight",
          least(lit(1.0), (lit(1.0) / col("n_sources")) / col("actual_share")))
        .select(col("source"), col("n_docs"), col("sum_tokens"),
          round(col("actual_share"), 6).as("actual_share"),
          round(col("weight"), 6).as("weight"),
          round(col("n_docs") * col("weight")).cast("long").as("expected_docs"))
        .orderBy("source")
    },
    Some(s"""WITH per_source AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(${Portable.tokensSql("text")})) AS BIGINT) AS sum_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(sum_tokens) AS BIGINT) AS total_tokens,
      |    count(*) AS n_sources
      |  FROM per_source)
      |SELECT source, n_docs, sum_tokens,
      |  round(sum_tokens / total_tokens, 6) AS actual_share,
      |  round(least(1.0, (1.0 / n_sources) / (sum_tokens / total_tokens)), 6) AS weight,
      |  CAST(round(n_docs * least(1.0, (1.0 / n_sources) / (sum_tokens / total_tokens))) AS BIGINT) AS expected_docs
      |FROM per_source CROSS JOIN tot
      |ORDER BY source""".stripMargin))

  /** The END-TO-END corpus-prep pipeline ([[graft.pipeline.CorpusPrep]]):
    * token-floor gate → exact dedup (content hash, min id kept) →
    * MinHash-LSH + connected-components near-dup dedup (min id per
    * cluster kept) → GPT-style 512-token sequence packing. Every
    * stage is a construction proven by its standalone query
    * (q44/q39/q100/q101); this one oracle-checks their COMPOSITION —
    * the result a user of the reference would actually ship to
    * training.
    */
  val q107 = Q(
    "q107_corpus_prep_pack",
    (s, dir) => graft.pipeline.CorpusPrep.pack(
      graft.pipeline.CorpusPrep.prepareSizes(Tables.docs(s, dir), minTokens = 5), seqLen = 512),
    Some(s"""WITH RECURSIVE t AS (
      |  SELECT doc_id, text,
      |    CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS nt
      |  FROM documents),
      |g AS (SELECT * FROM t WHERE nt >= 5),
      |exd AS (
      |  SELECT doc_id, nt, text FROM (
      |    SELECT doc_id, nt, text,
      |      row_number() OVER (PARTITION BY ${Portable.md5LongSql("text")}
      |        ORDER BY doc_id) AS rn
      |    FROM g) WHERE rn = 1),
      |toks AS (SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM exd),
      |${graft.functions.MinHashBands.bucketsSql("toks")},
      |${graft.graph.BandCluster.componentsSql()},
      |keep AS (
      |  SELECT doc_id FROM (
      |    SELECT db.doc_id,
      |      row_number() OVER (PARTITION BY c.cl ORDER BY db.doc_id) AS rn
      |    FROM db JOIN comp c ON db.b0 = c.node) WHERE rn = 1),
      |o AS (
      |  SELECT e.doc_id, e.nt,
      |    ${Portable.md5LongSql("concat('pack:', CAST(e.doc_id AS VARCHAR))")} AS hk
      |  FROM exd e JOIN keep k ON e.doc_id = k.doc_id),
      |c2 AS (
      |  SELECT doc_id, nt,
      |    CAST(sum(nt) OVER (ORDER BY hk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM o),
      |spans AS (SELECT doc_id, cum - nt AS st, cum - 1 AS en FROM c2),
      |ex2 AS (
      |  SELECT doc_id, st, en, unnest(range(st // 512, en // 512 + 1)) AS seq
      |  FROM spans)
      |SELECT CAST(seq AS BIGINT) AS seq_id, count(*) AS n_docs,
      |  CAST(sum(least(en, seq * 512 + 511) - greatest(st, seq * 512) + 1) AS BIGINT) AS n_tokens,
      |  arg_min(doc_id, st) AS first_doc, arg_max(doc_id, en) AS last_doc
      |FROM ex2 GROUP BY 1 ORDER BY seq_id""".stripMargin))

  /** L6+ weighted sampling, deterministically: Duffield-Lund-Thorup
    * priority sampling with priority = w/u, u a portable-hash uniform
    * in (0,1] — P(selected) ∝ n_chars without any RNG state, so the
    * sample is reproducible on any cluster size (the property a
    * 100 TB re-run needs). Top-k is a TakeOrdered, no global sort.
    */
  val q115 = Q(
    "q115_weighted_priority_sample",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          ((Portable.md5Long(col("doc_id").cast("string")) % 1000000L + 1L)
            .cast("double") / 1000000.0).as("u"))
        .withColumn("prio", col("n_chars").cast("double") / col("u"))
        .orderBy(col("prio").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_chars"), round(col("prio"), 4).as("prio"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, n_chars, round(prio, 4) AS prio FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      ((${Portable.md5LongSql("CAST(doc_id AS VARCHAR)")} % 1000000 + 1) / 1000000.0) AS prio
      |  FROM documents
      |  ORDER BY prio DESC, doc_id LIMIT 50)
      |ORDER BY doc_id""".stripMargin))

  /** L12+ source capping: keep at most 50 docs per source (best by
    * n_chars, doc_id tiebreak) — the "no single crawl dominates the
    * mixture" guard. One window over a source-partitioned sort;
    * reported as per-source kept/dropped counts.
    */
  val q122 = Q(
    "q122_source_cap",
    (s, dir) => {
      val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      Tables.t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") <= 50, 1L).otherwise(0L)).as("n_kept"),
          round(avg(when(col("rn") <= 50, col("n_chars"))), 2).as("avg_kept_chars"))
        .withColumn("n_dropped", col("n_total") - col("n_kept"))
        .select("source", "n_total", "n_kept", "n_dropped", "avg_kept_chars")
        .orderBy("source")
    },
    Some("""WITH rn AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  round(avg(CASE WHEN rn <= 50 THEN n_chars END), 2) AS avg_kept_chars
      |FROM rn
      |GROUP BY source
      |ORDER BY source""".stripMargin))

  /** Train/test leakage audit over the q70 hash split: documents
    * whose exact content appears in BOTH the train and test slices —
    * the check that must run before any eval number is trusted.
    * Content compares by the portable 60-bit hash (fixed-width keys,
    * never the text) and each slice pre-aggregates to distinct hashes
    * before the join, so the join sides are bounded by distinct
    * content, not corpus rows.
    */
  val q150 = Q(
    "q150_split_leakage",
    (s, dir) => {
      val split = Tables.docs(s, dir)
        .withColumn("b",
          pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))), lit(10)))
        .withColumn("h", Portable.md5Long(col("text")))
      val train = split.filter(col("b") < 8).select("h").distinct()
      val test = split.filter(col("b") === 9).select("h").distinct()
      train.agg(count(lit(1)).as("n_train_distinct"))
        .crossJoin(test.agg(count(lit(1)).as("n_test_distinct")))
        .crossJoin(
          train.join(test, "h").agg(count(lit(1)).as("n_leaked")))
    },
    Some(s"""WITH split AS (
      |  SELECT ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 AS b,
      |    ${Portable.md5LongSql("text")} AS h
      |  FROM documents),
      |train AS (SELECT DISTINCT h FROM split WHERE b < 8),
      |test AS (SELECT DISTINCT h FROM split WHERE b = 9)
      |SELECT (SELECT count(*) FROM train) AS n_train_distinct,
      |  (SELECT count(*) FROM test) AS n_test_distinct,
      |  (SELECT count(*) FROM train JOIN test USING (h)) AS n_leaked""".stripMargin))

  /** Gate-funnel telemetry: how many documents survive each filter
    * stage of a prep pipeline (length → known language → lexical
    * diversity). One pass computes every gate flag; conditional
    * counts make the funnel — no per-stage re-scan.
    */
  val q151 = Q(
    "q151_gate_funnel",
    (s, dir) => {
      val flags = Tables.docs(s, dir)
        .select(
          size(Portable.tokens(col("text"))).as("nt"),
          size(Portable.tokenSet(col("text"))).as("nd"),
          col("lang"))
        .select(
          (col("nt") >= 20).as("g1"),
          col("lang").isin("en", "es", "de", "fr", "zh").as("g2"),
          (col("nd").cast("double") / col("nt") >= 0.4).as("g3"))
      flags.agg(
        count(lit(1)).as("stage0_total"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("stage1_length"),
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L)).as("stage2_lang"),
        sum(when(col("g1") && col("g2") && col("g3"), 1L).otherwise(0L))
          .as("stage3_diversity"))
    },
    Some(s"""WITH flags AS (
      |  SELECT len(${Portable.tokensSql("text")}) >= 20 AS g1,
      |    lang IN ('en', 'es', 'de', 'fr', 'zh') AS g2,
      |    CAST(len(${Portable.tokenSetSql("text")}) AS DOUBLE)
      |      / len(${Portable.tokensSql("text")}) >= 0.4 AS g3
      |  FROM documents)
      |SELECT count(*) AS stage0_total,
      |  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS stage1_length,
      |  CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS stage2_lang,
      |  CAST(sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS stage3_diversity
      |FROM flags""".stripMargin))

  /** Sharded JSONL training-export with a readback-verified manifest
    * ([[graft.pipeline.TrainingExport]]): write the corpus as 8
    * content-addressed JSONL shards, read the files back, and emit
    * per-shard (docs, tokens, XOR checksum). The oracle computes the
    * same manifest straight from the source table, so the hash-match
    * verifies the WRITE path — shard routing, JSON escaping, and the
    * roundtrip of every doc_id and text byte — not just the
    * aggregation.
    */
  val q177 = Q(
    "q177_export_jsonl",
    (s, dir) => {
      // per-sfDir AND per-JVM output path: sf0.01 and sf1 runs don't
      // clobber each other, re-runs within a JVM overwrite
      // deterministically, and two concurrent JVMs over the same
      // sfDir (a Verify next to a Bench) can't race one another's
      // manifest scan with a mid-read overwrite
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_export_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_p" +
        ProcessHandle.current().pid()
      graft.pipeline.TrainingExport.exportJsonl(Tables.docs(s, dir), out, shards = 8)
    },
    Some(graft.pipeline.TrainingExport.manifestOracleSql("documents", shards = 8)))

  /** Temperature-based multilingual mixture sampling (the α-sampling
    * of multilingual pretraining, α = 0.5): per-language sampling
    * rates ∝ n_lang^α re-normalized to a half-corpus budget, capped
    * at 1 (downsample-only), then a deterministic portable-hash
    * Bernoulli per document. Complements q104 (waterfill to uniform):
    * temperature sampling RESHAPES the mix toward low-resource
    * languages instead of flattening it.
    *
    * Determinism: α = 0.5 makes the weight sqrt(n)·10⁶ rounded to a
    * BIGINT — sqrt is IEEE-correctly-rounded in both engines (pow is
    * not, which is why the exponent is half) — so rates are quotients
    * of identical integers and the hash filter compares identical
    * doubles. Scale: two aggregations over the corpus plus a
    * broadcast of #languages rows; the budget arithmetic stays in
    * 64-bit range to ~10¹⁰ docs.
    */
  val q183 = Q(
    "q183_temperature_mix",
    (s, dir) => {
      val d = Tables.docs(s, dir)
      val langN = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val scored = langN.withColumn("s",
        round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      val tot = scored.agg(sum("s").as("stot"), sum("n_docs").as("ntot"))
      val rates = scored.crossJoin(broadcast(tot))
        .withColumn("budget", floor(col("ntot") / 2).cast("long"))
        .withColumn("rate", least(lit(1.0),
          (col("budget") * col("s")).cast("double") /
            (col("stot") * col("n_docs")).cast("double")))
        .select(col("lang").as("lang2"), col("n_docs"), col("rate"))
      val kept = d
        .join(broadcast(rates.select("lang2", "rate")), col("lang") === col("lang2"))
        .filter(Portable.md5Long(concat(lit("mix:"), col("doc_id").cast("string")))
          .cast("double") / lit(1.152921504606846976e18) < col("rate"))
        .groupBy("lang").agg(count(lit(1)).as("kept"))
      rates.join(kept, col("lang2") === col("lang"), "left")
        .select(col("lang2").as("lang"), col("n_docs"),
          round(col("rate"), 6).as("rate"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("lang")
    },
    Some(s"""WITH langn AS (
      |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      |scored AS (
      |  SELECT lang, n_docs,
      |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s
      |  FROM langn),
      |tot AS (SELECT sum(s) AS stot, sum(n_docs) AS ntot FROM scored),
      |rates AS (
      |  SELECT lang, n_docs,
      |    least(1.0, CAST(CAST(floor(ntot / 2) AS BIGINT) * s AS DOUBLE)
      |               / CAST(stot * n_docs AS DOUBLE)) AS rate
      |  FROM scored CROSS JOIN tot),
      |kept AS (
      |  SELECT d.lang, count(*) AS kept
      |  FROM documents d JOIN rates r ON d.lang = r.lang
      |  WHERE CAST(${Portable.md5LongSql("'mix:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
      |          / 1152921504606846976.0 < r.rate
      |  GROUP BY 1)
      |SELECT r.lang, r.n_docs, round(r.rate, 6) AS rate,
      |  coalesce(k.kept, 0) AS kept
      |FROM rates r LEFT JOIN kept k ON r.lang = k.lang
      |ORDER BY r.lang""".stripMargin))

  /** Corpus snapshot diff — the release-engineering view of a living
    * corpus: given two versions, report added / removed / changed /
    * unchanged document counts and character volume. Versions are
    * derived deterministically from the fixture (v1 drops one
    * hash-decile, v2 drops a different one and edits every 7th doc)
    * so the oracle replays them exactly; in production the two sides
    * are two snapshot paths. One co-partitioned full-outer join on
    * doc_id — single shuffle, linear at any corpus size; content
    * equality compares md5 digests, never text.
    */
  val q185 = Q(
    "q185_corpus_diff",
    (s, dir) => {
      val d = Tables.docs(s, dir).select("doc_id", "text")
      def h(tag: String) =
        Portable.md5Long(concat(lit(tag), col("doc_id").cast("string")))
      val v1 = d.filter(h("v1:") % 10 < 9)
        .select(col("doc_id").as("id1"), md5(col("text")).as("h1"),
          length(col("text")).cast("long").as("nc1"))
      val v2 = d.filter(h("v2:") % 10 < 9)
        .withColumn("t2", when(h("edit:") % 7 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .select(col("doc_id").as("id2"), md5(col("t2")).as("h2"),
          length(col("t2")).cast("long").as("nc2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .withColumn("status",
          when(col("id1").isNull, "added")
            .when(col("id2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("nc2"), col("nc1"))).as("n_chars"))
        .orderBy("status")
    },
    Some(s"""WITH v1 AS (
      |  SELECT doc_id AS id1, md5(text) AS h1, length(text) AS nc1
      |  FROM documents
      |  WHERE ${Portable.md5LongSql("'v1:' || CAST(doc_id AS VARCHAR)")} % 10 < 9),
      |v2 AS (
      |  SELECT doc_id AS id2, md5(t2) AS h2, length(t2) AS nc2 FROM (
      |    SELECT doc_id,
      |      CASE WHEN ${Portable.md5LongSql("'edit:' || CAST(doc_id AS VARCHAR)")} % 7 = 0
      |           THEN text || ' edited' ELSE text END AS t2
      |    FROM documents
      |    WHERE ${Portable.md5LongSql("'v2:' || CAST(doc_id AS VARCHAR)")} % 10 < 9) s)
      |SELECT status, count(*) AS n_docs,
      |  CAST(sum(coalesce(nc2, nc1)) AS BIGINT) AS n_chars
      |FROM (
      |  SELECT CASE WHEN id1 IS NULL THEN 'added'
      |              WHEN id2 IS NULL THEN 'removed'
      |              WHEN h1 <> h2 THEN 'changed'
      |              ELSE 'unchanged' END AS status,
      |    nc1, nc2
      |  FROM v1 FULL OUTER JOIN v2 ON id1 = id2) t
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Curriculum schedule: documents ranked by lexical diversity
    * (distinct/total token ratio — a per-row exact division), cut
    * into deciles, grouped into the three training phases. Deciles
    * come from [[graft.functions.Dist.globalRank]] — the
    * range-bucketed two-phase rank — NOT a global ntile window,
    * which would funnel the whole corpus through one task; the
    * rank-arithmetic decile (first n % 10 deciles get the extra row)
    * reproduces ntile's bucket sizes exactly, so the DuckDB oracle
    * can still say ntile. Phase means divide an exact decimal(18,6)
    * sum once ([[Portable.moneyAvg]] rationale), so no float
    * fold-order hazard at any scale; the doc_id tiebreak makes the
    * assignment reproducible across engines and cluster sizes.
    */
  val q202 = Q(
    "q202_curriculum_phases",
    (s, dir) => {
      val base = Tables.docs(s, dir)
        .select(col("doc_id"),
          round(size(array_distinct(Portable.tokens(col("text"))))
            .cast("double") / size(Portable.tokens(col("text"))), 6).as("score"))
      val ranked = graft.functions.Dist.globalRank(
        base, Seq(col("score"), col("doc_id")), "rnk", 32)
      val n = ranked.count()
      // ntile semantics via rank arithmetic: bucket size ⌈n/10⌉ for
      // the first n%10 deciles, ⌊n/10⌋ after — identical assignment
      val big = n % 10; val small = n / 10; val cut = big * (small + 1)
      val scored = ranked.withColumn("decile", expr(
        s"""CAST(CASE WHEN rnk <= $cut THEN (rnk - 1) div ${small + 1}
           |     ELSE $big + (rnk - 1 - $cut) div $small END AS INT) + 1""".stripMargin))
      scored
        .withColumn("phase",
          when(col("decile") <= 3, "p1_easy")
            .when(col("decile") <= 7, "p2_mid").otherwise("p3_hard"))
        .groupBy("phase")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("score").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_score"),
          min("score").as("min_score"),
          max("score").as("max_score"))
        .orderBy("phase")
    },
    Some(s"""WITH scored AS (
      |  SELECT doc_id,
      |    round(CAST(len(list_distinct(${Portable.tokensSql("text")})) AS DOUBLE)
      |      / len(${Portable.tokensSql("text")}), 6) AS score
      |  FROM documents),
      |deciled AS (
      |  SELECT score, ntile(10) OVER (ORDER BY score, doc_id) AS decile
      |  FROM scored)
      |SELECT CASE WHEN decile <= 3 THEN 'p1_easy'
      |            WHEN decile <= 7 THEN 'p2_mid' ELSE 'p3_hard' END AS phase,
      |  count(*) AS n_docs,
      |  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_score,
      |  min(score) AS min_score, max(score) AS max_score
      |FROM deciled GROUP BY 1 ORDER BY phase""".stripMargin))

  /** Stratified 5-fold cross-validation assignment: folds are
    * hash-assigned (stable under re-partitioning and re-runs), and
    * the per-language balance ratio (max/min fold size over the
    * 5-row language partition) is the audit a split job must emit
    * before anyone trains on it.
    */
  val q204 = Q(
    "q204_stratified_kfold",
    (s, dir) => {
      val w = Window.partitionBy("lang")
      Tables.docs(s, dir)
        .withColumn("fold",
          pmod(Portable.md5Long(concat(lit("fold:"), col("doc_id").cast("string"))), lit(5)))
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        .withColumn("balance",
          round(max("n_docs").over(w).cast("double") / min("n_docs").over(w), 6))
        .orderBy("lang", "fold")
    },
    Some(s"""WITH f AS (
      |  SELECT lang,
      |    ${Portable.md5LongSql("concat('fold:', CAST(doc_id AS VARCHAR))")} % 5 AS fold,
      |    n_chars
      |  FROM documents),
      |agg AS (SELECT lang, fold, count(*) AS n_docs,
      |          CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |        FROM f GROUP BY 1, 2)
      |SELECT lang, fold, n_docs, sum_chars,
      |  round(CAST(max(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
      |    / min(n_docs) OVER (PARTITION BY lang), 6) AS balance
      |FROM agg ORDER BY lang, fold""".stripMargin))

  /* The corpus RELEASE pipeline —
    * the other end-to-end flow next to q107's prep pipeline. A release
    * run must (1) split deterministically, (2) decontaminate train
    * against the held-out splits, (3) dedup train (keep-best), and
    * (4) emit the per-split manifest a downstream trainer trusts.
    */

  /** Train/eval release manifest. Stages:
    *  - hash split 80/10/10 ([[q70]] semantics — stable
    *    under re-partitioning and across engines);
    *  - decontamination: train docs sharing ≥ 60% of their 24-char
    *    shingle hashes with ANY eval doc are dropped (q103's
    *    hit-ratio rule). The eval shingle set joins as a plain
    *    shuffle join — at 100 TB the eval side is 20% of the corpus,
    *    far past broadcast range, and the shingle-keyed shuffle is
    *    the scalable shape;
    *  - exact dedup keep-best on the surviving train docs (min
    *    doc_id per sha256 — q75 policy). Eval splits are left
    *    untouched: dedup must never move mass INTO the splits that
    *    define the measurement;
    *  - manifest: one row per split with every stage's drop count,
    *    so the release is auditable without re-running it.
    * One shingle pass feeds both the split and the contamination
    * join; every aggregate is an exact integer count.
    */
  val q217 = Q(
    "q217_release_manifest",
    (s, dir) => {
      val base = Pins.pin(Tables.docs(s, dir)
        .withColumn("split",
          when(pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))),
            lit(10)) < 8, "train")
            .when(pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))),
              lit(10)) === 8, "valid")
            .otherwise("test")))
      val sh = base.filter(length(col("text")) >= 24)
        .select(col("doc_id"), col("split"),
          explode(expr("char_shingle_hashes(text, 24)")).as("h"))
      val evalH = sh.filter(col("split") =!= "train").select("h").distinct()
      // pinned: the manifest reads contam twice and cleanTrain three
      // times (dup-dropped / final / keep); without the pin each
      // branch re-runs the whole shingle join
      val contam = Pins.pin(sh.filter(col("split") === "train")
        .join(evalH.withColumn("hit", lit(1L)), Seq("h"), "left")
        .groupBy("doc_id")
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)) >= 0.6).as("bad"))
        .filter(col("bad")).select("doc_id"))
      val cleanTrain = Pins.pin(base.filter(col("split") === "train")
        .join(contam.withColumn("c", lit(1)), Seq("doc_id"), "left_anti"))
      val keep = cleanTrain
        .groupBy(sha2(col("text"), 256).as("hh"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val trainRow = base.filter(col("split") === "train")
        .agg(count(lit(1)).as("n_raw"))
        .crossJoin(contam.agg(count(lit(1)).as("n_contam_dropped")))
        .crossJoin(cleanTrain.join(keep, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_dup_dropped")))
        .crossJoin(cleanTrain.join(keep, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("n_final"),
            coalesce(sum("n_chars"), lit(0L)).cast("long").as("sum_chars")))
        .select(lit("train").as("split"), col("n_raw"), col("n_contam_dropped"),
          col("n_dup_dropped"), col("n_final"), col("sum_chars"))
      val evalRows = base.filter(col("split") =!= "train")
        .groupBy("split")
        .agg(count(lit(1)).as("n_raw"), lit(0L).as("n_contam_dropped"),
          lit(0L).as("n_dup_dropped"), count(lit(1)).as("n_final"),
          sum("n_chars").cast("long").as("sum_chars"))
      trainRow.unionByName(evalRows).orderBy("split")
    },
    Some(s"""WITH base AS (
      |  SELECT doc_id, text, n_chars,
      |    CASE WHEN ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 < 8
      |           THEN 'train'
      |         WHEN ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 = 8
      |           THEN 'valid' ELSE 'test' END AS split
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, split, ${Portable.md5LongSql("s")} AS h
      |  FROM (
      |    SELECT doc_id, split, unnest(list_distinct(list_transform(
      |        range(1, CAST(length(text) AS BIGINT) - 22),
      |        i -> substr(text, CAST(i AS INTEGER), 24)))) AS s
      |    FROM base WHERE length(text) >= 24)),
      |evalh AS (SELECT DISTINCT h FROM sh WHERE split <> 'train'),
      |contam AS (
      |  SELECT sh.doc_id FROM sh LEFT JOIN evalh ON sh.h = evalh.h
      |  WHERE sh.split = 'train'
      |  GROUP BY sh.doc_id
      |  HAVING sum(CASE WHEN evalh.h IS NOT NULL THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE) >= 0.6),
      |clean AS (
      |  SELECT b.* FROM base b
      |  WHERE b.split = 'train' AND b.doc_id NOT IN (SELECT doc_id FROM contam)),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM clean GROUP BY sha256(text)),
      |train_row AS (
      |  SELECT 'train' AS split,
      |    (SELECT count(*) FROM base WHERE split = 'train') AS n_raw,
      |    (SELECT count(*) FROM contam) AS n_contam_dropped,
      |    (SELECT count(*) FROM clean
      |      WHERE doc_id NOT IN (SELECT doc_id FROM keep)) AS n_dup_dropped,
      |    (SELECT count(*) FROM clean
      |      WHERE doc_id IN (SELECT doc_id FROM keep)) AS n_final,
      |    (SELECT CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM clean
      |      WHERE doc_id IN (SELECT doc_id FROM keep)) AS sum_chars),
      |eval_rows AS (
      |  SELECT split, count(*) AS n_raw, CAST(0 AS BIGINT) AS n_contam_dropped,
      |    CAST(0 AS BIGINT) AS n_dup_dropped, count(*) AS n_final,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM base WHERE split <> 'train' GROUP BY split)
      |SELECT * FROM train_row UNION ALL SELECT * FROM eval_rows
      |ORDER BY split""".stripMargin))

  /** Greedy maximal-marginal-relevance selection: five rounds of
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) for the
    * query vector (vec_id 0) — the standard diversity-aware pick for
    * retrieval-augmented training-data selection. Scale shape: the
    * candidate frame (relevance precomputed, one pass) is
    * checkpointed ONCE; each round crossJoins the ≤4-row selected
    * set as a broadcast, aggregates the penalty per candidate, and
    * takes the winner via TakeOrdered — so five rounds cost five
    * linear passes, and the only growing state is the 1-row-per-round
    * winner. All cosines round to 6 dp before any ranking so both
    * engines rank identically.
    */
  val q226 = Q(
    "q226_mmr_select",
    (s, dir) => {
      val lam = 0.7
      val wn = Tables.emb(s, dir).withColumn("nrm", V.norm("embedding"))
      val q0 = wn.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val cand = Pins.pin(wn.filter(col("vec_id") > 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"),
          round(V.dot("embedding", "qe") / (col("nrm") * col("qn")), 6).as("rel")))
      var out: DataFrame = null
      var selIds: DataFrame = null
      var selVecs: DataFrame = null
      for (r <- 1 to 5) {
        val scored =
          if (r == 1)
            cand.select(col("vec_id"), col("rel"),
              round(col("rel") * lam, 6).as("score"))
          else
            cand.join(broadcast(selIds), Seq("vec_id"), "left_anti")
              .crossJoin(broadcast(selVecs))
              .withColumn("p",
                round(V.dot("ce", "se") / (col("cn") * col("sn")), 6))
              .groupBy("vec_id")
              .agg(max("rel").as("rel"), max("p").as("pen"))
              .withColumn("score",
                round(col("rel") * lam - col("pen") * (1 - lam), 6))
        // 1 row — pins the round's pick
        val win = Pins.pin(scored
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(lit(r).as("round"), col("vec_id"), col("rel"), col("score")))
        out = if (out == null) win else out.unionAll(win)
        selIds = out.select("vec_id")
        selVecs = cand.join(broadcast(selIds), Seq("vec_id"), "left_semi")
          .select(col("ce").as("se"), col("cn").as("sn"))
      }
      out.orderBy("round")
    },
    Some {
      // DOUBLE-typed λ: a bare 0.7 literal types as DECIMAL in DuckDB,
      // so (1 - 0.7) would be the exact decimal 0.3 where Spark
      // computes the double 1-0.7 = 0.30000000000000004 — a potential
      // divergence exactly at a 6-dp rounding tie. Forcing the cast
      // makes every engine-side product double×double on both sides.
      val lam = "CAST(0.7 AS DOUBLE)"
      // selected-so-far CTE chain, unrolled (the q216 pattern)
      val rounds = (2 to 5).map { r =>
        s"""p$r AS (
           |  SELECT c.vec_id, c.rel, max(round(${V.dotSql("c.ce", "s.ce")}
           |      / (c.cn * s.cn), 6)) AS pen
           |  FROM cand c CROSS JOIN sel${r - 1} s
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           |  GROUP BY 1, 2),
           |s$r AS MATERIALIZED (
           |  SELECT $r AS round, p.vec_id, p.rel,
           |    round(p.rel * $lam - p.pen * (1 - $lam), 6) AS score, c.ce, c.cn
           |  FROM p$r p JOIN cand c ON p.vec_id = c.vec_id
           |  ORDER BY round(p.rel * $lam - p.pen * (1 - $lam), 6) DESC, p.vec_id
           |  LIMIT 1),
           |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH wn AS (
         |  SELECT vec_id, embedding, ${V.normSql("embedding")} AS nrm
         |  FROM embeddings),
         |cand AS MATERIALIZED (
         |  SELECT c.vec_id, c.embedding AS ce, c.nrm AS cn,
         |    round(${V.dotSql("c.embedding", "q.embedding")} / (c.nrm * q.nrm), 6) AS rel
         |  FROM wn c, wn q WHERE q.vec_id = 0 AND c.vec_id > 0),
         |s1 AS MATERIALIZED (
         |  SELECT 1 AS round, vec_id, rel, round(rel * $lam, 6) AS score, ce, cn
         |  FROM cand ORDER BY round(rel * $lam, 6) DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT * FROM s1),
         |$rounds
         |SELECT CAST(round AS INTEGER) AS round, vec_id, rel, score
         |FROM (SELECT round, vec_id, rel, score FROM s1
         |      UNION ALL SELECT round, vec_id, rel, score FROM s2
         |      UNION ALL SELECT round, vec_id, rel, score FROM s3
         |      UNION ALL SELECT round, vec_id, rel, score FROM s4
         |      UNION ALL SELECT round, vec_id, rel, score FROM s5)
         |ORDER BY round""".stripMargin
    })

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

  /* Release management: the diff between two corpus
    * releases — the artifact a training-data org reviews before
    * shipping snapshot N+1 (what entered, what left, what silently
    * changed, per source). Complements q217's release manifest (one
    * release's content) and q238's cross-split contamination (one
    * release's internal hygiene).
    */

  /** Release diff / manifest delta. Two releases of the corpus are
    * derived deterministically from the fixture (PREVIOUS lacks the
    * doc_id % 7 == 3 slice — later-crawled docs; CURRENT carries a
    * content revision on the doc_id % 11 == 5 slice), then diffed by
    * a single full-outer join on doc_id comparing sha256 content
    * digests — 32-byte fixed-width shuffle keys/payloads, NEVER the
    * document text (the q198 discipline: at 100 TB the diff join
    * moves digests, text is read once in the projection). Output per
    * source: previous/current cardinality, added / removed / changed
    * / identical counts, and churn = (added+removed+changed)/current
    * — the number a release gate thresholds before promoting a
    * snapshot. Churn is emitted in INTEGER BASIS POINTS
    * (churn·10000 floor-divided, exact BIGINT in both engines) —
    * a round()ed double quotient over a fixture-sized denominator
    * can tie at .xxxx5 where Spark's HALF_UP and DuckDB's
    * binary-double rounding diverge (ADVICE r8 #2). Scale shape: one
    * hash-partitioned join keyed by doc_id, one aggregation; both
    * linear.
    */
  val q257 = Q(
    "q257_release_diff_audit",
    (s, dir) => {
      val docs = Tables.docs(s, dir).select("doc_id", "source", "text")
      val prev = docs
        .filter(pmod(col("doc_id"), lit(7)) =!= 3)
        .select(col("doc_id"), col("source").as("src_p"),
          sha2(col("text"), 256).as("h_prev"))
      val curr = docs
        .select(col("doc_id"), col("source").as("src_c"),
          sha2(when(pmod(col("doc_id"), lit(11)) === 5,
            concat(col("text"), lit(" v2"))).otherwise(col("text")), 256)
            .as("h_curr"))
      prev.join(curr, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_c"), col("src_p")).as("source"),
          when(col("h_prev").isNull, lit("added"))
            .when(col("h_curr").isNull, lit("removed"))
            .when(col("h_prev") =!= col("h_curr"), lit("changed"))
            .otherwise(lit("identical")).as("status"))
        .groupBy("source")
        .agg(
          sum((col("status") === "added").cast("long")).as("n_added"),
          sum((col("status") === "removed").cast("long")).as("n_removed"),
          sum((col("status") === "changed").cast("long")).as("n_changed"),
          sum((col("status") === "identical").cast("long")).as("n_identical"))
        .select(col("source"),
          (col("n_removed") + col("n_changed") + col("n_identical"))
            .as("n_prev"),
          (col("n_added") + col("n_changed") + col("n_identical"))
            .as("n_curr"),
          col("n_added"), col("n_removed"), col("n_changed"),
          col("n_identical"),
          expr("""(n_added + n_removed + n_changed) * 10000
            div (n_added + n_changed + n_identical)""").as("churn_bps"))
        .orderBy("source")
    },
    Some("""WITH prev AS (
      |  SELECT doc_id, source, sha256(text) AS h
      |  FROM documents WHERE doc_id % 7 <> 3),
      |curr AS (
      |  SELECT doc_id, source,
      |    sha256(CASE WHEN doc_id % 11 = 5 THEN text || ' v2'
      |                ELSE text END) AS h
      |  FROM documents),
      |d AS (
      |  SELECT coalesce(c.source, p.source) AS source,
      |    CASE WHEN p.h IS NULL THEN 'added'
      |         WHEN c.h IS NULL THEN 'removed'
      |         WHEN p.h <> c.h THEN 'changed'
      |         ELSE 'identical' END AS status
      |  FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id),
      |g AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_added,
      |    CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_removed,
      |    CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_changed,
      |    CAST(sum(CASE WHEN status = 'identical' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_identical
      |  FROM d GROUP BY source)
      |SELECT source,
      |  n_removed + n_changed + n_identical AS n_prev,
      |  n_added + n_changed + n_identical AS n_curr,
      |  n_added, n_removed, n_changed, n_identical,
      |  (n_added + n_removed + n_changed) * 10000
      |    // (n_added + n_changed + n_identical) AS churn_bps
      |FROM g ORDER BY source""".stripMargin))

  /** Water-filling token-budget allocation: per-source available
    * tokens, budget B = 3/5 of the total (integer division), each
    * source funded min(availᵢ, t) where the water level t is the
    * unique threshold with Σ allocations = B. Closed form on the
    * availability-sorted list: source k is CAPPED (funded in full)
    * iff cum_{k−1} + availₖ·(n−k+1) ≤ B — the integer-exact test, so
    * the capped set is engine-independent — and
    * t = (B − Σ capped avail) / |uncapped|.
    *
    * Scale: the corpus is touched once (token-count groupBy source);
    * the waterfill itself runs on the #sources-row aggregate, where
    * the unpartitioned window is bounded by source cardinality, not
    * corpus size (same contract as q94's histogram frame).
    */
  val q274 = Q(
    "q274_token_budget_waterfill",
    (s, dir) => {
      // pin the #sources-row aggregate: it feeds BOTH the ranked
      // window chain and the broadcast totals crossJoin — unpinned,
      // the dominant corpus tokenization scan would run twice
      val avail = Pins.pin(Tables.docs(s, dir)
        .select(col("source"), size(Portable.tokens(col("text"))).as("nt"))
        .groupBy("source").agg(sum(col("nt").cast("long")).as("avail")))
      val w = Window.orderBy(col("avail"), col("source"))
      val ranked = avail
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_before",
          coalesce(sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .crossJoin(broadcast(avail.agg(
          count(lit(1)).as("nsrc"), sum("avail").as("total"))))
        .withColumn("budget", expr("total * 3 div 5"))
        .withColumn("capped",
          col("cum_before") + col("avail") * (col("nsrc") - col("rn") + 1)
            <= col("budget"))
      val waterline = ranked
        .agg(max(when(col("capped"), col("rn")).otherwise(0L)).as("kstar"),
          sum(when(col("capped"), col("avail")).otherwise(0L)).as("cap_sum"),
          max("nsrc").as("nsrc"), max("budget").as("budget"))
        .select(col("kstar"), when(col("nsrc") > col("kstar"),
          (col("budget") - col("cap_sum"))
            / (col("nsrc") - col("kstar")).cast("double")).as("t"))
      ranked.crossJoin(broadcast(waterline))
        .select(col("source"), col("avail"),
          round(when(col("capped"), col("avail").cast("double"))
            .otherwise(col("t")), 4).as("alloc"),
          col("capped"))
        .orderBy("source")
    },
    Some(s"""WITH avail AS (
      |  SELECT source, CAST(sum(len(${Portable.tokensSql("text")})) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1),
      |g AS (SELECT count(*) AS nsrc, sum(avail) AS total,
      |        (sum(avail) * 3) // 5 AS budget FROM avail),
      |ranked AS (
      |  SELECT source, avail,
      |    row_number() OVER (ORDER BY avail, source) AS rn,
      |    CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM avail),
      |capped AS (
      |  SELECT r.*, (cum_before + avail * ((SELECT nsrc FROM g) - rn + 1))
      |      <= (SELECT budget FROM g) AS capped
      |  FROM ranked r),
      |wl AS (
      |  SELECT max(CASE WHEN capped THEN rn ELSE 0 END) AS kstar,
      |    sum(CASE WHEN capped THEN avail ELSE 0 END) AS cap_sum FROM capped)
      |SELECT source, avail,
      |  round(CASE WHEN capped THEN CAST(avail AS DOUBLE)
      |    ELSE ((SELECT budget FROM g) - (SELECT cap_sum FROM wl))
      |      / CAST((SELECT nsrc FROM g) - (SELECT kstar FROM wl) AS DOUBLE)
      |    END, 4) AS alloc,
      |  capped
      |FROM capped
      |ORDER BY source""".stripMargin))

  /** Stratified interleaved corpus shuffle — the TRAINING-ORDER
    * operator: a deterministic (seed-stable, hash-keyed) global
    * shuffle that additionally ROUND-ROBINS the strata, so every
    * training batch prefix sees all sources uniformly from batch one
    * instead of whatever a plain hash order happens to front-load.
    * Per doc: within-source rank under the hash order, then the
    * interleave position (all rank-1 docs source-ordered, then all
    * rank-2, a source dropping out once exhausted) ≡ row_number over
    * (rnk, source).
    *
    * Scale shape: NO global window and NO per-source window (source
    * cardinality is tiny, so PARTITION BY source would be |corpus|/S
    * rows in one task — the single-partition problem in stripes).
    * Within-source rank = [[graft.functions.Dist.globalRank]] over
    * (source, h, doc_id) minus per-source offsets (an S-row broadcast
    * derived from the rank frame itself); the interleave position is
    * CLOSED-FORM from the S-row count table — pos(s, r) =
    * Σ_{s'} min(n_{s'}, r−1) + |{s' < s : n_{s'} ≥ r}| + 1 — so the
    * second global ordering pass the naive formulation needs
    * disappears into an S-row broadcast join + per-doc aggregate.
    */
  val q293 = Q(
    "q293_stratified_interleave",
    (s, dir) => {
      val docs = graft.Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          Portable.md5Long(concat(lit("shuf:"),
            col("doc_id").cast("string"))).as("h"))
      val ranked = graft.functions.Dist.globalRank(
        docs, Seq(col("source"), col("h"), col("doc_id")), "gr",
        s.sparkContext.defaultParallelism)
      // S rows; read as offsets AND interleave table
      val counts = Pins.pin(ranked.groupBy("source").agg(count(lit(1)).as("n")))
      val offs = counts.alias("a")
        .join(counts.alias("b"), col("b.source") < col("a.source"), "left_outer")
        .groupBy(col("a.source").as("source"))
        .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
      val wr = ranked
        .join(broadcast(offs), "source")
        .select(col("doc_id"), col("source"), (col("gr") - col("off")).as("rnk"))
      wr.join(broadcast(counts.select(col("source").as("s2"), col("n"))))
        .groupBy("doc_id", "source", "rnk")
        .agg((sum(least(col("n"), col("rnk") - 1L)) +
          sum(when(col("s2") < col("source") && col("n") >= col("rnk"), 1L)
            .otherwise(0L)) + 1L).as("pos"))
        .orderBy("pos")
    },
    Some(s"""WITH h AS (
      |  SELECT doc_id, source,
      |    ${Portable.md5LongSql("concat('shuf:', CAST(doc_id AS VARCHAR))")} AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      |      AS BIGINT) AS rnk
      |  FROM h)
      |SELECT doc_id, source, rnk,
      |  CAST(row_number() OVER (ORDER BY rnk, source) AS BIGINT) AS pos
      |FROM r ORDER BY pos""".stripMargin))

  val all: Vector[Q] =
    Vector(q70, q78, q99, q104, q107, q115, q122, q150, q151, q177, q183,
      q185, q202, q204, q217, q226, q240, q257, q274, q293)
}
