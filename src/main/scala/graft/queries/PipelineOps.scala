package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the q39-q55 set (SURVEY.md
  * §2.13 / BASELINE north-star): deterministic dataset splitting,
  * cohort retention, TF-IDF term extraction, token-window chunking,
  * keeper-policy dedup, stratified sampling, and funnel analysis.
  *
  * Scale notes: every operator is a constant number of shuffles over
  * key-partitioned data — no driver-side collection, no O(n²) pair
  * spaces. Pseudo-randomness (splits, samples) is the portable
  * md5-based hash ([[Portable.md5Long]]) so results are reproducible
  * across engines, runs, AND cluster sizes — the property a 100 TB
  * train/eval split must have (re-running the split on different
  * hardware must not move documents between splits).
  */
object PipelineOps {

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

  /** Weekly cohort retention over the event stream: users grouped by
    * first-seen week, counted at each later active week offset. Week
    * indexing is integer epoch-day math (Monday-anchored), not
    * date_trunc — identical in every engine and timezone.
    */
  val q72 = Q(
    "q72_cohort_retention",
    (s, dir) => {
      // cohort week as a window min over the same user partition the
      // distinct already shuffled to — no self-join, one shuffle total
      Tables.events(s, dir)
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), to_date(lit("1970-01-05"))) / 7).as("w"))
        .distinct()
        .withColumn("cw", min("w").over(Window.partitionBy("user_id")))
        .groupBy(col("cw"), (col("w") - col("cw")).as("off"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cw", "off")
    },
    Some("""WITH wk AS (
      |  SELECT DISTINCT user_id,
      |    CAST((CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS BIGINT) AS w
      |  FROM events),
      |coh AS (SELECT user_id, min(w) AS cw FROM wk GROUP BY 1)
      |SELECT cw, w - cw AS off, count(DISTINCT wk.user_id) AS n_users
      |FROM wk JOIN coh USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cw, off""".stripMargin))

  /** TF-IDF top-3 terms per document. The idf factor is the raw
    * inverse document frequency N/df (no logarithm): IEEE requires
    * correctly-rounded divide/multiply, so the ranking score is
    * bit-identical across engines, while transcendentals (ln) are NOT
    * so guaranteed and could flip a rank at a tie boundary.
    */
  val q73 = Q(
    "q73_tfidf_topterms",
    (s, dir) => {
      // nt rides along the explode (functionally dependent on doc_id),
      // so no separate per-doc aggregation + re-join; the per-doc
      // top-3 is sort_array+slice over each doc's ≤|vocab| scored
      // terms — one groupBy shuffle instead of a join shuffle plus a
      // sort-based row_number window. (-score, tok) ascending ≡ the
      // oracle's ORDER BY score DESC, tok (exact double negation).
      val ex = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("nt"), explode(col("toks")).as("tok"))
      val tf = ex.groupBy("doc_id", "nt", "tok").agg(count(lit(1)).as("cnt"))
      val ndocs = Tables.docs(s, dir).agg(countDistinct("doc_id").as("ndocs"))
      // df as a whole-partition window count over tf: the tokenize+
      // explode+aggregate pipeline runs ONCE (a dfc-subquery join
      // would recompute it for the broadcast side)
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
        .crossJoin(broadcast(ndocs))
        .withColumn("score", (col("cnt") / col("nt")) * (col("ndocs") / col("df")))
        .groupBy("doc_id")
        .agg(expr(
          "slice(sort_array(collect_list(struct(-score AS ns, tok AS term, score AS sc))), 1, 3)")
          .as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(col("doc_id"), col("col.term").as("term"),
          round(col("col.sc"), 6).as("tfidf"), (col("pos") + 1).as("rnk"))
        .orderBy("doc_id", "rnk")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |nt AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1),
      |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM documents)
      |SELECT doc_id, term, tfidf, rnk FROM (
      |  SELECT tf.doc_id, tf.tok AS term,
      |    round((cnt / nt) * (ndocs / df), 6) AS tfidf,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY (cnt / nt) * (ndocs / df) DESC, tf.tok) AS INTEGER) AS rnk
      |  FROM tf JOIN nt USING (doc_id) JOIN dfc ON tf.tok = dfc.tok CROSS JOIN nd)
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin))

  /** Fixed-size token-window chunking (50-token chunks, stride 40 →
    * 10-token overlap) — the standard pre-tokenization step before
    * packing training sequences. Chunks stay inside one row's
    * projection (sequence + slice): zero shuffles, arbitrarily
    * parallel. Chunks are emitted as portable hashes, not text, so
    * the result row stays narrow.
    */
  val q74 = Q(
    "q74_chunk_documents",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .withColumn("nt", size(col("toks")))
        .filter(col("nt") >= 1) // sequence(1,0) would be DESCENDING, not empty
        .withColumn("start", explode(expr("sequence(1, nt, 40)")))
        .withColumn("chunk", expr("slice(toks, start, 50)"))
        .select(
          col("doc_id"),
          expr("CAST((start - 1) DIV 40 AS BIGINT)").as("chunk_id"),
          size(col("chunk")).as("chunk_tokens"),
          expr("md5long60(array_join(chunk, ' '))").as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM (
      |    SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 1),
      |st AS (SELECT doc_id, toks, nt, unnest(range(1, nt + 1, 40)) AS start FROM t),
      |ch AS (SELECT doc_id, start,
      |         list_slice(toks, start, least(start + 49, nt)) AS chunk
      |       FROM st)
      |SELECT doc_id, CAST((start - 1) // 40 AS BIGINT) AS chunk_id,
      |  CAST(len(chunk) AS INTEGER) AS chunk_tokens,
      |  ${Portable.md5LongSql("array_to_string(chunk, ' ')")} AS chunk_hash
      |FROM ch
      |ORDER BY doc_id, chunk_id""".stripMargin))

  /** Dedup with a keeper policy: documents are clustered by their
    * NORMALIZED content (sorted distinct-token set — bag-of-words
    * normalization, catching reordered/repeated-word copies that
    * byte-exact q39 misses); within each cluster the "best" document
    * (longest, then lowest id) is kept and the dropped→kept mapping
    * emitted — the form a pipeline actually applies, versus q39 which
    * reports clusters. One window over one shuffle on the 60-bit
    * cluster hash (fixed-width shuffle key, not the document text).
    */
  val q75 = Q(
    "q75_dedup_keep_best",
    (s, dir) => {
      Tables.docs(s, dir)
        .withColumn("ck",
          Portable.md5Long(array_join(array_sort(Portable.tokenSet(col("text"))), " ")))
        .withColumn("keep_id", first_value(col("doc_id")).over(
          Window.partitionBy("ck").orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id").as("dropped_id"), col("keep_id"))
        .orderBy("dropped_id")
    },
    Some(s"""SELECT doc_id AS dropped_id, keep_id FROM (
      |  SELECT doc_id, first_value(doc_id) OVER (PARTITION BY
      |    ${Portable.md5LongSql(s"array_to_string(list_sort(${Portable.tokenSetSql("text")}), ' ')")}
      |    ORDER BY n_chars DESC, doc_id) AS keep_id
      |  FROM documents)
      |WHERE doc_id <> keep_id
      |ORDER BY dropped_id""".stripMargin))

  /** Incremental dedup: a NEW batch of documents deduplicated against
    * an already-ingested corpus — the shape production pipelines
    * actually run (the corpus is never re-deduplicated; only the
    * delta is checked). Membership is the deterministic hash split
    * (batch ≈ 20%); content identity is the normalized token-set hash
    * (as q75). One semi-join against the corpus' distinct keys + one
    * window within the batch: at 100 TB the corpus side reduces to
    * its distinct ck set (far smaller than the corpus) before the
    * join, and the batch-side window only shuffles the delta.
    */
  val q81 = Q(
    "q81_dedup_incremental",
    (s, dir) => {
      val keyed = Tables.docs(s, dir)
        .withColumn("ck",
          Portable.md5Long(array_join(array_sort(Portable.tokenSet(col("text"))), " ")))
        .withColumn("is_corpus",
          pmod(Portable.md5Long(concat(lit("inc:"), col("doc_id").cast("string"))), lit(10)) < 8)
      val corpusKeys = keyed.filter(col("is_corpus"))
        .select(col("ck").as("cck")).distinct()
      keyed.filter(!col("is_corpus"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("ck").orderBy("doc_id")))
        .join(corpusKeys, col("ck") === col("cck"), "left_outer")
        .select(col("doc_id"),
          when(col("cck").isNotNull, "dup_of_corpus")
            .when(col("rn") > 1, "dup_in_batch")
            .otherwise("new").as("status"))
        .orderBy("doc_id")
    },
    Some(s"""WITH keyed AS (
      |  SELECT doc_id,
      |    ${Portable.md5LongSql(s"array_to_string(list_sort(${Portable.tokenSetSql("text")}), ' ')")} AS ck,
      |    ${Portable.md5LongSql("concat('inc:', CAST(doc_id AS VARCHAR))")} % 10 < 8 AS is_corpus
      |  FROM documents),
      |ck_corpus AS (SELECT DISTINCT ck AS cck FROM keyed WHERE is_corpus),
      |batch AS (
      |  SELECT doc_id, ck,
      |    row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn
      |  FROM keyed WHERE NOT is_corpus)
      |SELECT b.doc_id,
      |  CASE WHEN c.cck IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN rn > 1 THEN 'dup_in_batch'
      |       ELSE 'new' END AS status
      |FROM batch b LEFT OUTER JOIN ck_corpus c ON b.ck = c.cck
      |ORDER BY doc_id""".stripMargin))

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

  /** Ordered conversion funnel signup → view → click → purchase: each
    * stage's timestamp is the earliest qualifying event AFTER the
    * previous stage, computed as four chained per-user window minima
    * (one shuffle on user_id, no self-joins), then one global rollup.
    */
  val q79 = Q(
    "q79_event_funnel",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
      def nextStage(tpe: String, after: String) =
        min(when(col("event_type") === tpe && col("ts") > col(after), col("ts"))).over(w)
      Tables.events(s, dir)
        .select("user_id", "event_type", "ts")
        .withColumn("s", min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("v", nextStage("view", "s"))
        .withColumn("c", nextStage("click", "v"))
        .withColumn("p", nextStage("purchase", "c"))
        .agg(
          countDistinct("user_id").as("n_users"),
          countDistinct(when(col("s").isNotNull, col("user_id"))).as("n_signup"),
          countDistinct(when(col("v").isNotNull, col("user_id"))).as("n_view"),
          countDistinct(when(col("c").isNotNull, col("user_id"))).as("n_click"),
          countDistinct(when(col("p").isNotNull, col("user_id"))).as("n_purchase"))
    },
    Some("""SELECT count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT CASE WHEN s IS NOT NULL THEN user_id END) AS n_signup,
      |  count(DISTINCT CASE WHEN v IS NOT NULL THEN user_id END) AS n_view,
      |  count(DISTINCT CASE WHEN c IS NOT NULL THEN user_id END) AS n_click,
      |  count(DISTINCT CASE WHEN p IS NOT NULL THEN user_id END) AS n_purchase
      |FROM (
      |  SELECT user_id, s, v, c,
      |    min(CASE WHEN event_type = 'purchase' AND ts > c THEN ts END)
      |      OVER (PARTITION BY user_id) AS p
      |  FROM (
      |    SELECT user_id, event_type, ts, s, v,
      |      min(CASE WHEN event_type = 'click' AND ts > v THEN ts END)
      |        OVER (PARTITION BY user_id) AS c
      |    FROM (
      |      SELECT user_id, event_type, ts, s,
      |        min(CASE WHEN event_type = 'view' AND ts > s THEN ts END)
      |          OVER (PARTITION BY user_id) AS v
      |      FROM (
      |        SELECT user_id, event_type, ts,
      |          min(CASE WHEN event_type = 'signup' THEN ts END)
      |            OVER (PARTITION BY user_id) AS s
      |        FROM events))))""".stripMargin))

  /** PII-style scrubbing: digits masked out of the natural-key name,
    * digit count accounted, and a stable pseudonym derived from the
    * portable hash — so re-running the scrub on any cluster (or in
    * the oracle engine) assigns identical pseudonyms. Pure per-row
    * projection: no shuffle, no state.
    */
  val q83 = Q(
    "q83_anonymize_mask",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .select(
          col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          (length(col("c_name")) -
            length(regexp_replace(col("c_name"), "[0-9]", ""))).as("n_masked"),
          concat(lit("user_"),
            pmod(Portable.md5Long(col("c_name")), lit(100000L)).cast("string")).as("pseudonym"))
        .orderBy("c_custkey")
    },
    Some(s"""SELECT c_custkey,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
      |  CAST(length(c_name) -
      |    length(regexp_replace(c_name, '[0-9]', '', 'g')) AS INTEGER) AS n_masked,
      |  concat('user_', CAST(${Portable.md5LongSql("c_name")} % 100000 AS VARCHAR)) AS pseudonym
      |FROM customer
      |ORDER BY c_custkey""".stripMargin))

  /** Schema-evolution merge: two ingestion batches with drifted
    * schemas union by COLUMN NAME, null-filling what either side
    * lacks (unionByName(allowMissingColumns)) — the operation an
    * append-only warehouse needs every time a feed adds a column.
    */
  val q84 = Q(
    "q84_union_schema_evolution",
    (s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val batchA = d.filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val batchB = d.filter(col("lang") === "de")
        .select(col("doc_id"), col("lang"), col("source"))
      batchA.unionByName(batchB, allowMissingColumns = true)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
      |FROM documents WHERE lang = 'en'
      |UNION ALL
      |SELECT doc_id, lang, CAST(NULL AS BIGINT), source
      |FROM documents WHERE lang = 'de'
      |ORDER BY doc_id""".stripMargin))

  /** Forward-fill over event time: values failing a validity gate
    * become NULL and are filled with the user's last valid value —
    * `last(ignoreNulls) OVER (ROWS UNBOUNDED PRECEDING)` — the
    * standard gap-repair step before feature extraction. One shuffle
    * on the entity key; the filled value is carried verbatim (no
    * arithmetic), so no rounding is needed for oracle parity.
    */
  val q85 = Q(
    "q85_forward_fill",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("value") >= 0.2, col("value")).as("v"))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "v", "filled")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
      |  CASE WHEN value >= 0.2 THEN value END AS v,
      |  last_value(CASE WHEN value >= 0.2 THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events
      |ORDER BY event_id""".stripMargin))

  /** Latest-record snapshot (SCD-1 compaction): the append-only event
    * log collapses to current state per entity — newest event wins,
    * version count retained. The upsert-free form of MERGE a parquet
    * warehouse runs as periodic compaction.
    */
  val q88 = Q(
    "q88_latest_snapshot",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)))
        .withColumn("n_versions", count(lit(1)).over(
          Window.partitionBy("user_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("last_type"),
          round(col("value"), 2).as("last_value"), col("n_versions"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, last_type, round(last_value, 2) AS last_value,
      |  n_versions
      |FROM (
      |  SELECT user_id, event_type AS last_type, value AS last_value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_versions
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin))

  /** Fixed-width histogram of the value distribution (clamped top
    * bucket) — the binning pass behind every quality-score /
    * length-distribution report. One aggregation; bucket math is
    * integer-exact.
    */
  val q94 = Q(
    "q94_value_histogram",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("bucket",
          least(floor(col("value") / 10), lit(9L)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
        .orderBy("bucket")
    },
    Some("""SELECT CAST(least(floor(value / 10), 9) AS INTEGER) AS bucket,
      |  count(*) AS n, round(avg(value), 6) AS avg_value
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin))

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

  val all: Vector[Q] =
    Vector(q70, q72, q73, q74, q75, q78, q79, q81, q83, q84, q85, q88, q94, q99)
}
