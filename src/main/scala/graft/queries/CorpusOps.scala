package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable}
import graft.graph.ConnectedComponents
import org.apache.spark.sql.functions._

/** Corpus-preparation operators closing the loop from candidate
  * generation to training batches: dedup-cluster merging (connected
  * components over LSH buckets), GPT-style sequence packing,
  * intra-document repetition metrics (Gopher-style quality rules),
  * and benchmark-contamination screening.
  */
object CorpusOps {

  /** Near-dup CLUSTERS, not pairs: each document hashes into its two
    * LSH band buckets (q41's signatures over the whole corpus), the
    * doc's (band-0, band-1) bucket pair becomes a graph edge, and
    * [[ConnectedComponents]] merges transitively-linked buckets — so
    * A≈B and B≈C land in ONE cluster even when A and C share no
    * bucket. This is the operator that turns q41's pair list into the
    * drop set a dedup pass actually applies. Output: one row per
    * cluster (its min doc id and size).
    *
    * Scale: the graph has ≤ |docs| edges of fixed-width longs —
    * negligible next to the corpus — and the component loop converges
    * in single-digit rounds on star-dominated LSH topology. The
    * signature stage is the same zero-shuffle per-row projection as
    * q41. (DuckDB needs a recursive-CTE transitive closure for the
    * same answer: 12.6 s at sf0.1 vs ~3 s here.)
    */
  val q100 = Q(
    "q100_dedup_cc_clusters",
    (s, dir) => {
      // localCheckpoint: the signature projection (16 md5 min-hashes
      // per doc, one codegen'd [[MinHashBands]] pass) feeds BOTH the
      // component loop and the final cluster join — without pinning
      // it the heaviest stage runs twice
      val db = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1) // token-free docs leave the oracle's unnest too
        .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
        .select(col("doc_id"),
          col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1")))
      // shared band-graph clustering (candidate bypass + CC) — see
      // graph.BandCluster; isolated docs become their own n_docs=1
      // clusters without entering the component loop
      graft.graph.BandCluster.assign(db)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM documents),
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
      |mh AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
      |db AS (
      |  SELECT doc_id,
      |    min(CASE WHEN band = 0 THEN bucket END) AS b0,
      |    min(CASE WHEN band = 1 THEN bucket END) AS b1
      |  FROM (
      |    SELECT doc_id, seed // 8 AS band,
      |      ${Portable.md5LongSql("concat(seed // 8, '|', string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)))")} AS bucket
      |    FROM mh GROUP BY doc_id, seed // 8)
      |  GROUP BY doc_id),
      |edges AS (SELECT b0 AS a, b1 AS b FROM db UNION SELECT b1, b0 FROM db),
      |nodes AS (SELECT DISTINCT b0 AS node FROM db UNION SELECT DISTINCT b1 FROM db),
      |reach AS (
      |  SELECT node, node AS lab FROM nodes
      |  UNION
      |  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      |comp AS (SELECT node, min(lab) AS cl FROM reach GROUP BY node)
      |SELECT min(doc_id) AS cluster, count(*) AS n_docs
      |FROM db JOIN comp c ON db.b0 = c.node
      |GROUP BY c.cl
      |ORDER BY cluster""".stripMargin))

  /** GPT-style sequence packing: documents are concatenated in
    * deterministic hash order and cut into fixed 512-token training
    * sequences (documents straddle cuts — the standard pack-then-cut
    * regime). Per sequence: how many documents contribute, how many
    * tokens it holds (512 except the tail), and the first/last
    * contributing document.
    *
    * The global token offset comes from [[Dist.globalCumsum]] —
    * order-preserving hash-range bucketing + per-bucket offsets —
    * NOT a single-partition window; packing a 100 TB corpus is
    * exactly where `Window.orderBy(…)` with no partition key would
    * melt one executor. A doc spanning sequences explodes into its
    * (start÷512 … end÷512) range: per-row arithmetic, no shuffle.
    */
  val q101 = Q(
    "q101_pack_sequences",
    (s, dir) => {
      val sized = Tables.docs(s, dir)
        .select(col("doc_id"),
          size(Portable.tokens(col("text"))).cast("long").as("nt"))
        .filter(col("nt") >= 1)
        .withColumn("hk",
          Portable.md5Long(concat(lit("pack:"), col("doc_id").cast("string"))))
      Dist.globalCumsum(sized, "hk", Seq("doc_id"), "nt", "cum",
        s.sparkContext.defaultParallelism)
        .withColumn("st", col("cum") - col("nt"))
        .withColumn("en", col("cum") - 1)
        .withColumn("seq_id",
          explode(sequence(expr("st div 512"), expr("en div 512"))))
        .groupBy("seq_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(least(col("en"), col("seq_id") * 512 + 511) -
            greatest(col("st"), col("seq_id") * 512) + 1).cast("long").as("n_tokens"),
          min_by(col("doc_id"), col("st")).as("first_doc"),
          max_by(col("doc_id"), col("en")).as("last_doc"))
        .orderBy("seq_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS nt
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, nt, ${Portable.md5LongSql("concat('pack:', CAST(doc_id AS VARCHAR))")} AS hk
      |  FROM t WHERE nt >= 1),
      |c AS (
      |  SELECT doc_id, nt,
      |    CAST(sum(nt) OVER (ORDER BY hk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM o),
      |spans AS (SELECT doc_id, cum - nt AS st, cum - 1 AS en FROM c),
      |ex AS (
      |  SELECT doc_id, st, en, unnest(range(st // 512, en // 512 + 1)) AS seq
      |  FROM spans)
      |SELECT CAST(seq AS BIGINT) AS seq_id, count(*) AS n_docs,
      |  CAST(sum(least(en, seq * 512 + 511) - greatest(st, seq * 512) + 1) AS BIGINT) AS n_tokens,
      |  arg_min(doc_id, st) AS first_doc, arg_max(doc_id, en) AS last_doc
      |FROM ex GROUP BY 1 ORDER BY seq_id""".stripMargin))

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
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
      |mh AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
      |db AS (
      |  SELECT doc_id,
      |    min(CASE WHEN band = 0 THEN bucket END) AS b0,
      |    min(CASE WHEN band = 1 THEN bucket END) AS b1
      |  FROM (
      |    SELECT doc_id, seed // 8 AS band,
      |      ${Portable.md5LongSql("concat(seed // 8, '|', string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)))")} AS bucket
      |    FROM mh GROUP BY doc_id, seed // 8)
      |  GROUP BY doc_id),
      |edges AS (SELECT b0 AS a, b1 AS b FROM db UNION SELECT b1, b0 FROM db),
      |nodes AS (SELECT DISTINCT b0 AS node FROM db UNION SELECT DISTINCT b1 FROM db),
      |reach AS (
      |  SELECT node, node AS lab FROM nodes
      |  UNION
      |  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      |comp AS (SELECT node, min(lab) AS cl FROM reach GROUP BY node),
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

  val all: Vector[Q] = Vector(q100, q101, q102, q103, q104, q105, q107)
}
