package graft.queries

import graft.{Q, Tables}
import graft.functions.{Dist, Portable, VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 curation additions — evaluation and hygiene operators a
  * training-data pipeline runs alongside the q182-q190 set: rank-based
  * classifier AUC (q191), cross-document duplicated-span mass (q192,
  * the exact-substring dedup report), a streaming first-writer-wins
  * near-dup filter (q193), Johnson-Lindenstrauss random-projection
  * search with a recall audit (q194), and per-dimension embedding
  * health diagnostics (q195). Reference scope: the (N) pipeline
  * surface of SURVEY.md §2.13 (the reference delegates analytics to
  * its Hive binary, `/root/reference/backend/hive_manager.py:24-29`,
  * and has no native counterparts; these are standard published
  * constructions re-expressed Spark-first).
  */
object CurationOps2 {

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
      val scored = Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(Portable.tokens(col("text"))).as("tok"))
        .withColumn("w",
          (pmod(Portable.md5Long(col("tok")), lit(64)) * 37 + 11) % 97 - 48)
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
        .withColumn("score", round(
          col("wsum").cast("double") / (col("n_toks").cast("double") * 97.0), 6))
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
    Some(s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang, count(*) AS n_toks,
      |    CAST(sum(((${Portable.md5LongSql("tok")} % 64) * 37 + 11) % 97 - 48)
      |      AS BIGINT) AS wsum
      |  FROM toks GROUP BY 1, 2),
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

  /** Cross-document duplicated-span mass (the exact-substring dedup
    * report of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): 40-char windows are fingerprinted and
    * a window occurring in >= 2 documents is duplicated text; per
    * doc, the fraction of its sampled windows that exist elsewhere
    * and the resulting keep/trim/drop action. Windows are sampled by
    * CONTENT-DEFINED anchors ([[graft.functions.AnchorShingleHashes]]
    * — winnowing, Schleimer et al. 2003: keep h % 4 == 0, one
    * codegen'd pass per doc): selection depends on the window's
    * bytes, never its offset, so every copy of a duplicated span
    * samples the SAME windows regardless of alignment — a fixed
    * stride-4 grid would miss copies offset by 1-3 chars entirely,
    * while stride 1 shuffles |corpus chars| rows (measured 215 s +
    * task OOM at sf10; anchors cut it 4x with an unbiased estimate
    * of the same fraction). One explode + one groupBy on fixed-width
    * 60-bit hashes + one join back against only the DUPLICATED
    * window set (the groupBy output reuses the explode's exchange) —
    * linear in total text size, the 100 TB-safe shape (the
    * suffix-array formulation is sequential; hashed anchored spans
    * are its distributed equivalent).
    */
  val q192 = Q(
    "q192_span_dup_mass",
    (s, dir) => {
      val sh = Tables.docs(s, dir)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"),
          explode(expr("anchor_shingle_hashes(text, 40, 4)")).as("h"))
      val dup = sh.groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1L).as("isdup"))
      sh.join(dup, Seq("h"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_win"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_win"), 6))
        .withColumn("action",
          when(col("n_dup") / col("n_win") >= 0.5, "drop")
            .when(col("n_dup") / col("n_win") >= 0.2, "trim")
            .otherwise("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
      |  SELECT doc_id, h
      |  FROM (
      |    SELECT doc_id, unnest(list_filter(list_distinct(list_transform(
      |        range(1, CAST(length(text) AS BIGINT) - 38),
      |        i -> ${Portable.md5LongSql("substr(text, CAST(i AS INTEGER), 40)")})),
      |      h -> h % 4 = 0)) AS h
      |    FROM documents WHERE length(text) >= 40)),
      |cnt AS (SELECT h, count(*) AS nd FROM sh GROUP BY 1)
      |SELECT doc_id, count(*) AS n_win,
      |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac,
      |  CASE WHEN sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*) >= 0.5 THEN 'drop'
      |       WHEN sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*) >= 0.2 THEN 'trim'
      |       ELSE 'keep' END AS action
      |FROM sh JOIN cnt USING (h)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** Streaming first-writer-wins near-dup filter: documents arrive as
    * a stream, each doc's MinHash band signatures claim their LSH
    * buckets, and a running stateful aggregate elects the smallest
    * doc_id per bucket ([[graft.streaming.EventStreams.docBandWinners]]
    * — state is one row per distinct band signature, the exact
    * keyspace the batch LSH join shuffles on). A document survives
    * ingest iff it owns ALL of its buckets; a later doc colliding
    * with an earlier one on any band is rejected at arrival, before
    * it costs a single downstream byte. The final ownership table is
    * joined against the batch signature set, so output = per-doc
    * band count + kept verdict — identical to what the batch LSH
    * election computes over the same data (the unified-model
    * guarantee the oracle checks).
    */
  val q193 = Q(
    "q193_stream_neardup_filter",
    (s, dir) => {
      val winners = graft.streaming.EventStreams
        .docBandWinners(s, dir)
      val sigs = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
      sigs.join(winners, "sig")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          min(when(col("winner") === col("doc_id"), 1).otherwise(0))
            .cast("int").as("kept"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM documents),
      |tf AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM tf),
      |mh AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
      |sigs AS (
      |  SELECT doc_id, seed // 8 AS band,
      |    string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)) AS sig
      |  FROM mh GROUP BY 1, 2),
      |win AS (SELECT band, sig, min(doc_id) AS winner FROM sigs GROUP BY 1, 2)
      |SELECT s.doc_id, count(*) AS n_bands,
      |  CAST(min(CASE WHEN w.winner = s.doc_id THEN 1 ELSE 0 END) AS INTEGER) AS kept
      |FROM sigs s JOIN win w ON w.band = s.band AND w.sig = s.sig
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin))

  /** Johnson-Lindenstrauss random projection search + recall audit:
    * embeddings are projected 64 -> 16 dims through a deterministic
    * ±1 sign matrix (signs = md5 parity of "jl:i:j", derived
    * identically by the oracle), and every probe's top-10 by
    * projected distance is scored against its exact top-10 — recall
    * and distance distortion, measured not assumed (the q132/q146
    * audit pattern). The projection is ONE codegen'd kernel call per
    * row ([[graft.functions.JlProject]] — the folded Column form is a
    * ~10⁴-node expression tree that costs seconds of plan overhead;
    * CurationOps2Spec pins the two equal) — no 64x row explode, no
    * shuffle; pair scans reuse the q48 broadcast-probe shape. At
    * scale the projected vectors are 4x smaller than the originals —
    * this is the compressed-domain prefilter that makes brute-force
    * rescoring affordable, complementary to PQ/ADC (q186).
    */
  val q194 = Q(
    "q194_jl_projection_recall",
    (s, dir) => {
      val withProj = Tables.emb(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("proj", expr("jl_project(embedding, 16)"))
      // FIXED-SIZE probe panel (~20), not a fixed fraction: a `% 100`
      // probe rule makes the audit's pair space 0.01·n² — quadratic
      // (the q118 lesson). The modulus scales with the corpus so
      // audited pairs stay ~20·n: linear at any scale.
      val mod = withProj.select(greatest(lit(100L),
        ceil(count(lit(1)) / 20.0).cast("long")).as("mod"))
      val probes = withProj.crossJoin(broadcast(mod))
        .filter(col("vec_id") % col("mod") === 0)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("pe"), col("proj").as("pp"))
      val pairs = withProj
        .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("d2e", V.dist2("embedding", "pe"))
        .withColumn("d2p", V.dist2("proj", "pp"))
      val we = Window.partitionBy("probe_id").orderBy(col("d2e"), col("vec_id"))
      val wp = Window.partitionBy("probe_id").orderBy(col("d2p"), col("vec_id"))
      pairs
        .withColumn("re", row_number().over(we))
        .withColumn("rp", row_number().over(wp))
        .filter(col("re") <= 10 || col("rp") <= 10)
        .groupBy("probe_id")
        .agg(
          sum(when(col("re") <= 10 && col("rp") <= 10, 1L).otherwise(0L)).as("hits"),
          round(sum(when(col("re") <= 10 && col("rp") <= 10, 1L).otherwise(0L)) / 10.0, 6)
            .as("recall"),
          round(avg(when(col("re") <= 10 && col("d2e") > 0, col("d2p") / col("d2e"))), 6)
            .as("avg_distortion"))
        .orderBy("probe_id")
    },
    Some(s"""WITH pr AS (
      |  SELECT vec_id, embedding,
      |    list_transform(range(0, 16), j -> list_sum(list_transform(range(0, 64),
      |      i -> CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) *
      |        CASE WHEN ${Portable.md5LongSql("concat('jl:', i, ':', j)")} % 2 = 0
      |          THEN 1.0 ELSE -1.0 END))) AS proj
      |  FROM embeddings),
      |md AS (SELECT greatest(100, CAST(ceil(count(*) / 20.0) AS BIGINT)) AS m
      |       FROM embeddings),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id,
      |    ${V.dist2Sql("c.embedding", "p.embedding")} AS d2e,
      |    ${V.dist2Sql("c.proj", "p.proj")} AS d2p
      |  FROM pr p CROSS JOIN md JOIN pr c
      |    ON p.vec_id % md.m = 0 AND c.vec_id <> p.vec_id),
      |rk AS (
      |  SELECT probe_id, vec_id, d2e, d2p,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY d2e, vec_id) AS re,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY d2p, vec_id) AS rp
      |  FROM pairs)
      |SELECT probe_id,
      |  CAST(sum(CASE WHEN re <= 10 AND rp <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |  round(sum(CASE WHEN re <= 10 AND rp <= 10 THEN 1 ELSE 0 END) / 10.0, 6) AS recall,
      |  round(avg(CASE WHEN re <= 10 AND d2e > 0 THEN d2p / d2e END), 6) AS avg_distortion
      |FROM rk
      |GROUP BY 1
      |ORDER BY probe_id""".stripMargin))

  /** Per-dimension embedding health diagnostics — the "dead dim /
    * scale anomaly" check run before any geometry-dependent stage
    * (k-means, SemDeDup, ANN): mean, spread, range, and near-zero
    * share per coordinate, plus a dead-dimension verdict. One
    * posexplode + one aggregate on a 64-value key — constant output
    * size at any corpus scale, and the map-side partial aggregation
    * means the shuffle carries 64 x #partitions rows, not the data.
    */
  val q195 = Q(
    "q195_embedding_dim_health",
    (s, dir) => {
      Tables.emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          round(avg(col("x")), 6).as("mean"),
          round(stddev_samp(col("x")), 6).as("std"),
          min(col("x")).as("minv"),
          max(col("x")).as("maxv"),
          sum(when(abs(col("x")) < 0.001, 1L).otherwise(0L)).as("n_small"))
        .withColumn("dead", (col("std") < 0.01).cast("int"))
        .select("dim", "n", "mean", "std", "minv", "maxv", "n_small", "dead")
        .orderBy("dim")
    },
    Some("""WITH ex AS (
      |  SELECT CAST(g.i - 1 AS INTEGER) AS dim,
      |    CAST(embedding[g.i] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN generate_series(1, 64) g(i))
      |SELECT dim, count(*) AS n,
      |  round(avg(x), 6) AS mean,
      |  round(stddev_samp(x), 6) AS std,
      |  min(x) AS minv,
      |  max(x) AS maxv,
      |  CAST(sum(CASE WHEN abs(x) < 0.001 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
      |  CAST(round(stddev_samp(x), 6) < 0.01 AS INTEGER) AS dead
      |FROM ex
      |GROUP BY 1
      |ORDER BY dim""".stripMargin))

  val all: Vector[Q] = Vector(q191, q192, q193, q194, q195)
}
