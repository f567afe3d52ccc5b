package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import graft.pipeline.SemDeDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.13 L3/L5 — similarity search over `array<float>`
  * embeddings and the multimodal join.
  *
  * Scale design: the brute-force top-k broadcasts the (tiny) query
  * set against the big side — no shuffle of the candidate table; the
  * ANN variant buckets by deterministic random-hyperplane signs so
  * the pair space is bucket-local. Centroid math uses posexplode +
  * per-position aggregation (a single shuffle keyed by (label,pos)),
  * never a driver-side collect.
  */
object VectorOps {

  /** Per-label centroid vectors as rounded arrays (shared by q50 and
    * q66; q49 keeps the long format as its output contract).
    */
  private[queries] def centroidVectors(s: SparkSession, dir: String): DataFrame =
    Tables.emb(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "pos0", "v")
      .groupBy(col("label").as("clabel"), (col("pos0") + 1).as("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))
      .groupBy("clabel")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cvec"))

  /** DuckDB twin of [[centroidVectors]]: CTE `cent(clabel, cvec)`. */
  private[queries] def centroidsSql: String =
    """cent AS (
      |  SELECT clabel, list(c ORDER BY pos) AS cvec FROM (
      |    SELECT label AS clabel, i AS pos,
      |      round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c
      |    FROM embeddings, generate_series(1, 64) g(i)
      |    GROUP BY 1, 2)
      |  GROUP BY clabel)""".stripMargin

  /** Every embedding against every broadcast label centroid, with
    * `d2` = round(d², 6) (q50, q66, q139, q146).
    */
  private def centroidD2(s: SparkSession, dir: String): DataFrame =
    SemDeDup.withD2(Tables.emb(s, dir).crossJoin(broadcast(centroidVectors(s, dir))), "cvec")

  /** Each embedding's nearest label centroid as its IVF cell:
    * (vec_id, embedding, cell, nrm) (q66, q139).
    */
  private def centroidCells(s: SparkSession, dir: String): DataFrame =
    SemDeDup.nearestCell(centroidD2(s, dir), "clabel")

  /** Rank (query, candidate) pairs by rounded cosine and keep top-k.
    * `pairs` must carry (query_id, qe, qn) and (cand_id, ce, cn).
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("cand_id"), col("cos"), col("rn"))
      .orderBy("query_id", "rn")

  /** Brute-force cosine top-5 for the first 20 vectors — the exact
    * baseline an ANN variant is judged against. Query side is
    * broadcast; ranking keys on the rounded cosine with id tiebreak
    * so both engines rank identically.
    */
  val q48 = Q(
    "q48_cosine_topk_bruteforce",
    (s, dir) => {
      val wn = Tables.emb(s, dir)
        .withColumn("nrm", V.norm("embedding"))
      val qs = wn.filter(col("vec_id") < 20).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val cand = wn.select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      rankTopK(
        cand.crossJoin(broadcast(qs)).filter(col("query_id") =!= col("cand_id")),
        k = 5)
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, embedding, ${V.normSql("embedding")} AS nrm
      |  FROM embeddings)
      |SELECT query_id, cand_id, cos, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) DESC,
      |        c.vec_id) AS rn
      |  FROM wn q JOIN wn c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 20)
      |WHERE rn <= 5
      |ORDER BY query_id, rn""".stripMargin))

  /** Per-label centroids: posexplode + (label, position) aggregation.
    * One shuffle; works unchanged at any embedding count.
    */
  val q49 = Q(
    "q49_label_centroids",
    (s, dir) => {
      Tables.emb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "pos0", "v")
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("c"))
        .orderBy("label", "pos")
    },
    Some("""SELECT label, CAST(i AS INTEGER) AS pos,
      |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c
      |FROM embeddings, generate_series(1, 64) g(i)
      |GROUP BY 1, 2
      |ORDER BY label, pos""".stripMargin))

  /** Nearest-centroid assignment → label confusion matrix. Centroids
    * (rounded, so both engines share exact values) are broadcast
    * against the embedding table. The argmin is min(struct(d2,
    * clabel)) — lexicographic struct ordering ≡ the oracle's ORDER BY
    * d2, clabel — which aggregates map-side in one pass; a
    * row_number window here would add a full shuffle+sort of the
    * vectors×centroids pair stream.
    */
  val q50 = Q(
    "q50_nearest_centroid_confusion",
    (s, dir) => {
      centroidD2(s, dir)
        .groupBy("vec_id", "label")
        .agg(min(struct(col("d2"), col("clabel"))).as("best"))
        .groupBy(col("label"), col("best.clabel").as("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    },
    Some(s"""WITH $centroidsSql,
      |assigned AS MATERIALIZED (
      |  SELECT label, clabel FROM (
      |    SELECT e.label, c.clabel,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(${V.dist2Sql("e.embedding", "c.cvec")}, 6), c.clabel) AS rn
      |    FROM embeddings e CROSS JOIN cent c)
      |  WHERE rn = 1)
      |SELECT label, clabel AS assigned, count(*) AS n
      |FROM assigned
      |GROUP BY 1, 2
      |ORDER BY label, assigned""".stripMargin))

  /** The q51 random-hyperplane LSH bucket, shared with q235's
    * index-backed retrieval. The hyperplane weights are md5-derived
    * CONSTANTS: evaluate the same Md5Long60 hash once at
    * plan-build time (8 planes × 64 dims = 512 hashes total) and
    * embed them as array literals, instead of re-deriving all 512
    * inside a per-row lambda (2000 rows × 512 md5 calls at sf0.1 —
    * pure waste). Each plane's dot is the codegen'd VecDot with the
    * same left-to-right fold as the oracle, so the sign of a
    * near-zero dot stays deterministic and bucket membership
    * identical.
    */
  private[queries] def hyperplaneBucket(embCol: String): org.apache.spark.sql.Column = {
    val planes: Seq[Array[Double]] = (0 to 7).map { p =>
      (1 to 64).map { d =>
        (graft.functions.Md5Long60.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"hp:$p:$d"))
          % 2001 - 1000) / 1000.0
      }.toArray
    }
    planes.zipWithIndex.map { case (w, p) =>
      when(graft.functions.VecMath.dotCol(col(embCol), lit(w)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[hyperplaneBucket]] (same md5-derived planes,
    * same left-to-right fold).
    */
  private[queries] def hyperplaneBucketSql(embCol: String): String =
    s"""CAST(list_sum(list_transform(range(0, 8), p ->
       |      CASE WHEN list_sum(list_transform(
       |        list_zip($embCol,
       |          list_transform(range(1, 65), d ->
       |            (${Portable.md5LongSql("concat('hp:', p, ':', d)")}
       |              % 2001 - 1000) / 1000.0)),
       |        x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0
       |      THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** ANN via random-hyperplane LSH: 8 deterministic md5-derived
    * hyperplanes → 8-bit sign bucket → exact cosine only within the
    * query's bucket. The scale path next to q48's exact baseline.
    */
  val q51 = Q(
    "q51_ann_lsh_hyperplane",
    (s, dir) => {
      val wn = Tables.emb(s, dir)
        .withColumn("nrm", V.norm("embedding"))
        .withColumn("bucket", hyperplaneBucket("embedding"))
      val qs = wn.filter(col("vec_id") < 20).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("bucket").as("qb"))
      val cand = wn.select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("bucket"))
      rankTopK(
        cand.join(broadcast(qs),
          col("bucket") === col("qb") && col("cand_id") =!= col("query_id")),
        k = 3)
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, embedding, ${V.normSql("embedding")} AS nrm,
      |    ${hyperplaneBucketSql("embedding")} AS bucket
      |  FROM embeddings)
      |SELECT query_id, cand_id, cos, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) DESC,
      |        c.vec_id) AS rn
      |  FROM wn q JOIN wn c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 20)
      |WHERE rn <= 3
      |ORDER BY query_id, rn""".stripMargin))

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

  /** IVF-style search (the "coarse quantizer" scale path next to
    * LSH): vectors are assigned to their nearest centroid cell
    * (nprobe=1), and each query searches only its own cell — the
    * candidate set shrinks by ~|cells|× at the cost of recall near
    * cell boundaries.
    */
  val q66 = Q(
    "q66_ivf_search",
    (s, dir) => {
      // same map-side argmin as q50: (d2, clabel) decides before the
      // embedding field is ever compared (clabel is unique per cell)
      val assigned = centroidCells(s, dir)
      val qs = assigned.filter(col("vec_id") < 20).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cell").as("qcell"))
      val cand = assigned.select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cell"))
      rankTopK(
        cand.join(broadcast(qs),
          col("cell") === col("qcell") && col("cand_id") =!= col("query_id")),
        k = 3)
    },
    Some(s"""WITH $centroidsSql,
      |${SemDeDup.nearestCellSql("cent", "clabel", "cvec")}
      |SELECT query_id, cand_id, cos, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) DESC,
      |        c.vec_id) AS rn
      |  FROM assigned q JOIN assigned c
      |    ON q.cell = c.cell AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 20)
      |WHERE rn <= 3
      |ORDER BY query_id, rn""".stripMargin))

  /** Embedding-cosine near-dup detection, blocked by label (the
    * metadata-blocking pattern: exact cosine only within a block, so
    * pair volume is Σ blockᵢ² — same scale shape as the text dedups).
    *
    * DEMOTED quadratic baseline (round 5, [[graft.Q.baselines]]):
    * label cardinality is fixed, so this is quadratic in corpus size.
    * q180 holds the registry slot; BaselineSpec pins this one against
    * a driver-side brute force.
    */
  val q67 = Q(
    "q67_dedup_embedding_blocked",
    (s, dir) => {
      val wn = Tables.emb(s, dir).withColumn("nrm", V.norm("embedding"))
      wn.select(col("vec_id").as("va"), col("label").as("la"),
          col("embedding").as("ea"), col("nrm").as("na"))
        .join(wn.select(col("vec_id").as("vb"), col("label").as("lb"),
          col("embedding").as("eb"), col("nrm").as("nb")),
          col("la") === col("lb") && col("va") < col("vb"))
        .withColumn("cos", round(V.dot("ea", "eb") / (col("na") * col("nb")), 6))
        .filter(col("cos") >= 0.4)
        .select(col("va"), col("vb"), col("la").as("label"), col("cos"))
        .orderBy("va", "vb")
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, label, embedding, ${V.normSql("embedding")} AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label,
      |  round(${V.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
      |FROM wn a JOIN wn b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(${V.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= 0.4
      |ORDER BY va, vb""".stripMargin))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic near-dup
    * removal scoped to IVF cells. Vectors are assigned to their
    * nearest centroid cell (same map-side argmin as q66 — the
    * centroid table broadcasts, assignment is one aggregate), then
    * exact cosine runs ONLY within a cell, and a vector is dropped
    * when a smaller-id cell-mate sits above the similarity threshold;
    * the keeper is its smallest such neighbour. Pair volume is
    * Σ cellᵢ² instead of n² — the shape that makes semantic dedup
    * feasible at corpus scale. Threshold compares the ROUNDED cosine
    * so the cut is reproducible cross-engine.
    *
    * DEMOTED quadratic baseline (round 5, [[graft.Q.baselines]]):
    * the label-centroid cell count is fixed, so cells grow linearly
    * with the corpus (measured 175× cost at 10× data, 1890 s at
    * sf10). q180's √n sampled quantizer holds the registry slot;
    * SemDeDupSpec audits both variants' recall vs ground truth.
    */
  val q139 = Q(
    "q139_semdedup_cells",
    (s, dir) => SemDeDup.dedupReport(centroidCells(s, dir), 0.35),
    Some(s"""WITH $centroidsSql,
      |${SemDeDup.nearestCellSql("cent", "clabel", "cvec")},
      |${SemDeDup.dedupReportSql(0.35)}""".stripMargin))

  /** IVF with nprobe=2 + recall audit: each query probes its TWO
    * nearest cells (q66 is nprobe=1) and the probe result is scored
    * against the exact brute-force top-10 — recall@10 per query. This
    * is the dial a production ANN deployment tunes (probe more cells
    * → higher recall, more candidates); auditing it against the exact
    * answer is how the setting is chosen. Candidates carry ONE cell
    * each; only queries fan out (×2), so candidate volume stays
    * Σ cellᵢ·|queries probing i|.
    */
  val q146 = Q(
    "q146_ivf_nprobe2_recall",
    (s, dir) => {
      val byDist = Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("clabel"))
      // pinned: `ranked` feeds THREE consumers (cand, qs, exactQs);
      // without the checkpoint each one re-runs the n×k assignment
      // window AND the centroid aggregation (measured ~2× the whole
      // query's cost at sf0.1)
      val ranked = Pins.pin(centroidD2(s, dir)
        .withColumn("crn", row_number().over(byDist))
        .filter(col("crn") <= 2)
        .select(col("vec_id"), col("embedding"), col("clabel").as("cell"),
          col("crn"))
        .withColumn("nrm", V.norm("embedding")))
      val cand = ranked.filter(col("crn") === 1).select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("cell"))
      // queries fan out to their 2 probe cells
      val qs = ranked.filter(col("vec_id") < 50).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cell").as("qcell"))
      val probed = cand.join(broadcast(qs),
          col("cell") === col("qcell") && col("cand_id") =!= col("query_id"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("rn") <= 10)
        .select(col("query_id").as("pq"), col("cand_id").as("pc"))
      val exactQs = ranked.filter(col("crn") === 1 && col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val exact = cand.crossJoin(broadcast(exactQs))
        .filter(col("cand_id") =!= col("query_id"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("rn") <= 10)
      exact
        .join(probed,
          col("query_id") === col("pq") && col("cand_id") === col("pc"),
          "left")
        .groupBy("query_id")
        .agg((sum(when(col("pc").isNotNull, 1).otherwise(0)) / 10.0).as("recall10"))
        .orderBy("query_id")
    },
    Some(s"""WITH $centroidsSql,
      |ranked AS (
      |  SELECT vec_id, embedding, cell, crn,
      |    sqrt(${V.dotSql("embedding", "embedding")}) AS nrm
      |  FROM (
      |    SELECT e.vec_id, e.embedding, c.clabel AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(${V.dist2Sql("e.embedding", "c.cvec")}, 6), c.clabel) AS crn
      |    FROM embeddings e CROSS JOIN cent c)
      |  WHERE crn <= 2),
      |cand AS (SELECT vec_id AS cand_id, embedding AS ce, nrm AS cn, cell
      |         FROM ranked WHERE crn = 1),
      |qs AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cell AS qcell
      |       FROM ranked WHERE vec_id < 50),
      |probed AS (
      |  SELECT query_id AS pq, cand_id AS pc FROM (
      |    SELECT query_id, cand_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY round(${V.dotSql("qe", "ce")} / (qn * cn), 6) DESC,
      |          cand_id) AS rn
      |    FROM cand JOIN qs ON cell = qcell AND cand_id <> query_id)
      |  WHERE rn <= 10),
      |exactq AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
      |           FROM ranked WHERE crn = 1 AND vec_id < 50),
      |exact AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT query_id, cand_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY round(${V.dotSql("qe", "ce")} / (qn * cn), 6) DESC,
      |          cand_id) AS rn
      |    FROM cand CROSS JOIN exactq
      |    WHERE cand_id <> query_id)
      |  WHERE rn <= 10)
      |SELECT e.query_id,
      |  sum(CASE WHEN p.pc IS NOT NULL THEN 1 ELSE 0 END) / 10.0 AS recall10
      |FROM exact e LEFT JOIN probed p
      |  ON e.query_id = p.pq AND e.cand_id = p.pc
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin))

  /** SemDeDup whose cell count GROWS with the corpus — the 100 TB
    * shape q139 can't reach. q139 (and q67) pair within label-derived
    * IVF cells, but that cell COUNT is fixed, so cells grow linearly
    * with the corpus and pair volume quadratically (q139 measured
    * 175× cost at 10× data on the sf10 fixtures). Here the coarse
    * quantizer is SAMPLED FROM THE DATA — every √n-th vec_id is a
    * seed — so cell count k ≈ √n grows with the corpus and tracks
    * data density (dense regions contribute proportionally more
    * seeds), and exact cosine runs only within a seed's cell. k ≈ √n
    * is the classic IVF balance point: assignment costs n·k = n^1.5
    * and the pair stage Σ cellᵢ² ≈ n·√n = n^1.5 — both stages
    * sub-quadratic (≈31× at 10× data vs q139's measured 175×). This
    * is IVF with a sampled coarse quantizer (the
    * standard construction when k-means is too expensive); the
    * tradeoff is recall at cell boundaries, which SemDeDupSpec
    * measures against brute-force ground truth alongside q139's own
    * cell-scoped recall — approximation with a measured error, as for
    * q146's recall@10 and q60's sketch bounds.
    *
    * The assignment/keeper machinery lives in
    * [[graft.pipeline.SemDeDup]]; `cellAssign` switches to a second
    * quantizer level once the seed set outgrows broadcast comfort
    * (q181 pins that regime with its own oracle, ScaleSpec proves the
    * switch triggers).
    */
  val q180 = Q(
    "q180_semdedup_scaled",
    (s, dir) =>
      SemDeDup.dedupReport(SemDeDup.cellAssign(Tables.emb(s, dir)), 0.35),
    Some(s"""WITH ${SemDeDup.seedsSql()},
      |${SemDeDup.nearestCellSql("seeds", "seed_id", "svec")},
      |${SemDeDup.dedupReportSql(0.35)}""".stripMargin))

  /** q180's two-level quantizer regime, pinned as its own registry
    * entry. Past n ≈ 10⁹ the √n seed set itself outgrows broadcast
    * comfort (~300 MB at n = 10¹⁰, d = 768), so
    * [[graft.pipeline.SemDeDup.cellAssignTwoLevel]] recurses the
    * sampled quantizer once: only the n^¼ SUPER-seeds are broadcast,
    * seeds are reached through an equi-join on the super-cell key,
    * and assignment work drops from n^1.5 to n^1.25. This query
    * forces that path at every SF (the production switch in
    * `cellAssign` is seed-count-driven; ScaleSpec proves it
    * triggers), so the oracle hash-gate covers the exact plan shape
    * the engine would run at 100 TB. Super-cell boundary recall is
    * measured by SemDeDupSpec against brute-force ground truth, like
    * q180's.
    */
  val q181 = Q(
    "q181_semdedup_2level",
    (s, dir) => {
      val e = Tables.emb(s, dir)
      SemDeDup.dedupReport(SemDeDup.cellAssignTwoLevel(e, SemDeDup.steps(e)), 0.35)
    },
    Some(s"""WITH ${SemDeDup.twoLevelSql},
      |${SemDeDup.dedupReportSql(0.35)}""".stripMargin))

  // q67/q139 are demoted quadratic baselines (see Q.baselines) —
  // q180 holds the embedding near-dup registry slot, q181 pins its
  // two-level broadcast-safe regime.
  val all: Vector[Q] =
    Vector(q48, q49, q50, q51, q52, q66, q146, q180, q181)
}
