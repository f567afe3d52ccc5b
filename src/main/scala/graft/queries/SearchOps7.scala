package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.functions._

/** Round-12 retrieval wave: SEMANTIC cross-split contamination — the
  * embedding-space counterpart of q238's fingerprint-based
  * train/eval check. Fingerprint contamination catches verbatim
  * leakage; an eval example that was paraphrased or lightly
  * perturbed before landing in the training set shares no n-gram
  * fingerprint but sits at a suspiciously small embedding distance —
  * exactly what eval decontamination pipelines screen for before a
  * benchmark run.
  *
  * Round 13 upgraded the screen to eval-side MULTI-PROBE and added
  * q292, the measured-recall audit the r12 verdict asked for. What
  * the measurement showed (brute-force sweep over the fixtures):
  * every true sub-1.15 pair sits at d² in [0.94, 1.15] — the
  * threshold marks the 5th-percentile NATURAL neighborhood, with no
  * clone-level pairs across the split — and probe-count recall
  * plateaus (sf0.1: p=1 → 0.14, p=2 → 0.29, p=8 → 0.61 of true
  * pairs). At that distance (cos ≈ 0.43 for unit-ish vectors) no
  * sub-quadratic candidate structure separates signal from noise
  * (hyperplane-LSH collision ≈ 0.64/bit vs 0.5 random); recall ≥ 0.9
  * at this threshold costs a constant fraction of the n² pair space
  * in ANY scheme. So the design keeps the cheap p=2 probe (doubles
  * measured recall for ~1.3× pair volume), REPORTS the achieved
  * recall per SF via q292's registry row, and proves the property a
  * decontamination screen must never lose: CLONE-level proximity
  * (d² ≈ 0, the actual paraphrase-leak signature) always quantizes
  * into the eval's first probe cell — Round13Spec plants clones and
  * pins the capture end-to-end.
  */
object SearchOps7 {

  /** Integer d² threshold for "contaminated" (d² ≤ 1.15 lifted to the
    * rounded-micro integer scale): the fixture's 5th-percentile
    * natural nearest-neighbor neighborhood. Shared by q287 (the
    * screen) and q292 (its measured-recall audit).
    */
  private[queries] val ContaminationD2i = 1150000L

  /** Eval probes per q287/q292: top-2 nearest quantizer cells. */
  private[queries] val EvalProbes = 2

  /** One multi-probe quantizer pass over the FULL embedding set
    * (seeds must come from the shared corpus, never one split):
    * (vec_id, embedding, probes[2]). probes[0] is exactly the
    * [[graft.pipeline.SemDeDup.cellAssign]] cell (same rounded-(d²,
    * id) ranking), so the train side reads element 1 and pays nothing
    * for the eval side's second probe. Checkpointed: read as both
    * split sides by both queries.
    */
  private[queries] def probed(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Pins.pin(graft.pipeline.SemDeDup.cellProbes(Tables.emb(s, dir), EvalProbes))

  /** The shared-quantizer assignment CTE for the q287 and q292
    * oracles: every (vec_id, cell) with probe rank ≤ 2; rank 1 is the
    * cellAssign cell. It ranks each vector's probes over ALL seeds.
    * The engine does the same only up to 65 536 seeds
    * (`SemDeDup.cellProbes`' `maxBroadcastSeeds`; the seed count is
    * ≈ √n, so ~4.3·10⁹ embeddings with dense ids). Above that cutover
    * `cellProbes` ranks probes only within the vector's super-cell, so
    * both oracles stop matching the engine there; every fixture SF is
    * far below it.
    */
  private def assignedSql: String =
    s"""st AS (
      |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS step
      |  FROM embeddings),
      |seeds AS MATERIALIZED (
      |  SELECT vec_id AS seed_id, embedding AS svec
      |  FROM embeddings CROSS JOIN st WHERE vec_id % st.step = 0),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, embedding, cell, rn FROM (
      |    SELECT e.vec_id, e.embedding, s.seed_id AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(${V.dist2Sql("e.embedding", "s.svec")}, 6), s.seed_id)
      |        AS rn
      |    FROM embeddings e CROSS JOIN seeds s)
      |  WHERE rn <= 2)""".stripMargin

  /** Top-20 eval vectors by nearest-TRAIN embedding distance, with a
    * contamination flag at d² ≤ 1.15 (the fixture's 5th-percentile
    * neighborhood — "closer than 95% of natural nearest-neighbor
    * distances"). Split is q257's release framing: vec_id % 7 == 3
    * is the eval set, the rest train.
    *
    * Scale shape (the q284 quantizer discipline): both splits are
    * assigned by the SHARED √n-cell quantizer in one pass over the
    * pinned frame; each EVAL probes its top-2 cells (IVF multi-probe)
    * while each train vector lives in its single nearest cell, so the
    * eval×train pair space is probe-cell-local — Σᵢ 2·evalᵢ·trainᵢ ≈
    * 2·n^1.5, never n². Distances are the engine-exact rounded d²
    * lifted to integers; the per-eval argmin is a lexicographic
    * (d2i, train_id) min — fold-order-free. An eval vector whose
    * probed cells hold no train vector is excluded (no pair row
    * exists in either engine — q284's singleton convention). The
    * remaining cross-cell miss rate is MEASURED by q292 at every SF
    * (single-probe measured 0.33 pair recall at sf0.01; the second
    * probe exists because of that row). The oracle holds below
    * 65 536 seeds only ([[assignedSql]]).
    */
  val q287 = Q(
    "q287_semantic_contamination",
    (s, dir) => {
      val pr = probed(s, dir)
      val ev = pr.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id").as("ev_id"), col("embedding").as("ee"),
          explode(col("probes")).as("cell"))
      val tr = pr.filter(pmod(col("vec_id"), lit(7)) =!= 3)
        .select(col("vec_id").as("tr_id"),
          element_at(col("probes"), 1).as("cell"), col("embedding").as("te"))
      ev.join(tr, Seq("cell"))
        .withColumn("d2i",
          round(round(V.dist2("ee", "te"), 6) * 1e6, 0).cast("long"))
        .groupBy(col("ev_id").as("vec_id"))
        .agg(min(struct(col("d2i"), col("tr_id"))).as("best"))
        .select(col("vec_id"),
          col("best.tr_id").as("nearest_train"),
          round(col("best.d2i") / 1e6, 6).as("min_d2"),
          (col("best.d2i") <= ContaminationD2i).as("contaminated"))
        .orderBy(col("min_d2"), col("vec_id"))
        .limit(20)
    },
    Some(s"""WITH $assignedSql,
      |ev AS (SELECT vec_id AS ev_id, cell, embedding AS ee
      |       FROM assigned WHERE vec_id % 7 = 3),
      |tr AS (SELECT vec_id AS tr_id, cell, embedding AS te
      |       FROM assigned WHERE vec_id % 7 <> 3 AND rn = 1),
      |d AS (
      |  SELECT ev_id, tr_id,
      |    CAST(round(round(${V.dist2Sql("ee", "te")}, 6) * 1e6) AS BIGINT) AS d2i,
      |    row_number() OVER (PARTITION BY ev_id
      |      ORDER BY CAST(round(round(${V.dist2Sql("ee", "te")}, 6) * 1e6) AS BIGINT),
      |               tr_id) AS rn
      |  FROM ev JOIN tr ON ev.cell = tr.cell)
      |SELECT ev_id AS vec_id, tr_id AS nearest_train,
      |  round(d2i / 1e6, 6) AS min_d2, d2i <= 1150000 AS contaminated
      |FROM d WHERE rn = 1
      |ORDER BY min_d2, vec_id LIMIT 20""".stripMargin))

  /** Measured-recall audit of q287's probe-cell restriction (VERDICT
    * r12 #3): the cell-local screen UNDERSTATES proximity exactly when
    * a true sub-threshold eval×train pair falls outside the eval's
    * probed cells, and this row MEASURES how often — the
    * q146/q180/q284 audit posture q287's scaladoc claims.
    *
    * A deterministic 64-eval panel (hash-ordered, SF-invariant size)
    * is brute-forced against the ENTIRE train split — 64·|train|
    * pairs, linear in n at every SF, a broadcast of 64 rows against
    * the train scan, never the n² pair space. Per true sub-threshold
    * pair, "captured" means the train vector's cell is among the
    * eval's probes (the only pairs q287 can see). Output: one row —
    * pair-level recall (fraction of true pairs visible to the screen)
    * and flag-level recall (fraction of truly-contaminated panel
    * evals q287 would still flag). The oracle shares q287's
    * assignment CTE and its 65 536-seed cutover ([[assignedSql]]).
    */
  val q292 = Q(
    "q292_contamination_recall_audit",
    (s, dir) => {
      val pr = probed(s, dir)
      val panel = pr.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id").as("ev_id"), col("probes"),
          col("embedding").as("ee"))
        .withColumn("rk", Portable.md5Long(
          concat(lit("aud:"), col("ev_id").cast("string"))))
        .orderBy("rk", "ev_id").limit(64)
        .drop("rk")
      val tr = pr.filter(pmod(col("vec_id"), lit(7)) =!= 3)
        .select(col("vec_id").as("tr_id"),
          element_at(col("probes"), 1).as("tc"), col("embedding").as("te"))
      val pairs = tr.join(broadcast(panel))
        .withColumn("d2i",
          round(round(V.dist2("ee", "te"), 6) * 1e6, 0).cast("long"))
      val hit = col("d2i") <= ContaminationD2i
      val cap = hit && array_contains(col("probes"), col("tc"))
      pairs.agg(
        countDistinct("ev_id").as("n_eval_audited"),
        sum(when(hit, 1L).otherwise(0L)).as("n_true_pairs"),
        sum(when(cap, 1L).otherwise(0L)).as("n_pairs_in_probe"),
        countDistinct(when(hit, col("ev_id"))).as("n_flagged_true"),
        countDistinct(when(cap, col("ev_id"))).as("n_flagged_captured"))
        .select(col("n_eval_audited"), col("n_true_pairs"),
          col("n_pairs_in_probe"), col("n_flagged_true"),
          col("n_flagged_captured"),
          round(col("n_pairs_in_probe").cast("double") /
            nullif(col("n_true_pairs"), lit(0L)), 6).as("pair_recall"),
          round(col("n_flagged_captured").cast("double") /
            nullif(col("n_flagged_true"), lit(0L)), 6).as("flag_recall"))
    },
    Some(s"""WITH $assignedSql,
      |panel AS (
      |  SELECT ev_id, ee FROM (
      |    SELECT vec_id AS ev_id, embedding AS ee,
      |      row_number() OVER (ORDER BY
      |        ${Portable.md5LongSql("concat('aud:', CAST(vec_id AS VARCHAR))")},
      |        vec_id) AS prn
      |    FROM assigned WHERE vec_id % 7 = 3 AND rn = 1)
      |  WHERE prn <= 64),
      |evp AS (SELECT vec_id AS ev_id, cell
      |        FROM assigned WHERE vec_id % 7 = 3),
      |tr AS (SELECT vec_id AS tr_id, cell AS tc, embedding AS te
      |       FROM assigned WHERE vec_id % 7 <> 3 AND rn = 1),
      |pairs AS (
      |  SELECT p.ev_id, tr_id,
      |    CAST(round(round(${V.dist2Sql("ee", "te")}, 6) * 1e6) AS BIGINT) AS d2i,
      |    (evp.cell IS NOT NULL) AS in_probe
      |  FROM panel p CROSS JOIN tr
      |  LEFT JOIN evp ON evp.ev_id = p.ev_id AND evp.cell = tr.tc)
      |SELECT count(DISTINCT ev_id) AS n_eval_audited,
      |  CAST(sum(CASE WHEN d2i <= 1150000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_true_pairs,
      |  CAST(sum(CASE WHEN d2i <= 1150000 AND in_probe THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pairs_in_probe,
      |  count(DISTINCT CASE WHEN d2i <= 1150000 THEN ev_id END)
      |    AS n_flagged_true,
      |  count(DISTINCT CASE WHEN d2i <= 1150000 AND in_probe THEN ev_id END)
      |    AS n_flagged_captured,
      |  round(CAST(sum(CASE WHEN d2i <= 1150000 AND in_probe THEN 1 ELSE 0 END)
      |      AS DOUBLE)
      |    / nullif(sum(CASE WHEN d2i <= 1150000 THEN 1 ELSE 0 END), 0), 6)
      |    AS pair_recall,
      |  round(CAST(count(DISTINCT CASE WHEN d2i <= 1150000 AND in_probe
      |        THEN ev_id END) AS DOUBLE)
      |    / nullif(count(DISTINCT CASE WHEN d2i <= 1150000 THEN ev_id END), 0), 6)
      |    AS flag_recall
      |FROM pairs""".stripMargin))

  val all: Vector[Q] = Vector(q287, q292)
}
