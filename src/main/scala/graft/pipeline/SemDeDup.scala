package graft.pipeline

import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF cell assignment for SemDeDup-style embedding near-dup removal
  * (SURVEY.md §2.13 L2; Abbas et al. 2023), with the 100 TB broadcast
  * story made explicit.
  *
  * The coarse quantizer is SAMPLED FROM THE DATA — every √n-th vec_id
  * is a seed, so cell count k ≈ √n grows with the corpus and tracks
  * data density. Assignment then has two regimes:
  *
  *  - '''one-level''' (k ≤ maxBroadcastSeeds): broadcast the seed set,
  *    every vector scans all k seeds — n·√n work, broadcast of k·d
  *    floats. The right plan while the seed set fits in an executor
  *    (k=438 at the sf10 fixtures ≈ 110 KB).
  *  - '''two-level''' (k > maxBroadcastSeeds): at n = 10¹⁰ docs and
  *    d = 768, k = √n = 10⁵ seeds ≈ 300 MB — past broadcast comfort.
  *    So the quantizer recurses once: every √k-th seed becomes a
  *    SUPER-seed (k₂ ≈ √k ≈ n^¼ of them — the only broadcast frame,
  *    ~1 MB at n = 10¹⁰), seeds are assigned to super-cells with a
  *    tiny k·k₂ pass, vectors find their super-cell against the
  *    broadcast super-seeds (n·k₂), and the final nearest-seed search
  *    is an EQUI-JOIN on the super-cell key — a shuffle the optimizer
  *    is free to hash/merge, never a nested-loop over all k seeds —
  *    with ~k/k₂ ≈ n^¼ candidate seeds per vector. Total assignment
  *    work n·n^¼ instead of n·√n, and nothing broadcast beyond the
  *    super-seeds.
  *
  * Both regimes emit the same shape: (vec_id, embedding, cell, nrm).
  * The two-level cell can differ from the one-level cell near
  * super-cell boundaries (the vector's true nearest seed may sit in a
  * neighbouring super-cell) — the usual IVF tradeoff, measured by
  * SemDeDupSpec against brute-force ground truth exactly like the
  * one-level path. All distance ranking is on round(d², 6) with id
  * tie-breaks so a DuckDB oracle reproduces assignments bit-for-bit.
  */
object SemDeDup {

  /** Sampling steps derived from the corpus: seed step ≈ √n (≥ 16),
    * super-seed step = step·m with m ≈ √k (≥ 2). Exposed so oracle
    * SQL and specs can derive the identical constants.
    */
  final case class Steps(n: Long, step: Long, k: Long, m: Long) {
    def superStep: Long = step * m
  }

  def steps(e: DataFrame): Steps = {
    val n = e.count()
    val step = math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val k = e.filter(pmod(col("vec_id"), lit(step)) === 0).count()
    val m = math.max(2L, math.ceil(math.sqrt(k.toDouble)).toLong)
    Steps(n, step, k, m)
  }

  /** Assign every embedding to its IVF cell; switches to the
    * two-level quantizer when the seed count exceeds
    * `maxBroadcastSeeds`. Input needs (vec_id, embedding).
    */
  def cellAssign(e: DataFrame, maxBroadcastSeeds: Long = 65536L): DataFrame = {
    val st = steps(e)
    if (st.k <= maxBroadcastSeeds) cellAssignOneLevel(e, st)
    else cellAssignTwoLevel(e, st)
  }

  /** k ≤ maxBroadcastSeeds: broadcast all seeds, one pass. */
  def cellAssignOneLevel(e: DataFrame, st: Steps): DataFrame =
    nearestCell(oneLevelCandidates(e, st), "seed_id")

  /** k > maxBroadcastSeeds: recurse the quantizer once — broadcast
    * only the super-seeds, reach the seeds through an equi-join on
    * the super-cell key.
    */
  def cellAssignTwoLevel(e: DataFrame, st: Steps): DataFrame =
    nearestCell(twoLevelCandidates(e, st), "seed_id")

  /** The nearest candidate cell of each vector: rows (vec_id,
    * embedding, `id`, d2) → (vec_id, embedding, cell, nrm). The argmin
    * is min(struct(d2, id, embedding)), which aggregates map-side;
    * ties break on the cell id, as the oracle's ORDER BY d2, id does.
    */
  def nearestCell(scored: DataFrame, id: String): DataFrame =
    scored
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col(id), col("embedding"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col(s"best.$id").as("cell"))
      .withColumn("nrm", V.norm("embedding"))

  /** `pairs` plus `d2`: round(d², 6) from `embedding` to `vec`. */
  def withD2(pairs: DataFrame, vec: String): DataFrame =
    pairs.withColumn("d2", round(V.dist2("embedding", vec), 6))

  private def seedsOf(e: DataFrame, st: Steps): DataFrame =
    e.filter(pmod(col("vec_id"), lit(st.step)) === 0)
      .select(col("vec_id").as("seed_id"), col("embedding").as("svec"))

  /** One-level candidates: every vector against every broadcast seed,
    * rows (vec_id, embedding, seed_id, svec, d2).
    */
  private def oneLevelCandidates(e: DataFrame, st: Steps): DataFrame =
    withD2(e.crossJoin(broadcast(seedsOf(e, st))), "svec")

  /** Two-level candidates: every vector against the seeds of its
    * super-cell only, rows (scell, vec_id, embedding, seed_id, svec, d2).
    */
  private def twoLevelCandidates(e: DataFrame, st: Steps): DataFrame = {
    val seeds = seedsOf(e, st)
    // super-seeds are seeds whose seed INDEX is a multiple of m —
    // i.e. vec_id % (step·m) == 0, a subset of the seeds, so every
    // super-cell contains at least its own super-seed
    val superSeeds = seeds.filter(pmod(col("seed_id"), lit(st.superStep)) === 0)
      .select(col("seed_id").as("ss_id"), col("svec").as("ssvec"))
    // level A (tiny, k·k₂): seeds → super-cells
    val seedCells = seeds.crossJoin(broadcast(superSeeds))
      .withColumn("d2", round(V.dist2("svec", "ssvec"), 6))
      .groupBy("seed_id")
      .agg(min(struct(col("d2"), col("ss_id"), col("svec"))).as("b"))
      .select(col("b.ss_id").as("scell"), col("seed_id"), col("b.svec").as("svec"))
    // level B (n·k₂): vectors → super-cells against the broadcast
    // super-seeds only
    val vecSuper = e.crossJoin(broadcast(superSeeds))
      .withColumn("d2", round(V.dist2("embedding", "ssvec"), 6))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("ss_id"), col("embedding"))).as("b"))
      .select(col("vec_id"), col("b.embedding").as("embedding"),
        col("b.ss_id").as("scell"))
    // level C (n·k/k₂ work, ZERO broadcast of the seed set): nearest
    // seed within the super-cell via a plain equi-join on scell
    withD2(vecSuper.join(seedCells, "scell"), "svec")
  }

  /** MULTI-PROBE assignment: each vector's `p` NEAREST cells as an
    * array, same (d², id)-rounded ranking as [[cellAssign]] so probe 1
    * is exactly the cellAssign cell. This is standard IVF multi-probe:
    * a query vector near a cell boundary has its true neighbors in the
    * runner-up cell, and probing the top-p cells trades p× candidate
    * volume for the boundary recall a single-cell restriction loses —
    * q292 MEASURED that loss at 2/6 captured (pair recall 0.33) for
    * q287's single-probe screen before this existed.
    *
    * Same two regimes as [[cellAssign]]. The top-p is a per-vector
    * sorted slice of (d², seed) pairs — the collect_list buffer holds
    * k ≈ √n 16-byte pairs per vector (no embeddings), partial-
    * aggregated map-side inside the crossJoin's own partitioning, so
    * nothing new shuffles. In the two-level regime candidates come
    * from the vector's super-cell only (the [[cellAssignTwoLevel]]
    * tradeoff, unchanged).
    */
  def cellProbes(e: DataFrame, p: Int,
      maxBroadcastSeeds: Long = 65536L): DataFrame = {
    val st = steps(e)
    val scored =
      if (st.k <= maxBroadcastSeeds) oneLevelCandidates(e, st)
      else twoLevelCandidates(e, st)
    scored
      .groupBy("vec_id")
      .agg(
        slice(array_sort(collect_list(struct(col("d2"), col("seed_id")))),
          1, p).as("top"),
        // every row of a vec_id group carries the same embedding
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"),
        transform(col("top"), t => t.getField("seed_id")).as("probes"))
  }

  /** Cell-scoped near-dup pairs → keeper policy, shared by q180,
    * q181 and the q139 baseline: exact cosine within a cell, keep the
    * lowest vec_id, report each dropped member with its best keeper
    * score.
    */
  def dedupReport(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("vec_id").as("keeper_cand"), col("cell"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("dropped"), col("cell").as("cellb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("cell") === col("cellb") && col("keeper_cand") < col("dropped"))
      .withColumn("cos", round(V.dot("ea", "eb") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .groupBy("dropped")
      .agg(
        min("keeper_cand").as("keeper"),
        max("cos").as("max_cos"),
        count(lit(1)).as("n_dups"))
      .orderBy("dropped")
  }

  /** DuckDB form of [[dedupReport]] over CTE `assigned(vec_id,
    * embedding, cell, nrm)`: CTE `pairs`, then the report query.
    */
  def dedupReportSql(threshold: Double): String =
    s"""pairs AS (
       |  SELECT a.vec_id AS keeper_cand, b.vec_id AS dropped,
       |    round(${V.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT dropped, min(keeper_cand) AS keeper, max(cos) AS max_cos,
       |  count(*) AS n_dups
       |FROM pairs WHERE cos >= $threshold
       |GROUP BY dropped ORDER BY dropped""".stripMargin

  /** DuckDB form of the sampled quantizer's seeds over `src(vec_id,
    * embedding)`: CTEs `st(step)` ([[steps]]' seed step) and
    * `seeds(seed_id, svec)`.
    */
  def seedsSql(src: String = "embeddings"): String =
    s"""st AS (
       |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS step
       |  FROM $src),
       |seeds AS MATERIALIZED (
       |  SELECT vec_id AS seed_id, embedding AS svec
       |  FROM $src CROSS JOIN st WHERE vec_id % st.step = 0)""".stripMargin

  /** DuckDB form of [[nearestCell]]: CTE `assigned(vec_id, embedding,
    * cell, nrm)`, each embedding's nearest row of `cells(id, vec)`.
    */
  def nearestCellSql(cells: String, id: String, vec: String): String =
    s"""assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell,
       |    sqrt(${V.dotSql("embedding", "embedding")}) AS nrm
       |  FROM (
       |    SELECT e.vec_id, e.embedding, c.$id AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${V.dist2Sql("e.embedding", s"c.$vec")}, 6), c.$id) AS rn
       |    FROM embeddings e CROSS JOIN $cells c)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB form of [[cellAssignTwoLevel]]: [[seedsSql]] plus CTEs
    * `kc`, `ss`, `seedcell`, `vecsuper` and `assigned(vec_id,
    * embedding, cell, nrm)`.
    */
  def twoLevelSql: String =
    s"""${seedsSql()},
       |kc AS (
       |  SELECT greatest(2, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS m
       |  FROM seeds),
       |ss AS (
       |  SELECT seed_id AS ss_id, svec AS ssvec
       |  FROM seeds CROSS JOIN st CROSS JOIN kc
       |  WHERE seed_id % (st.step * kc.m) = 0),
       |seedcell AS MATERIALIZED (
       |  SELECT scell, seed_id, svec FROM (
       |    SELECT s.seed_id, s.svec, x.ss_id AS scell,
       |      row_number() OVER (PARTITION BY s.seed_id
       |        ORDER BY round(${V.dist2Sql("s.svec", "x.ssvec")}, 6), x.ss_id) AS rn
       |    FROM seeds s CROSS JOIN ss x)
       |  WHERE rn = 1),
       |vecsuper AS MATERIALIZED (
       |  SELECT vec_id, embedding, scell FROM (
       |    SELECT e.vec_id, e.embedding, x.ss_id AS scell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${V.dist2Sql("e.embedding", "x.ssvec")}, 6), x.ss_id) AS rn
       |    FROM embeddings e CROSS JOIN ss x)
       |  WHERE rn = 1),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell,
       |    sqrt(${V.dotSql("embedding", "embedding")}) AS nrm
       |  FROM (
       |    SELECT v.vec_id, v.embedding, c.seed_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${V.dist2Sql("v.embedding", "c.svec")}, 6), c.seed_id) AS rn
       |    FROM vecsuper v JOIN seedcell c ON v.scell = c.scell)
       |  WHERE rn = 1)""".stripMargin
}
