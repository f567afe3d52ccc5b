package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 retrieval wave: embedding-space outlier detection — the
  * curation read that runs BEFORE dedup/selection on a new embedding
  * batch: "which vectors sit far from everything in their own
  * region?" (mislabeled points, garbage decodes, off-distribution
  * scrapes). The canonical score is the k-NN distance (mean distance
  * to the k nearest neighbors); points with the largest score are
  * the outliers a human (or a drop rule) reviews first.
  */
object SearchOps6 {

  /** Top-20 k-NN-distance outliers (k = 5), computed over the
    * [[graft.pipeline.SemDeDup]] √n sampled quantizer: cell count
    * grows with the corpus (k ≈ √n), so assignment is n·√n and the
    * within-cell pair stage Σ cellᵢ² ≈ n·√n — both sub-quadratic.
    * (A first draft bucketed by the 10 label centroids; with a FIXED
    * cell count that pair stage is Θ(n²) — the exact construction
    * q67 was demoted for — so this query rides the same quantizer as
    * q180/q181 instead.) Distances are the engine-exact rounded d²
    * lifted to integers (×10⁶); the per-point top-5 sum is an exact
    * long and the mean divides once at the end, so the outlier
    * ranking is fold-order-free. Points in cells smaller than k use
    * the neighbors they have (k_used is emitted); a point alone in
    * its cell has NO within-cell neighbor and is excluded outright —
    * no pair row survives `va =!= vb` in either engine, so the
    * exclusion is symmetric Spark/DuckDB (ADVICE r11 #2: documented
    * rather than emitted as k_used=0, because a 0-neighbor "outlier
    * score" is undefined, not zero). The assigned frame is pinned
    * once (it feeds both self-join sides — the r10 multi-branch
    * rule).
    *
    * The within-cell restriction UNDERSTATES true k-NN distance only
    * near cell boundaries — acceptable for outlier triage, same
    * measured-recall posture as q180's SemDeDupSpec audit.
    */
  val q284 = Q(
    "q284_knn_distance_outliers",
    (s, dir) => {
      val assigned = Pins.pin(graft.pipeline.SemDeDup.cellAssign(Tables.emb(s, dir))
        .select("vec_id", "cell", "embedding")) // read as BOTH self-join sides
      val a = assigned.select(col("vec_id").as("va"), col("cell"),
        col("embedding").as("ea"))
      val b = assigned.select(col("vec_id").as("vb"), col("cell"),
        col("embedding").as("eb"))
      a.join(b, Seq("cell"))
        .filter(col("va") =!= col("vb"))
        .withColumn("d2i",
          round(round(V.dist2("ea", "eb"), 6) * 1e6, 0).cast("long"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("va").orderBy(col("d2i"), col("vb"))))
        .filter(col("rn") <= 5)
        .groupBy(col("va").as("vec_id"), col("cell"))
        .agg(count(lit(1)).as("k_used"), sum("d2i").as("s"))
        .select(col("vec_id"), col("cell"), col("k_used"),
          round(col("s").cast("double") / (col("k_used") * 1e6), 6)
            .as("knn_mean_d2"))
        .orderBy(col("knn_mean_d2").desc, col("vec_id"))
        .limit(20)
    },
    Some(s"""WITH ${graft.pipeline.SemDeDup.seedsSql()},
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, embedding, cell FROM (
      |    SELECT e.vec_id, e.embedding, s.seed_id AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(${V.dist2Sql("e.embedding", "s.svec")}, 6), s.seed_id)
      |        AS rn
      |    FROM embeddings e CROSS JOIN seeds s)
      |  WHERE rn = 1),
      |nn AS (
      |  SELECT va, cell, d2i,
      |    row_number() OVER (PARTITION BY va ORDER BY d2i, vb) AS rn
      |  FROM (
      |    SELECT a.vec_id AS va, a.cell, b.vec_id AS vb,
      |      CAST(round(round(${V.dist2Sql("a.embedding", "b.embedding")}, 6)
      |        * 1e6) AS BIGINT) AS d2i
      |    FROM assigned a JOIN assigned b
      |      ON a.cell = b.cell AND a.vec_id <> b.vec_id))
      |SELECT vec_id, cell, k_used, knn_mean_d2 FROM (
      |  SELECT va AS vec_id, cell, count(*) AS k_used,
      |    round(CAST(sum(d2i) AS DOUBLE) / (count(*) * 1e6), 6) AS knn_mean_d2
      |  FROM nn WHERE rn <= 5
      |  GROUP BY 1, 2
      |  ORDER BY knn_mean_d2 DESC, va LIMIT 20)
      |ORDER BY knn_mean_d2 DESC, vec_id""".stripMargin))

  val all: Vector[Q] = Vector(q284)
}
