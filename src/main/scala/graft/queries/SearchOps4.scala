package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Filtered vector search — the predicate-pushdown half of the ANN
  * story. Production retrieval is almost never "top-k over the whole
  * corpus": it is "top-k WHERE tenant/lang/date-range matches". The
  * naive composition — run unfiltered ANN, then apply the filter to
  * its top-k (POST-filtering) — silently loses recall as the filter
  * gets selective: the unfiltered top-k may contain zero matching
  * rows, and there is nothing left to backfill from. The correct
  * shape pushes the predicate INTO the index probe (PRE-filtering):
  * candidates are restricted to filter-matching vectors inside the
  * probed cells, so the k slots are all spent on admissible rows.
  *
  * Scale design: the filter column rides ON the posting list (one
  * doc⋈embedding join when the index is built, not per query), cell
  * probing stays bucket-local (candidates = probed cells ∩ filter),
  * and the query side is broadcast. The exact filtered brute force is
  * the audited ground truth — the linear side of the audit, by
  * design, as in q146/q254/q258.
  */
object SearchOps4 {

  /** Language-filtered IVF search, nprobe=2: each query (vec_id < 20)
    * retrieves top-3 same-language neighbours from its two nearest
    * centroid cells. `hits3` counts the retrieved row's membership in
    * the exact filtered top-3 (per-row audit: sums to per-query
    * recall@3); `n_cand` exposes the probed-and-filtered candidate
    * volume — the cost the pushdown actually pays, versus the
    * corpus-sized scan the exact baseline needs.
    */
  /** One assignment pass feeds posting lists, probes and the exact
    * baseline (q146's pinned-intermediate pattern): per-vector 2
    * nearest centroid cells + the lang filter column, checkpointed.
    * Factored out so SearchOps4Spec can build the pre-filter and
    * post-filter strategies from the same index.
    */
  private[graft] def rankedIndex(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val byDist = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("clabel"))
    Pins.pin(Tables.emb(s, dir)
      .join(Tables.docs(s, dir).select(col("doc_id"), col("lang")),
        col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(VectorOps.centroidVectors(s, dir)))
      .withColumn("d2", round(V.dist2("embedding", "cvec"), 6))
      .withColumn("crn", row_number().over(byDist))
      .filter(col("crn") <= 2)
      .select(col("vec_id"), col("embedding"), col("lang"),
        col("clabel").as("cell"), col("crn"))
      .withColumn("nrm", V.norm("embedding")))
  }

  val q268 = Q(
    "q268_filtered_ivf_search",
    (s, dir) => {
      val ranked = rankedIndex(s, dir)
      // posting lists carry the filter column (lang)
      val cand = ranked.filter(col("crn") === 1).select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("lang").as("clang"), col("cell"))
      val qs = ranked.filter(col("vec_id") < 20).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("lang").as("qlang"), col("cell").as("qcell"))
      // PRE-filter: the lang predicate joins INSIDE the cell probe
      val ann = cand.join(broadcast(qs),
          col("cell") === col("qcell") && col("clang") === col("qlang") &&
            col("cand_id") =!= col("query_id"))
        .groupBy("query_id", "cand_id") // nprobe=2 can pair twice
        .agg(first("qe").as("qe"), first("qn").as("qn"),
          first("ce").as("ce"), first("cn").as("cn"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("n_cand", count(lit(1)).over(
          Window.partitionBy("query_id")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("rn") <= 3)
      // exact filtered ground truth: brute force over ALL same-lang
      // vectors (the audit's linear side)
      val exactQs = ranked.filter(col("crn") === 1 && col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("lang").as("qlang"))
      val exact = cand.crossJoin(broadcast(exactQs))
        .filter(col("clang") === col("qlang") && col("cand_id") =!= col("query_id"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("xrn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("xrn") <= 3)
        .select(col("query_id").as("xq"), col("cand_id").as("xc"))
      ann.join(exact,
          col("query_id") === col("xq") && col("cand_id") === col("xc"), "left")
        .select(col("query_id"), col("rn"), col("cand_id"), col("cos"),
          col("n_cand"),
          when(col("xc").isNotNull, 1L).otherwise(0L).as("hits3"))
        .orderBy("query_id", "rn")
    },
    Some(s"""WITH ${VectorOps.centroidsSql},
      |ranked AS MATERIALIZED (
      |  SELECT vec_id, embedding, lang, cell, crn,
      |    sqrt(${V.dotSql("embedding", "embedding")}) AS nrm
      |  FROM (
      |    SELECT e.vec_id, e.embedding, d.lang, c.clabel AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(${V.dist2Sql("e.embedding", "c.cvec")}, 6),
      |          c.clabel) AS crn
      |    FROM embeddings e
      |    JOIN documents d ON d.doc_id = e.vec_id
      |    CROSS JOIN cent c)
      |  WHERE crn <= 2),
      |cand AS (SELECT vec_id AS cand_id, embedding AS ce, nrm AS cn,
      |           lang AS clang, cell
      |         FROM ranked WHERE crn = 1),
      |qs AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
      |         lang AS qlang, cell AS qcell
      |       FROM ranked WHERE vec_id < 20),
      |probed AS (
      |  SELECT DISTINCT q.query_id, c.cand_id, q.qe, q.qn, c.ce, c.cn
      |  FROM cand c JOIN qs q
      |    ON c.cell = q.qcell AND c.clang = q.qlang
      |      AND c.cand_id <> q.query_id),
      |ann AS (
      |  SELECT query_id, cand_id,
      |    round(${V.dotSql("qe", "ce")} / (qn * cn), 6) AS cos,
      |    CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cand,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY round(${V.dotSql("qe", "ce")} / (qn * cn), 6) DESC,
      |        cand_id) AS INTEGER) AS rn
      |  FROM probed),
      |exact AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT q.vec_id AS query_id, c.cand_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(${V.dotSql("q.embedding", "c.ce")} / (q.nrm * c.cn), 6) DESC,
      |          c.cand_id) AS xrn
      |    FROM ranked q JOIN cand c
      |      ON q.crn = 1 AND q.vec_id < 20
      |        AND c.clang = q.lang AND c.cand_id <> q.vec_id)
      |  WHERE xrn <= 3)
      |SELECT a.query_id, a.rn, a.cand_id, a.cos, a.n_cand,
      |  CAST(CASE WHEN x.cand_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hits3
      |FROM ann a LEFT JOIN exact x
      |  ON a.query_id = x.query_id AND a.cand_id = x.cand_id
      |WHERE a.rn <= 3
      |ORDER BY a.query_id, a.rn""".stripMargin))

  val all: Vector[Q] = Vector(q268)
}
