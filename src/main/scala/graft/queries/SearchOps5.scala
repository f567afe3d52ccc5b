package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 retrieval-evaluation wave: the metric a retrieval stack
  * is actually graded by. The engine already ships the indexes
  * (IVF/LSH/PQ/NN-descent) with recall@k audits riding in their
  * outputs; nDCG adds the GRADED-relevance ranking metric those
  * recall audits can't express — a ranker that returns the right
  * set in the wrong order scores perfect recall and poor nDCG.
  */
object SearchOps5 {

  /** nDCG@10 of brute-force cosine retrieval with label-graded
    * relevance: queries are vec_ids 0–9, the candidate pool is the
    * rest of the corpus, and a candidate's grade is 2 for an exact
    * label match, 1 for an adjacent label (|Δ| = 1), else 0 — the
    * standard "same topic / related topic / off topic" ladder,
    * derived deterministically from the fixture's label column.
    *
    * DCG@10 = Σ (2^rel − 1)/log2(rank+1) over the cosine top-10
    * (rounded-then-ranked, id tiebreak — the q48 contract). IDCG is
    * CLOSED-FORM from the pool's per-grade counts: the ideal ranking
    * is n₂ twos then n₁ ones, so a 10-row rank spine with
    * CASE rank ≤ n₂ / rank ≤ n₂+n₁ reproduces it without sorting
    * anything corpus-sized.
    *
    * Scale: the query side broadcasts (10 rows); the pool scan is
    * one pass; grade counts are a broadcast-sized per-query
    * aggregate; every per-rank term divides exact integers. The
    * deliberately-linear pool scan is the q48 exact-audit posture —
    * in production the top-10 comes from the IVF/LSH index and this
    * metric grades it.
    */
  val q276 = Q(
    "q276_ndcg_retrieval_eval",
    (s, dir) => {
      val wn = Tables.emb(s, dir)
        .withColumn("nrm", V.norm("embedding"))
      val qs = wn.filter(col("vec_id") < 10).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("ql"))
      val pool = wn.filter(col("vec_id") >= 10).select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("label").as("cl"))
      // ONE pool pass: cosine + grade computed together, then the
      // corpus-sized embedding columns are dropped and the narrow
      // (query_id, cand_id, rel, cos) frame is pinned — it feeds two
      // branches (ranked→dcg and the grade-count aggregate), and
      // without the pin the pool scan + cosine grading ran twice
      val graded = Pins.pin(pool.crossJoin(broadcast(qs))
        .select(col("query_id"), col("cand_id"),
          when(col("cl") === col("ql"), 2)
            .when(abs(col("cl") - col("ql")) === 1, 1).otherwise(0).as("rel"),
          round(V.dot("ce", "qe") / (col("cn") * col("qn")), 6).as("cos")))
      // top-10 by rounded cosine (InferWindowGroupLimit keeps this a
      // per-partition partial top-k, the q232 plan shape)
      val ranked = graded
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("rn") <= 10)
      val dcg = ranked.groupBy("query_id")
        .agg(sum((pow(lit(2.0), col("rel")) - 1)
          / log2(col("rn") + 1)).as("dcg"))
      // ideal ranking from grade counts alone: n2 twos then n1 ones
      val counts = graded.groupBy("query_id")
        .agg(sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
      val spine = s.range(1, 11).select(col("id").as("r"))
      val idcg = counts.crossJoin(broadcast(spine))
        .withColumn("irel",
          when(col("r") <= col("n2"), 2)
            .when(col("r") <= col("n2") + col("n1"), 1).otherwise(0))
        .groupBy("query_id", "n2", "n1")
        .agg(sum((pow(lit(2.0), col("irel")) - 1)
          / log2(col("r") + 1)).as("idcg"))
      dcg.join(idcg, "query_id")
        .select(col("query_id"), col("n2"), col("n1"),
          round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy("query_id")
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, embedding, label, ${V.normSql("embedding")} AS nrm
      |  FROM embeddings),
      |graded AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos,
      |    CASE WHEN c.label = q.label THEN 2
      |         WHEN abs(c.label - q.label) = 1 THEN 1 ELSE 0 END AS rel
      |  FROM wn q JOIN wn c ON c.vec_id >= 10
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, rel,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, cand_id) AS rn
      |  FROM graded),
      |dcg AS (
      |  SELECT query_id, sum((pow(2.0, rel) - 1) / log2(rn + 1)) AS dcg
      |  FROM ranked WHERE rn <= 10 GROUP BY 1),
      |counts AS (
      |  SELECT query_id,
      |    CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM graded GROUP BY 1),
      |idcg AS (
      |  SELECT query_id, n2, n1,
      |    sum((pow(2.0, CASE WHEN r <= n2 THEN 2
      |                      WHEN r <= n2 + n1 THEN 1 ELSE 0 END) - 1)
      |        / log2(r + 1)) AS idcg
      |  FROM counts CROSS JOIN (SELECT unnest(range(1, 11)) AS r)
      |  GROUP BY 1, 2, 3)
      |SELECT query_id, n2, n1, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
      |  round(dcg / idcg, 6) AS ndcg
      |FROM dcg JOIN idcg USING (query_id)
      |ORDER BY query_id""".stripMargin))

  val all: Vector[Q] = Vector(q276)
}
