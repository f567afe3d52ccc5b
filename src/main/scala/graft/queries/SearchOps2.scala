package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable => P, VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 retrieval wave: index-backed hybrid fusion (VERDICT r6
  * #4) — the production-path counterpart of q232's brute-force RRF.
  */
object SearchOps2 {

  /** Index-backed RRF hybrid retrieval with an in-result recall
    * audit. q232 proves the fusion math on brute-force top-100
    * lists; THIS is the operator a 100 TB retrieval actually runs:
    * each modality's candidates come from its INDEX —
    *
    *   - vector: MULTI-PROBE over the q51 random-hyperplane LSH
    *     index — each query probes its own 8-bit sign bucket plus
    *     its 8 hamming-distance-1 neighbours (Lv et al. 2007's
    *     multi-probe LSH), expanded on the TINY query side so the
    *     corpus joins on plain bucket equality (the bucket table is
    *     what a deployment keeps materialized),
    *   - lexical: posting lists over RARE 8-char shingle anchors
    *     (document frequency ≤ 10 — q234's blocking index; with this
    *     corpus's saturated ~31-word unigram vocabulary a token-level
    *     inverted index prunes nothing, so the lexical index a
    *     production system would build here is exactly the rare-
    *     shingle posting table),
    *
    * then ONLY the candidates pay the exact scoring (merge-scan
    * Jaccard / cosine), ranks are per-query integers over the
    * candidate list, and the two lists fuse by Σ 1/(60+rank). The
    * recall audit is the q146 pattern: the brute-force fused top-5
    * (q232's lists, cut to 5) is recomputed alongside and every
    * output row carries its query's recall@5 — so the index's recall
    * cost is IN the result, per the no-silent-caps rule. Scale
    * shape: candidate volume is Σ bucketᵢ·|queries probing i| +
    * Σ dfᵢ² (df ≤ 10), never corpus × corpus; the brute-force audit
    * side is the measured-error companion, not the serving path.
    * Expect LOW absolute recall on these fixtures: the synthetic
    * embeddings are near-isotropic (q146's nprobe-2 IVF measures
    * mean recall@10 ≈ 0.37 on the same data) and fused brute-force
    * ranks depend on corpus-wide list positions no candidate-local
    * rank can reproduce — the audit column is the instrument that
    * makes that visible, and planes/probes are the dial it tunes.
    */
  val q235 = Q(
    "q235_fused_retrieval_indexed",
    (s, dir) => {
      // feeds both index paths + the audit
      val d = Pins.pin(Tables.docs(s, dir)
        .join(Tables.emb(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), P.md5Sorted(P.tokenSet(col("text"))).as("th"),
          col("embedding"), V.norm("embedding").as("nrm"),
          VectorOps.hyperplaneBucket("embedding").as("bucket")))
      val qs = d.filter(col("doc_id") < 5).select(
        col("doc_id").as("query_id"), col("th").as("qth"),
        col("embedding").as("qe"), col("nrm").as("qn"),
        col("bucket").as("qb"))
      val corpus = d.filter(col("doc_id") >= 5)
      val w = Window.partitionBy("query_id")
      // vector candidates off the LSH bucket index, multi-probe: the
      // query side expands to its 9 probe buckets (all distinct, so
      // no pair dedup needed) and the corpus joins on bucket EQUALITY
      val probes = qs.select(col("query_id"), col("qe"), col("qn"),
        explode(array(
          (col("qb") +: (0 to 7).map(b =>
            col("qb").bitwiseXOR(lit(1L << b)))): _*)).as("pb"))
      val vec = corpus.join(broadcast(probes),
          col("bucket") === col("pb"))
        .withColumn("cos",
          round(V.dot("embedding", "qe") / (col("nrm") * col("qn")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("cos").desc, col("doc_id"))))
        .filter(col("r") <= 100)
        .select(col("query_id"), col("doc_id"), col("r").as("r_vec"))
      // lexical candidates off the rare-shingle posting lists
      val sh = Tables.docs(s, dir).filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode(expr("char_shingle_hashes(text, 8)")).as("h"))
      val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10).select("h")
      val anchored = sh.join(rare, Seq("h"), "left_semi")
      val lexCand = anchored.filter(col("doc_id") >= 5)
        .join(anchored.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("h")), "h")
        .select(col("query_id"), col("doc_id")).distinct()
      val lex = lexCand
        .join(corpus.select(col("doc_id"), col("th")), "doc_id")
        .join(broadcast(qs.select(col("query_id"), col("qth"))), "query_id")
        .withColumn("c", expr("sorted_intersect_count(th, qth)"))
        .withColumn("jac",
          round(col("c") / (size(col("th")) + size(col("qth")) - col("c")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("jac").desc, col("doc_id"))))
        .filter(col("r") <= 100)
        .select(col("query_id"), col("doc_id"), col("r").as("r_lex"))
      def fuse(l: org.apache.spark.sql.DataFrame,
               v: org.apache.spark.sql.DataFrame) =
        l.join(v, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6))
          .withColumn("rank", row_number().over(
            w.orderBy(col("rrf").desc, col("doc_id"))))
          .filter(col("rank") <= 5)
      val fused = fuse(lex, vec)
      // brute-force audit: q232's corpus-wide lists, fused, cut to 5
      val pairs = corpus.crossJoin(broadcast(qs))
      val lexB = pairs
        .withColumn("c", expr("sorted_intersect_count(th, qth)"))
        .withColumn("jac",
          round(col("c") / (size(col("th")) + size(col("qth")) - col("c")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("jac").desc, col("doc_id"))))
        .filter(col("r") <= 100)
        .select(col("query_id"), col("doc_id"), col("r").as("r_lex"))
      val vecB = pairs
        .withColumn("cos",
          round(V.dot("embedding", "qe") / (col("nrm") * col("qn")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("cos").desc, col("doc_id"))))
        .filter(col("r") <= 100)
        .select(col("query_id"), col("doc_id"), col("r").as("r_vec"))
      val bruteTop = fuse(lexB, vecB).select("query_id", "doc_id")
      val recall = fused.select("query_id", "doc_id")
        .join(bruteTop, Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id")
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
      fused
        .join(recall, Seq("query_id"), "left")
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("r_lex"), col("r_vec"), col("rrf"),
          coalesce(col("recall5"), lit(0.0)).as("recall5"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, list_sort(list_transform(${P.tokenSetSql("text")},
      |    t -> ${P.md5LongSql("t")})) AS th,
      |    embedding, ${V.normSql("embedding")} AS nrm,
      |    ${VectorOps.hyperplaneBucketSql("embedding")} AS bucket
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |qs AS (SELECT doc_id AS query_id, th AS qth, embedding AS qe,
      |       nrm AS qn, bucket AS qb FROM d WHERE doc_id < 5),
      |corpus AS MATERIALIZED (SELECT * FROM d WHERE doc_id >= 5),
      |probes AS (
      |  SELECT query_id, qe, qn, unnest([qb,
      |    xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8), xor(qb, 16),
      |    xor(qb, 32), xor(qb, 64), xor(qb, 128)]) AS pb
      |  FROM qs),
      |vec AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_vec FROM (
      |    SELECT q.query_id, c.doc_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |        round(${V.dotSql("c.embedding", "q.qe")} / (c.nrm * q.qn), 6) DESC,
      |        c.doc_id) AS r
      |    FROM corpus c JOIN probes q ON c.bucket = q.pb) WHERE r <= 100),
      |sh AS (
      |  SELECT doc_id, ${P.md5LongSql("sub")} AS h FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, CAST(length(text) AS BIGINT) - 6),
      |      i -> substr(text, CAST(i AS INTEGER), 8)))) AS sub
      |    FROM documents WHERE length(text) >= 8)),
      |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 10),
      |anchored AS (SELECT doc_id, h FROM sh WHERE h IN (SELECT h FROM rare)),
      |lexcand AS (
      |  SELECT DISTINCT a.doc_id AS query_id, c.doc_id
      |  FROM anchored a JOIN anchored c ON a.h = c.h
      |  WHERE a.doc_id < 5 AND c.doc_id >= 5),
      |lex AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_lex FROM (
      |    SELECT lc.query_id, lc.doc_id, row_number() OVER (
      |      PARTITION BY lc.query_id ORDER BY
      |        round(len(list_intersect(c.th, q.qth)) /
      |          (len(c.th) + len(q.qth) - len(list_intersect(c.th, q.qth))), 6) DESC,
      |        lc.doc_id) AS r
      |    FROM lexcand lc JOIN corpus c ON lc.doc_id = c.doc_id
      |    JOIN qs q ON lc.query_id = q.query_id) WHERE r <= 100),
      |fused AS (
      |  SELECT query_id, doc_id, r_lex, r_vec, rrf, CAST(rank AS INTEGER) AS rank
      |  FROM (
      |    SELECT query_id, doc_id, r_lex, r_vec,
      |      round(coalesce(1.0 / (60 + r_lex), 0) +
      |            coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf,
      |      row_number() OVER (PARTITION BY query_id ORDER BY
      |        round(coalesce(1.0 / (60 + r_lex), 0) +
      |              coalesce(1.0 / (60 + r_vec), 0), 6) DESC, doc_id) AS rank
      |    FROM lex FULL OUTER JOIN vec USING (query_id, doc_id))
      |  WHERE rank <= 5),
      |pairs AS MATERIALIZED (
      |  SELECT c.doc_id, c.th, c.embedding, c.nrm, q.*
      |  FROM corpus c CROSS JOIN qs q),
      |lexb AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_lex FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY
      |        round(len(list_intersect(th, qth)) /
      |          (len(th) + len(qth) - len(list_intersect(th, qth))), 6) DESC,
      |        doc_id) AS r
      |    FROM pairs) WHERE r <= 100),
      |vecb AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_vec FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY
      |        round(${V.dotSql("embedding", "qe")} / (nrm * qn), 6) DESC,
      |        doc_id) AS r
      |    FROM pairs) WHERE r <= 100),
      |fusedb AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT query_id, doc_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY
      |        round(coalesce(1.0 / (60 + r_lex), 0) +
      |              coalesce(1.0 / (60 + r_vec), 0), 6) DESC, doc_id) AS rank
      |    FROM lexb FULL OUTER JOIN vecb USING (query_id, doc_id))
      |  WHERE rank <= 5),
      |rec AS (
      |  SELECT f.query_id, CAST(count(b.doc_id) AS DOUBLE) / 5.0 AS recall5
      |  FROM fused f LEFT JOIN fusedb b
      |    ON f.query_id = b.query_id AND f.doc_id = b.doc_id
      |  GROUP BY 1)
      |SELECT f.query_id, f.rank, f.doc_id, f.r_lex, f.r_vec, f.rrf,
      |  rec.recall5
      |FROM fused f JOIN rec ON f.query_id = rec.query_id
      |ORDER BY f.query_id, f.rank""".stripMargin))

  val all: Vector[Q] = Vector(q235)
}
