package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline compositions, third batch: the corpus RELEASE pipeline —
  * the other end-to-end flow next to q107's prep pipeline. A release
  * run must (1) split deterministically, (2) decontaminate train
  * against the held-out splits, (3) dedup train (keep-best), and
  * (4) emit the per-split manifest a downstream trainer trusts.
  */
object PipelineOps3 {

  /** Train/eval release manifest. Stages:
    *  - hash split 80/10/10 ([[PipelineOps.q70]] semantics — stable
    *    under re-partitioning and across engines);
    *  - decontamination: train docs sharing ≥ 60% of their 24-char
    *    shingle hashes with ANY eval doc are dropped (q103's
    *    hit-ratio rule). The eval shingle set joins as a plain
    *    shuffle join — at 100 TB the eval side is 20% of the corpus,
    *    far past broadcast range, and the shingle-keyed shuffle is
    *    the scalable shape;
    *  - exact dedup keep-best on the surviving train docs (min
    *    doc_id per sha256 — q75 policy). Eval splits are left
    *    untouched: dedup must never move mass INTO the splits that
    *    define the measurement;
    *  - manifest: one row per split with every stage's drop count,
    *    so the release is auditable without re-running it.
    * One shingle pass feeds both the split and the contamination
    * join; every aggregate is an exact integer count.
    */
  val q217 = Q(
    "q217_release_manifest",
    (s, dir) => {
      val base = Pins.pin(Tables.docs(s, dir)
        .withColumn("split",
          when(pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))),
            lit(10)) < 8, "train")
            .when(pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))),
              lit(10)) === 8, "valid")
            .otherwise("test")))
      val sh = base.filter(length(col("text")) >= 24)
        .select(col("doc_id"), col("split"),
          explode(expr("char_shingle_hashes(text, 24)")).as("h"))
      val evalH = sh.filter(col("split") =!= "train").select("h").distinct()
      // pinned: the manifest reads contam twice and cleanTrain three
      // times (dup-dropped / final / keep); without the pin each
      // branch re-runs the whole shingle join
      val contam = Pins.pin(sh.filter(col("split") === "train")
        .join(evalH.withColumn("hit", lit(1L)), Seq("h"), "left")
        .groupBy("doc_id")
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)) >= 0.6).as("bad"))
        .filter(col("bad")).select("doc_id"))
      val cleanTrain = Pins.pin(base.filter(col("split") === "train")
        .join(contam.withColumn("c", lit(1)), Seq("doc_id"), "left_anti"))
      val keep = cleanTrain
        .groupBy(sha2(col("text"), 256).as("hh"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val trainRow = base.filter(col("split") === "train")
        .agg(count(lit(1)).as("n_raw"))
        .crossJoin(contam.agg(count(lit(1)).as("n_contam_dropped")))
        .crossJoin(cleanTrain.join(keep, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_dup_dropped")))
        .crossJoin(cleanTrain.join(keep, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("n_final"),
            coalesce(sum("n_chars"), lit(0L)).cast("long").as("sum_chars")))
        .select(lit("train").as("split"), col("n_raw"), col("n_contam_dropped"),
          col("n_dup_dropped"), col("n_final"), col("sum_chars"))
      val evalRows = base.filter(col("split") =!= "train")
        .groupBy("split")
        .agg(count(lit(1)).as("n_raw"), lit(0L).as("n_contam_dropped"),
          lit(0L).as("n_dup_dropped"), count(lit(1)).as("n_final"),
          sum("n_chars").cast("long").as("sum_chars"))
      trainRow.unionByName(evalRows).orderBy("split")
    },
    Some(s"""WITH base AS (
      |  SELECT doc_id, text, n_chars,
      |    CASE WHEN ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 < 8
      |           THEN 'train'
      |         WHEN ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 = 8
      |           THEN 'valid' ELSE 'test' END AS split
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, split, ${Portable.md5LongSql("s")} AS h
      |  FROM (
      |    SELECT doc_id, split, unnest(list_distinct(list_transform(
      |        range(1, CAST(length(text) AS BIGINT) - 22),
      |        i -> substr(text, CAST(i AS INTEGER), 24)))) AS s
      |    FROM base WHERE length(text) >= 24)),
      |evalh AS (SELECT DISTINCT h FROM sh WHERE split <> 'train'),
      |contam AS (
      |  SELECT sh.doc_id FROM sh LEFT JOIN evalh ON sh.h = evalh.h
      |  WHERE sh.split = 'train'
      |  GROUP BY sh.doc_id
      |  HAVING sum(CASE WHEN evalh.h IS NOT NULL THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE) >= 0.6),
      |clean AS (
      |  SELECT b.* FROM base b
      |  WHERE b.split = 'train' AND b.doc_id NOT IN (SELECT doc_id FROM contam)),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM clean GROUP BY sha256(text)),
      |train_row AS (
      |  SELECT 'train' AS split,
      |    (SELECT count(*) FROM base WHERE split = 'train') AS n_raw,
      |    (SELECT count(*) FROM contam) AS n_contam_dropped,
      |    (SELECT count(*) FROM clean
      |      WHERE doc_id NOT IN (SELECT doc_id FROM keep)) AS n_dup_dropped,
      |    (SELECT count(*) FROM clean
      |      WHERE doc_id IN (SELECT doc_id FROM keep)) AS n_final,
      |    (SELECT CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM clean
      |      WHERE doc_id IN (SELECT doc_id FROM keep)) AS sum_chars),
      |eval_rows AS (
      |  SELECT split, count(*) AS n_raw, CAST(0 AS BIGINT) AS n_contam_dropped,
      |    CAST(0 AS BIGINT) AS n_dup_dropped, count(*) AS n_final,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM base WHERE split <> 'train' GROUP BY split)
      |SELECT * FROM train_row UNION ALL SELECT * FROM eval_rows
      |ORDER BY split""".stripMargin))

  val all: Vector[Q] = Vector(q217)
}
