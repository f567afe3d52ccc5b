package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** Round-3 pipeline-observability wave: feature standardization for
  * model input, train/test leakage audit over the q70 hash split, and
  * the gate-funnel telemetry every filtering pipeline reports.
  */
object PipelineOps2 {

  /** Feature standardization (z-scoring) of the embedding columns —
    * the normalization step in front of any distance-based model.
    * Per-position mean/std is ONE 64-group aggregate (map-side
    * combinable at any row count); the 64-row stats table broadcasts
    * back onto the exploded features. Output: z-scored features of
    * the first three vectors, rounded well above float-fold jitter.
    */
  val q149 = Q(
    "q149_standardize_embeddings",
    (s, dir) => {
      val feats = Tables.emb(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos0", "v")
        .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("v").cast("double").as("v"))
      val stats = feats.groupBy("pos")
        .agg(avg("v").as("mu"), stddev_samp("v").as("sd"))
      feats.filter(col("vec_id") < 3)
        .join(broadcast(stats), "pos")
        .select(col("vec_id"), col("pos"),
          round((col("v") - col("mu")) / col("sd"), 5).as("z"))
        .orderBy("vec_id", "pos")
    },
    Some("""WITH feats AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, generate_series(1, 64) g(i)),
      |stats AS (
      |  SELECT pos, avg(v) AS mu, stddev_samp(v) AS sd
      |  FROM feats GROUP BY 1)
      |SELECT vec_id, pos, round((v - mu) / sd, 5) AS z
      |FROM feats JOIN stats USING (pos)
      |WHERE vec_id < 3
      |ORDER BY vec_id, pos""".stripMargin))

  /** Train/test leakage audit over the q70 hash split: documents
    * whose exact content appears in BOTH the train and test slices —
    * the check that must run before any eval number is trusted.
    * Content compares by the portable 60-bit hash (fixed-width keys,
    * never the text) and each slice pre-aggregates to distinct hashes
    * before the join, so the join sides are bounded by distinct
    * content, not corpus rows.
    */
  val q150 = Q(
    "q150_split_leakage",
    (s, dir) => {
      val split = Tables.docs(s, dir)
        .withColumn("b",
          pmod(Portable.md5Long(concat(lit("split:"), col("doc_id").cast("string"))), lit(10)))
        .withColumn("h", Portable.md5Long(col("text")))
      val train = split.filter(col("b") < 8).select("h").distinct()
      val test = split.filter(col("b") === 9).select("h").distinct()
      train.agg(count(lit(1)).as("n_train_distinct"))
        .crossJoin(test.agg(count(lit(1)).as("n_test_distinct")))
        .crossJoin(
          train.join(test, "h").agg(count(lit(1)).as("n_leaked")))
    },
    Some(s"""WITH split AS (
      |  SELECT ${Portable.md5LongSql("concat('split:', CAST(doc_id AS VARCHAR))")} % 10 AS b,
      |    ${Portable.md5LongSql("text")} AS h
      |  FROM documents),
      |train AS (SELECT DISTINCT h FROM split WHERE b < 8),
      |test AS (SELECT DISTINCT h FROM split WHERE b = 9)
      |SELECT (SELECT count(*) FROM train) AS n_train_distinct,
      |  (SELECT count(*) FROM test) AS n_test_distinct,
      |  (SELECT count(*) FROM train JOIN test USING (h)) AS n_leaked""".stripMargin))

  /** Gate-funnel telemetry: how many documents survive each filter
    * stage of a prep pipeline (length → known language → lexical
    * diversity). One pass computes every gate flag; conditional
    * counts make the funnel — no per-stage re-scan.
    */
  val q151 = Q(
    "q151_gate_funnel",
    (s, dir) => {
      val flags = Tables.docs(s, dir)
        .select(
          size(Portable.tokens(col("text"))).as("nt"),
          size(Portable.tokenSet(col("text"))).as("nd"),
          col("lang"))
        .select(
          (col("nt") >= 20).as("g1"),
          col("lang").isin("en", "es", "de", "fr", "zh").as("g2"),
          (col("nd").cast("double") / col("nt") >= 0.4).as("g3"))
      flags.agg(
        count(lit(1)).as("stage0_total"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("stage1_length"),
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L)).as("stage2_lang"),
        sum(when(col("g1") && col("g2") && col("g3"), 1L).otherwise(0L))
          .as("stage3_diversity"))
    },
    Some(s"""WITH flags AS (
      |  SELECT len(${Portable.tokensSql("text")}) >= 20 AS g1,
      |    lang IN ('en', 'es', 'de', 'fr', 'zh') AS g2,
      |    CAST(len(${Portable.tokenSetSql("text")}) AS DOUBLE)
      |      / len(${Portable.tokensSql("text")}) >= 0.4 AS g3
      |  FROM documents)
      |SELECT count(*) AS stage0_total,
      |  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS stage1_length,
      |  CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT) AS stage2_lang,
      |  CAST(sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS stage3_diversity
      |FROM flags""".stripMargin))

  /** Sharded JSONL training-export with a readback-verified manifest
    * ([[graft.pipeline.TrainingExport]]): write the corpus as 8
    * content-addressed JSONL shards, read the files back, and emit
    * per-shard (docs, tokens, XOR checksum). The oracle computes the
    * same manifest straight from the source table, so the hash-match
    * verifies the WRITE path — shard routing, JSON escaping, and the
    * roundtrip of every doc_id and text byte — not just the
    * aggregation.
    */
  val q177 = Q(
    "q177_export_jsonl",
    (s, dir) => {
      // per-sfDir AND per-JVM output path: sf0.01 and sf1 runs don't
      // clobber each other, re-runs within a JVM overwrite
      // deterministically, and two concurrent JVMs over the same
      // sfDir (a Verify next to a Bench) can't race one another's
      // manifest scan with a mid-read overwrite
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_export_" +
        java.lang.Integer.toHexString(dir.hashCode) + "_p" +
        ProcessHandle.current().pid()
      graft.pipeline.TrainingExport.exportJsonl(Tables.docs(s, dir), out, shards = 8)
    },
    Some(graft.pipeline.TrainingExport.manifestOracleSql("documents", shards = 8)))

  val all: Vector[Q] = Vector(q149, q150, q151, q177)
}
