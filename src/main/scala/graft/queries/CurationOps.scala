package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 curation tail — the remaining large-corpus preparation
  * operators a training-data pipeline runs between ingest and export:
  * k-means clustering of embeddings (q182), temperature-based
  * multilingual mixture sampling (q183), learned linear quality
  * scoring with hashed features (q184), and corpus snapshot diffing
  * (q185). Reference scope: the (N) pipeline surface of SURVEY.md
  * §2.13 (the reference delegates analytics to its Hive binary and
  * has no native counterparts; these are the standard published
  * constructions re-expressed Spark-first).
  */
object CurationOps {

  private val dim = 64

  /** One Lloyd round of the q182 oracle: assignment (a_i) under the
    * previous centroids (c_{i-1}), then the centroid update (c_i) —
    * the SQL twin of [[graft.pipeline.KMeans.assign]]/`update`.
    */
  private def lloydSql(i: Int): String =
    s"""a$i AS (
       |  SELECT vec_id, embedding, cl, d2 AS d2r FROM (
       |    SELECT vec_id, embedding, cl, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM (
       |      SELECT e.vec_id, e.embedding, c.cl,
       |        round(${V.dist2Sql("e.embedding", "c.cv")}, 6) AS d2
       |      FROM embeddings e CROSS JOIN c${i - 1} c) p) q
       |  WHERE rn = 1),
       |c$i AS (
       |  SELECT cl, list(m ORDER BY pos) AS cv FROM (
       |    SELECT cl, g.i AS pos,
       |      round(avg(CAST(embedding[g.i] AS DOUBLE)), 6) AS m
       |    FROM a$i, generate_series(1, $dim) g(i)
       |    GROUP BY 1, 2) t
       |  GROUP BY cl)""".stripMargin

  /** The full unrolled Lloyd chain (init → 3 rounds → final
    * assignment a4), shared by the q182 and q188 oracles.
    */
  private val kmeansCtesSql: String =
    s"""c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cl,
       |    list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |${lloydSql(1)},
       |${lloydSql(2)},
       |${lloydSql(3)},
       |a4 AS (
       |  SELECT vec_id, cl, d2 AS d2r FROM (
       |    SELECT vec_id, cl, d2,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |    FROM (
       |      SELECT e.vec_id, c.cl,
       |        round(${V.dist2Sql("e.embedding", "c.cv")}, 6) AS d2
       |      FROM embeddings e CROSS JOIN c3 c) p) q
       |  WHERE rn = 1)""".stripMargin

  /** Distributed Lloyd k-means (k=8, 3 update rounds + final
    * assignment) over the embeddings table, reporting per-cluster
    * size and inertia. The iteration machinery — driver-held
    * centroids, broadcast assignment with map-side argmin, k·d-key
    * update aggregation — is [[graft.pipeline.KMeans]]; see its
    * scaladoc for the 100 TB argument (per-iteration shuffle volume
    * is O(partitions·k·d), independent of n). k is a constant here so
    * DuckDB can replay the loop as an unrolled CTE chain; production
    * k only widens the broadcast.
    *
    * Inertia accumulates the ROUNDED per-vector distances in
    * DECIMAL(28,6) — fold-order-free (the moneySum reasoning), so the
    * sum is bit-identical across engines at any scale.
    */
  val q182 = Q(
    "q182_kmeans_lloyd",
    (s, dir) => {
      val e = Tables.emb(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select("vec_id", "embedding")
      graft.pipeline.KMeans.fit(e, k = 8, iters = 3)
        .groupBy("cl")
        .agg(count(lit(1)).as("n"),
          sum(col("d2r").cast("decimal(28,6)")).cast("double").as("inertia"))
        .orderBy("cl")
    },
    Some(s"""WITH $kmeansCtesSql
      |SELECT cl, count(*) AS n,
      |  CAST(sum(CAST(d2r AS DECIMAL(28,6))) AS DOUBLE) AS inertia
      |FROM a4 GROUP BY cl ORDER BY cl""".stripMargin))

  /** Temperature-based multilingual mixture sampling (the α-sampling
    * of multilingual pretraining, α = 0.5): per-language sampling
    * rates ∝ n_lang^α re-normalized to a half-corpus budget, capped
    * at 1 (downsample-only), then a deterministic portable-hash
    * Bernoulli per document. Complements q104 (waterfill to uniform):
    * temperature sampling RESHAPES the mix toward low-resource
    * languages instead of flattening it.
    *
    * Determinism: α = 0.5 makes the weight sqrt(n)·10⁶ rounded to a
    * BIGINT — sqrt is IEEE-correctly-rounded in both engines (pow is
    * not, which is why the exponent is half) — so rates are quotients
    * of identical integers and the hash filter compares identical
    * doubles. Scale: two aggregations over the corpus plus a
    * broadcast of #languages rows; the budget arithmetic stays in
    * 64-bit range to ~10¹⁰ docs.
    */
  val q183 = Q(
    "q183_temperature_mix",
    (s, dir) => {
      val d = Tables.docs(s, dir)
      val langN = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val scored = langN.withColumn("s",
        round(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      val tot = scored.agg(sum("s").as("stot"), sum("n_docs").as("ntot"))
      val rates = scored.crossJoin(broadcast(tot))
        .withColumn("budget", floor(col("ntot") / 2).cast("long"))
        .withColumn("rate", least(lit(1.0),
          (col("budget") * col("s")).cast("double") /
            (col("stot") * col("n_docs")).cast("double")))
        .select(col("lang").as("lang2"), col("n_docs"), col("rate"))
      val kept = d
        .join(broadcast(rates.select("lang2", "rate")), col("lang") === col("lang2"))
        .filter(Portable.md5Long(concat(lit("mix:"), col("doc_id").cast("string")))
          .cast("double") / lit(1.152921504606846976e18) < col("rate"))
        .groupBy("lang").agg(count(lit(1)).as("kept"))
      rates.join(kept, col("lang2") === col("lang"), "left")
        .select(col("lang2").as("lang"), col("n_docs"),
          round(col("rate"), 6).as("rate"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("lang")
    },
    Some(s"""WITH langn AS (
      |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      |scored AS (
      |  SELECT lang, n_docs,
      |    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS s
      |  FROM langn),
      |tot AS (SELECT sum(s) AS stot, sum(n_docs) AS ntot FROM scored),
      |rates AS (
      |  SELECT lang, n_docs,
      |    least(1.0, CAST(CAST(floor(ntot / 2) AS BIGINT) * s AS DOUBLE)
      |               / CAST(stot * n_docs AS DOUBLE)) AS rate
      |  FROM scored CROSS JOIN tot),
      |kept AS (
      |  SELECT d.lang, count(*) AS kept
      |  FROM documents d JOIN rates r ON d.lang = r.lang
      |  WHERE CAST(${Portable.md5LongSql("'mix:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
      |          / 1152921504606846976.0 < r.rate
      |  GROUP BY 1)
      |SELECT r.lang, r.n_docs, round(r.rate, 6) AS rate,
      |  coalesce(k.kept, 0) AS kept
      |FROM rates r LEFT JOIN kept k ON r.lang = k.lang
      |ORDER BY r.lang""".stripMargin))

  /** q184's per-doc score `(doc_id, lang, n_toks, wsum, score)`, which
    * q191 grades by AUC and q283 by calibration.
    */
  private[queries] def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(Portable.tokens(col("text"))).as("tok"))
      .withColumn("w",
        (pmod(Portable.md5Long(col("tok")), lit(64)) * 37 + 11) % 97 - 48)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
      .withColumn("score", round(
        col("wsum").cast("double") / (col("n_toks").cast("double") * 97.0), 6))

  /** DuckDB twin of [[qualityScore]] before the score: CTEs `toks` and
    * `scored(doc_id, lang, n_toks, wsum)`.
    */
  private[queries] def qualityScoreSql: String =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, count(*) AS n_toks,
       |    CAST(sum(((${Portable.md5LongSql("tok")} % 64) * 37 + 11) % 97 - 48)
       |      AS BIGINT) AS wsum
       |  FROM toks GROUP BY 1, 2)""".stripMargin

  /** Learned linear quality classifier with feature hashing — the
    * fasttext-style model-based filter of the GPT-3/LLaMA data
    * recipes, re-expressed as a pure dataflow: tokens hash into 64
    * feature buckets, each bucket carries a weight, and the per-doc
    * score is the normalized weighted sum. The weights here derive
    * from the bucket id by a fixed integer formula so the oracle can
    * replay them; in production they'd be an offline-trained model
    * broadcast exactly the same way (O(buckets) values).
    *
    * Determinism by integer math: weights are integers in [-48, 48],
    * the per-doc accumulation is an exact BIGINT sum, and the single
    * double division at the end divides identical integers — no
    * float fold anywhere. Scale: explode + one doc_id-keyed
    * aggregation with map-side combine; no joins.
    */
  val q184 = Q(
    "q184_quality_classifier",
    (s, dir) => {
      qualityScore(s, dir)
        .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
        .select("doc_id", "lang", "n_toks", "score", "keep")
        .orderBy("doc_id")
    },
    Some(s"""WITH $qualityScoreSql,
      |final AS (
      |  SELECT doc_id, lang, n_toks,
      |    round(CAST(wsum AS DOUBLE) / (CAST(n_toks AS DOUBLE) * 97.0), 6) AS score
      |  FROM scored)
      |SELECT doc_id, lang, n_toks, score,
      |  CASE WHEN score > 0 THEN 1 ELSE 0 END AS keep
      |FROM final ORDER BY doc_id""".stripMargin))

  /** Corpus snapshot diff — the release-engineering view of a living
    * corpus: given two versions, report added / removed / changed /
    * unchanged document counts and character volume. Versions are
    * derived deterministically from the fixture (v1 drops one
    * hash-decile, v2 drops a different one and edits every 7th doc)
    * so the oracle replays them exactly; in production the two sides
    * are two snapshot paths. One co-partitioned full-outer join on
    * doc_id — single shuffle, linear at any corpus size; content
    * equality compares md5 digests, never text.
    */
  val q185 = Q(
    "q185_corpus_diff",
    (s, dir) => {
      val d = Tables.docs(s, dir).select("doc_id", "text")
      def h(tag: String) =
        Portable.md5Long(concat(lit(tag), col("doc_id").cast("string")))
      val v1 = d.filter(h("v1:") % 10 < 9)
        .select(col("doc_id").as("id1"), md5(col("text")).as("h1"),
          length(col("text")).cast("long").as("nc1"))
      val v2 = d.filter(h("v2:") % 10 < 9)
        .withColumn("t2", when(h("edit:") % 7 === 0,
          concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .select(col("doc_id").as("id2"), md5(col("t2")).as("h2"),
          length(col("t2")).cast("long").as("nc2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .withColumn("status",
          when(col("id1").isNull, "added")
            .when(col("id2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("nc2"), col("nc1"))).as("n_chars"))
        .orderBy("status")
    },
    Some(s"""WITH v1 AS (
      |  SELECT doc_id AS id1, md5(text) AS h1, length(text) AS nc1
      |  FROM documents
      |  WHERE ${Portable.md5LongSql("'v1:' || CAST(doc_id AS VARCHAR)")} % 10 < 9),
      |v2 AS (
      |  SELECT doc_id AS id2, md5(t2) AS h2, length(t2) AS nc2 FROM (
      |    SELECT doc_id,
      |      CASE WHEN ${Portable.md5LongSql("'edit:' || CAST(doc_id AS VARCHAR)")} % 7 = 0
      |           THEN text || ' edited' ELSE text END AS t2
      |    FROM documents
      |    WHERE ${Portable.md5LongSql("'v2:' || CAST(doc_id AS VARCHAR)")} % 10 < 9) s)
      |SELECT status, count(*) AS n_docs,
      |  CAST(sum(coalesce(nc2, nc1)) AS BIGINT) AS n_chars
      |FROM (
      |  SELECT CASE WHEN id1 IS NULL THEN 'added'
      |              WHEN id2 IS NULL THEN 'removed'
      |              WHEN h1 <> h2 THEN 'changed'
      |              ELSE 'unchanged' END AS status,
      |    nc1, nc2
      |  FROM v1 FULL OUTER JOIN v2 ON id1 = id2) t
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The 4-subspace slice map shared by the q186 oracle: DuckDB list
    * slices are 1-based inclusive, Spark's `slice(col, start, len)`
    * matches with start = s·16+1.
    */
  private val subsSql: String =
    (0 until 4).map { sId =>
      val lo = sId * 16 + 1
      val hi = (sId + 1) * 16
      s"SELECT vec_id, $sId AS s, embedding[$lo:$hi] AS sub FROM embeddings"
    }.mkString("subs AS (\n  ", "\n  UNION ALL ", ")")

  /** Product-quantization compressed-domain scoring (the PQ/ADC
    * construction of Jégou et al. 2011) with a recall audit: the
    * 64-d embedding splits into 4 subspaces of 16 dims, each
    * subspace quantizes against a 16-code book — initialized by
    * spread sampling (every n/16-th id, the q180 idiom) and refined
    * with ONE Lloyd round per subspace (all four subspaces train in
    * a single (s, code, pos)-keyed aggregation — the q182 update
    * step with the subspace id as an extra key). Query↔candidate
    * distance is then approximated by summing the PRECOMPUTED
    * query-to-code distances of the candidate's 4 code ids — the
    * asymmetric-distance lookup that lets a 100 TB index score
    * against 4 small code ids per vector instead of 256 raw floats.
    * recall@10 against exact L2 per query is the audit (the q146
    * pattern: approximation with a measured error; the Lloyd round
    * measured recall 0.12 → 0.18 over raw sampled codebooks on the
    * gate fixture — modest in absolute terms because the synthetic
    * embeddings are near-isotropic, which is exactly what the audit
    * is for. A tempting "better" init — the first 16 vec_ids —
    * measured 0.30, but only because those ids overlap the query set:
    * codebook leakage, not quality).
    *
    * Scale: codebooks and the query LUT are O(16·4) and O(|q|·64)
    * rows — broadcast; training adds one corpus pass; encoding is one
    * (vec,subspace)-keyed argmin aggregate; the ADC sum accumulates
    * rounded distances in DECIMAL(28,6), fold-order-free.
    */
  val q186 = Q(
    "q186_pq_adc_recall",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.emb(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select("vec_id", "embedding")
      val subs = e.select(col("vec_id"),
        posexplode(array((0 until 4).map(i =>
          slice(col("embedding"), i * 16 + 1, 16)): _*)))
        .toDF("vec_id", "s", "sub")
      // codebook init: spread sample (the count is O(1) driver work,
      // like SemDeDup.steps), then one Lloyd refinement round over
      // ALL subspaces at once
      val step = math.max(1L, math.ceil(e.count() / 16.0).toLong)
      val init = subs.filter(pmod(col("vec_id"), lit(step)) === 0)
        .select((col("vec_id") / step).cast("int").as("code_id"),
          col("s").as("cs"), col("sub").as("cvec"))
      val codes = subs.join(broadcast(init), col("s") === col("cs"))
        .withColumn("d2", round(V.dist2("sub", "cvec"), 6))
        .groupBy("vec_id", "s")
        .agg(min(struct(col("d2"), col("code_id"), col("sub"))).as("b"))
        .select(col("s"), col("b.code_id").as("code_id"), col("b.sub").as("sub"))
        .select(col("s"), col("code_id"), posexplode(col("sub")))
        .toDF("s", "code_id", "pos", "v")
        .groupBy("s", "code_id", "pos")
        .agg(round(avg(col("v").cast("double")), 6).as("m"))
        .groupBy("s", "code_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cvec"))
        .select(col("s").as("cs"), col("code_id"), col("cvec"))
      val enc = subs.join(broadcast(codes), col("s") === col("cs"))
        .withColumn("d2", round(V.dist2("sub", "cvec"), 6))
        .groupBy("vec_id", "s")
        .agg(min(struct(col("d2"), col("code_id"))).as("best"))
        .select(col("vec_id"), col("s"), col("best.code_id").as("code"))
      val lut = subs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("s").as("qs"), col("sub").as("qsub"))
        .join(broadcast(codes), col("qs") === col("cs"))
        .withColumn("qd2", round(V.dist2("qsub", "cvec"), 6))
        .select(col("query_id"), col("qs"), col("code_id").as("qcode"), col("qd2"))
      val adc = enc.join(broadcast(lut),
          col("s") === col("qs") && col("code") === col("qcode"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("qd2").cast("decimal(28,6)")).cast("double").as("ad2"))
        .withColumnRenamed("vec_id", "cand_id")
      val pqTop = adc.withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("ad2"), col("cand_id"))))
        .filter(col("rn") <= 10)
        .select(col("query_id").as("pq"), col("cand_id").as("pc"))
      val qfull = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
        .crossJoin(broadcast(qfull))
        .filter(col("cand_id") =!= col("query_id"))
        .withColumn("d2", round(V.dist2("ce", "qe"), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("d2"), col("cand_id"))))
        .filter(col("rn") <= 10)
        .join(pqTop,
          col("query_id") === col("pq") && col("cand_id") === col("pc"), "left")
        .groupBy("query_id")
        .agg((sum(when(col("pc").isNotNull, 1).otherwise(0)) / 10.0).as("recall10"))
        .orderBy("query_id")
    },
    Some(s"""WITH $subsSql,
      |st AS (
      |  SELECT greatest(1, CAST(ceil(count(*) / 16.0) AS BIGINT)) AS step
      |  FROM embeddings),
      |init AS (
      |  SELECT CAST(vec_id // step AS INTEGER) AS code_id, s AS cs, sub AS cvec
      |  FROM subs CROSS JOIN st WHERE vec_id % step = 0),
      |asg AS (
      |  SELECT s, code_id, sub FROM (
      |    SELECT u.vec_id, u.s, c.code_id, u.sub,
      |      row_number() OVER (PARTITION BY u.vec_id, u.s
      |        ORDER BY round(${V.dist2Sql("u.sub", "c.cvec")}, 6), c.code_id) AS rn
      |    FROM subs u JOIN init c ON u.s = c.cs) r
      |  WHERE rn = 1),
      |codes AS (
      |  SELECT cs, code_id, list(m ORDER BY pos) AS cvec FROM (
      |    SELECT s AS cs, code_id, g.i AS pos,
      |      round(avg(CAST(sub[g.i] AS DOUBLE)), 6) AS m
      |    FROM asg, generate_series(1, 16) g(i)
      |    GROUP BY 1, 2, 3) t
      |  GROUP BY 1, 2),
      |enc AS (
      |  SELECT vec_id, s, code_id AS code FROM (
      |    SELECT u.vec_id, u.s, c.code_id,
      |      row_number() OVER (PARTITION BY u.vec_id, u.s
      |        ORDER BY round(${V.dist2Sql("u.sub", "c.cvec")}, 6), c.code_id) AS rn
      |    FROM subs u JOIN codes c ON u.s = c.cs) r
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT u.vec_id AS query_id, u.s AS qs, c.code_id AS qcode,
      |    round(${V.dist2Sql("u.sub", "c.cvec")}, 6) AS qd2
      |  FROM subs u JOIN codes c ON u.s = c.cs
      |  WHERE u.vec_id < 20),
      |adc AS (
      |  SELECT l.query_id, e.vec_id AS cand_id,
      |    CAST(sum(CAST(l.qd2 AS DECIMAL(28,6))) AS DOUBLE) AS ad2
      |  FROM enc e JOIN lut l ON e.s = l.qs AND e.code = l.qcode
      |  WHERE e.vec_id <> l.query_id
      |  GROUP BY 1, 2),
      |pqtop AS (
      |  SELECT query_id AS pq, cand_id AS pc FROM (
      |    SELECT query_id, cand_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY ad2, cand_id) AS rn
      |    FROM adc) r
      |  WHERE rn <= 10),
      |exact AS (
      |  SELECT query_id, cand_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(${V.dist2Sql("c.embedding", "q.embedding")}, 6),
      |          c.vec_id) AS rn
      |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      |    WHERE q.vec_id < 20) r
      |  WHERE rn <= 10)
      |SELECT e.query_id,
      |  sum(CASE WHEN p.pc IS NOT NULL THEN 1 ELSE 0 END) / 10.0 AS recall10
      |FROM exact e LEFT JOIN pqtop p ON e.query_id = p.pq AND e.cand_id = p.pc
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin))

  /** LSH band-parameter sensitivity — the S-curve audit a production
    * MinHash deployment runs before picking (bands, rows): for the
    * SAME 16 seeded min-hashes banded three ways (2×8, 4×4, 8×2),
    * report colliding-bucket and candidate-pair volume. Everything is
    * an aggregate over bucket COUNTS — Σ n·(n−1)/2 per bucket — so
    * the sweep never enumerates a pair and stays linear at any corpus
    * size (the enumeration itself is q41's job once parameters are
    * chosen).
    */
  val q187 = Q(
    "q187_lsh_band_sensitivity",
    (s, dir) => {
      // tokenized once, pinned: three band settings re-read the frame
      val toks = Pins.pin(Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks")))
      val settings = Seq((2, 8), (4, 4), (8, 2))
      settings.map { case (b, r) =>
        val sigs = toks.select(col("doc_id"),
          explode(expr(s"minhash_bands(toks, $b, $r)")).as("sig"))
        val buckets = sigs.groupBy("sig").agg(count(lit(1)).as("n"))
        val stats = buckets.agg(
          sum(when(col("n") > 1, 1).otherwise(0)).cast("long").as("buckets_gt1"),
          (sum(col("n") * (col("n") - 1)) / 2).cast("long").as("cand_pairs"))
        val dic = sigs.join(buckets.filter(col("n") > 1), "sig")
          .agg(countDistinct("doc_id").as("docs_in_cand"))
        stats.crossJoin(dic)
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("buckets_gt1"), col("cand_pairs"), col("docs_in_cand"))
      }.reduce(_ unionAll _).orderBy("bands")
    },
    Some {
      val mh =
        s"""WITH toks AS (
           |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks
           |  FROM documents WHERE lang = 'en'),
           |${graft.functions.MinHashBands.minsSql("toks")}""".stripMargin
      val per = Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
        val sig = graft.functions.MinHashBands.bandListSql(r)
        s"""SELECT $b AS bands, $r AS rows_per_band, buckets_gt1, cand_pairs,
           |  (SELECT count(DISTINCT s.doc_id)
           |   FROM ($sig) s
           |   JOIN (SELECT band, sig FROM (
           |           SELECT band, sig, count(*) AS n
           |           FROM ($sig) x
           |           GROUP BY 1, 2) y WHERE n > 1) bb
           |     ON s.band = bb.band AND s.sig = bb.sig) AS docs_in_cand
           |FROM (
           |  SELECT CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS buckets_gt1,
           |    CAST(sum(n * (n - 1)) / 2 AS BIGINT) AS cand_pairs
           |  FROM (
           |    SELECT band, sig, count(*) AS n FROM ($sig) x
           |    GROUP BY 1, 2) z) agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$mh\n$per\nORDER BY bands"
    })

  /** Cluster-purity report over the q182 k-means assignment — the
    * evaluation view that decides whether a clustering is usable for
    * curation (SemDeDup cells, DSIR domains): per cluster, size,
    * majority ground-truth label and purity. Reuses the pinned Lloyd
    * chain; the label join is the only addition (cluster×label keys,
    * map-side combinable).
    */
  val q188 = Q(
    "q188_cluster_purity",
    (s, dir) => {
      val e = Tables.emb(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val byLab = graft.pipeline.KMeans.fit(e.select("vec_id", "embedding"), 8, 3)
        .join(e.select(col("vec_id").as("lv"), col("label")),
          col("vec_id") === col("lv"))
        .groupBy("cl", "label").agg(count(lit(1)).as("nl"))
      val tot = byLab.groupBy("cl").agg(sum("nl").as("n"))
      val maj = byLab
        .groupBy("cl")
        .agg(min(struct((-col("nl")).as("negn"), col("label"))).as("m"))
        .select(col("cl").as("cl2"), (-col("m.negn")).as("maj_n"),
          col("m.label").as("maj_label"))
      tot.join(maj, col("cl") === col("cl2"))
        .select(col("cl"), col("n"), col("maj_label"), col("maj_n"),
          round(col("maj_n").cast("double") / col("n"), 6).as("purity"))
        .orderBy("cl")
    },
    Some(s"""WITH $kmeansCtesSql,
      |bylab AS (
      |  SELECT a.cl, e.label, count(*) AS nl
      |  FROM a4 a JOIN embeddings e USING (vec_id)
      |  GROUP BY 1, 2),
      |tot AS (SELECT cl, CAST(sum(nl) AS BIGINT) AS n FROM bylab GROUP BY 1),
      |maj AS (
      |  SELECT cl, nl AS maj_n, label AS maj_label FROM (
      |    SELECT cl, label, nl,
      |      row_number() OVER (PARTITION BY cl ORDER BY nl DESC, label) AS rn
      |    FROM bylab) r
      |  WHERE rn = 1)
      |SELECT t.cl, t.n, m.maj_label, m.maj_n,
      |  round(CAST(m.maj_n AS DOUBLE) / t.n, 6) AS purity
      |FROM tot t JOIN maj m USING (cl)
      |ORDER BY t.cl""".stripMargin))

  /** Vocabulary-coverage curve — the tokenizer-design question "how
    * many vocabulary entries cover 90/95/99% of the token stream, per
    * language". The frequency-ranked vocabulary gets its cumulative
    * counts from [[graft.functions.Dist.globalCumsumBy]] (cnt and a
    * ones column cumsummed together over the (lang, cnt DESC, tok)
    * total order — the rank IS the ones-cumsum), so no
    * single-partition window ever sees the vocabulary, which at
    * 100 TB is itself a billion-row table. Per-language prefixes
    * subtract off via the O(#langs) offset window (the q153 recipe),
    * and the coverage thresholds compare in exact integer math
    * (ccum·100 ≥ ltot·90), no float division anywhere.
    */
  val q189 = Q(
    "q189_vocab_coverage_curve",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = Tables.docs(s, dir)
        .select(col("lang"), explode(Portable.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
        .withColumn("one", lit(1L))
      val cum = graft.functions.Dist.globalCumsumBy(
        vocab, Seq(col("lang"), col("cnt").desc, col("tok")),
        Seq("cnt", "one"), 32)
      val wL = Window.orderBy("lang")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = cum.groupBy("lang")
        .agg(sum("cnt").as("ltot"), sum("one").as("lvocab"))
        .withColumn("cnt_off", coalesce(sum("ltot").over(wL), lit(0L)))
        .withColumn("one_off", coalesce(sum("lvocab").over(wL), lit(0L)))
        .select(col("lang").as("lang2"), col("ltot"), col("lvocab"),
          col("cnt_off"), col("one_off"))
      cum.join(broadcast(offs), col("lang") === col("lang2"))
        .withColumn("ccum", col("cnt_cum") - col("cnt_off"))
        .withColumn("vrank", col("one_cum") - col("one_off"))
        .groupBy("lang")
        .agg(
          max("lvocab").as("vocab_size"),
          max("ltot").as("total_toks"),
          min(when(col("ccum") * 100 >= col("ltot") * 90, col("vrank"))).as("v90"),
          min(when(col("ccum") * 100 >= col("ltot") * 95, col("vrank"))).as("v95"),
          min(when(col("ccum") * 1000 >= col("ltot") * 990, col("vrank"))).as("v99"))
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (
      |  SELECT lang, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |vocab AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |w AS (
      |  SELECT lang, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS vrank,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, tok
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccum,
      |    sum(cnt) OVER (PARTITION BY lang) AS ltot,
      |    count(*) OVER (PARTITION BY lang) AS lvocab
      |  FROM vocab)
      |SELECT lang,
      |  CAST(max(lvocab) AS BIGINT) AS vocab_size,
      |  CAST(max(ltot) AS BIGINT) AS total_toks,
      |  CAST(min(CASE WHEN ccum * 100 >= ltot * 90 THEN vrank END) AS BIGINT) AS v90,
      |  CAST(min(CASE WHEN ccum * 100 >= ltot * 95 THEN vrank END) AS BIGINT) AS v95,
      |  CAST(min(CASE WHEN ccum * 1000 >= ltot * 990 THEN vrank END) AS BIGINT) AS v99
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin))

  /** Incremental ANN-index / dedup maintenance — the production shape
    * of "a new batch arrives against a standing corpus": ~10% of the
    * vectors (a deterministic hash slice) play the delta batch, IVF
    * cells derive from the BASE corpus only (√n sampled seeds, the
    * q180 idiom — the index is NOT rebuilt for a batch), deltas
    * assign into the standing cells, and the near-dup report covers
    * only pairs involving a delta (delta×base, and within-batch with
    * the usual a<b orientation). Per-batch work is Θ(|delta|·√n)
    * pair volume plus one broadcast assignment pass — the batch
    * never touches cells it doesn't land in. Complements q81 (the
    * content-hash incremental dedup) at the embedding layer; same
    * output contract as q180's dedupReport.
    */
  val q190 = Q(
    "q190_incremental_ann_maintenance",
    (s, dir) => {
      val e = Tables.emb(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select("vec_id", "embedding")
      val isBase = Portable.md5Long(
        concat(lit("b:"), col("vec_id").cast("string"))) % 10 < 9
      val base = e.filter(isBase)
      val step = {
        val n = base.count()
        math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)
      }
      val seeds = base.filter(pmod(col("vec_id"), lit(step)) === 0)
        .select(col("vec_id").as("seed_id"), col("embedding").as("svec"))
      val assigned = e
        .withColumn("is_base", isBase.cast("int"))
        .crossJoin(broadcast(seeds))
        .withColumn("d2", round(V.dist2("embedding", "svec"), 6))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("seed_id"), col("embedding"),
          col("is_base"))).as("b"))
        .select(col("vec_id"), col("b.embedding").as("embedding"),
          col("b.seed_id").as("cell"), col("b.is_base").as("is_base"))
        .withColumn("nrm", V.norm("embedding"))
      val a = assigned.select(col("vec_id").as("ka"), col("cell"),
        col("is_base").as("ab"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = assigned.filter(col("is_base") === 0)
        .select(col("vec_id").as("dropped"), col("cell").as("cellb"),
          col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, col("cell") === col("cellb") && col("ka") =!= col("dropped") &&
          (col("ab") === 1 || col("ka") < col("dropped")))
        .withColumn("cos", round(V.dot("ea", "eb") / (col("na") * col("nb")), 6))
        .filter(col("cos") >= 0.35)
        .groupBy("dropped")
        .agg(min("ka").as("keeper"), max("cos").as("max_cos"),
          count(lit(1)).as("n_dups"))
        .orderBy("dropped")
    },
    Some(s"""WITH base AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  WHERE ${Portable.md5LongSql("'b:' || CAST(vec_id AS VARCHAR)")} % 10 < 9),
      |${graft.pipeline.SemDeDup.seedsSql("base")},
      |un AS (
      |  SELECT vec_id, embedding,
      |    CASE WHEN ${Portable.md5LongSql("'b:' || CAST(vec_id AS VARCHAR)")} % 10 < 9
      |         THEN 1 ELSE 0 END AS is_base
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id, embedding, is_base, cell,
      |    sqrt(${V.dotSql("embedding", "embedding")}) AS nrm
      |  FROM (
      |    SELECT u.vec_id, u.embedding, u.is_base, s.seed_id AS cell,
      |      row_number() OVER (PARTITION BY u.vec_id
      |        ORDER BY round(${V.dist2Sql("u.embedding", "s.svec")}, 6), s.seed_id) AS rn
      |    FROM un u CROSS JOIN seeds s)
      |  WHERE rn = 1),
      |pairs AS (
      |  SELECT b.vec_id AS dropped, a.vec_id AS ka,
      |    round(${V.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
      |  FROM assigned b JOIN assigned a
      |    ON a.cell = b.cell AND b.is_base = 0 AND a.vec_id <> b.vec_id
      |      AND (a.is_base = 1 OR a.vec_id < b.vec_id))
      |SELECT dropped, min(ka) AS keeper, max(cos) AS max_cos,
      |  count(*) AS n_dups
      |FROM pairs WHERE cos >= 0.35
      |GROUP BY dropped ORDER BY dropped""".stripMargin))

  val all: Vector[Q] =
    Vector(q182, q183, q184, q185, q186, q187, q188, q189, q190)
}

