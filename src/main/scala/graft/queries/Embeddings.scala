package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding analytics: Lloyd k-means and cluster purity, product
  * quantization with ADC scoring, incremental ANN maintenance,
  * Johnson–Lindenstrauss projection, per-dimension health,
  * standardization, kNN classification, k-center core-sets, per-label
  * and per-source drift and outliers.
  */
object Embeddings {

  /** L3+ kNN label vote: each query embedding takes the majority
    * label of its 5 nearest (rounded-cosine) neighbors. The query set
    * broadcasts against the candidate table (same scale shape as
    * q48); the vote is two tiny aggregates after the top-k cut.
    */
  val q116 = Q(
    "q116_knn_classify",
    (s, dir) => {
      val wn = Tables.emb(s, dir).withColumn("nrm", V.norm("embedding"))
      val qs = wn.filter(col("vec_id") < 100).select(
        col("vec_id").as("query_id"), col("label").as("label"),
        col("embedding").as("qe"), col("nrm").as("qn"))
      val cand = wn.select(
        col("vec_id").as("cand_id"), col("label").as("clabel"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      val byCos = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("cand_id"))
      val top = cand.crossJoin(broadcast(qs))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("rn", row_number().over(byCos))
        .filter(col("rn") <= 5)
      val byVotes = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("clabel"))
      top.groupBy("query_id", "label", "clabel")
        .agg(count(lit(1)).as("votes"))
        .withColumn("pr", row_number().over(byVotes))
        .filter(col("pr") === 1)
        .select(col("query_id"), col("label"), col("clabel").as("pred"),
          col("votes"), (col("label") === col("clabel")).as("correct"))
        .orderBy("query_id")
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, label, embedding, ${V.normSql("embedding")} AS nrm
      |  FROM embeddings),
      |top AS (
      |  SELECT * FROM (
      |    SELECT query_id, label, cand_id, clabel, cos,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      |    FROM (
      |      SELECT q.vec_id AS query_id, q.label AS label,
      |        c.vec_id AS cand_id, c.label AS clabel,
      |        round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos
      |      FROM wn q JOIN wn c ON q.vec_id <> c.vec_id
      |      WHERE q.vec_id < 100))
      |  WHERE rn <= 5),
      |votes AS (
      |  SELECT query_id, label, clabel, count(*) AS votes
      |  FROM top GROUP BY 1, 2, 3)
      |SELECT query_id, label, clabel AS pred, CAST(votes AS BIGINT) AS votes,
      |  label = clabel AS correct
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, clabel) AS pr
      |      FROM votes)
      |WHERE pr = 1
      |ORDER BY query_id""".stripMargin))

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

  /** Johnson-Lindenstrauss random projection search + recall audit:
    * embeddings are projected 64 -> 16 dims through a deterministic
    * ±1 sign matrix (signs = md5 parity of "jl:i:j", derived
    * identically by the oracle), and every probe's top-10 by
    * projected distance is scored against its exact top-10 — recall
    * and distance distortion, measured not assumed (the q132/q146
    * audit pattern). The projection is ONE codegen'd kernel call per
    * row ([[graft.functions.JlProject]] — the folded Column form is a
    * ~10⁴-node expression tree that costs seconds of plan overhead;
    * CurationOps2Spec pins the two equal) — no 64x row explode, no
    * shuffle; pair scans reuse the q48 broadcast-probe shape. At
    * scale the projected vectors are 4x smaller than the originals —
    * this is the compressed-domain prefilter that makes brute-force
    * rescoring affordable, complementary to PQ/ADC (q186).
    */
  val q194 = Q(
    "q194_jl_projection_recall",
    (s, dir) => {
      val withProj = Tables.emb(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("proj", expr("jl_project(embedding, 16)"))
      // FIXED-SIZE probe panel (~20), not a fixed fraction: a `% 100`
      // probe rule makes the audit's pair space 0.01·n² — quadratic
      // (the q118 lesson). The modulus scales with the corpus so
      // audited pairs stay ~20·n: linear at any scale.
      val mod = withProj.select(greatest(lit(100L),
        ceil(count(lit(1)) / 20.0).cast("long")).as("mod"))
      val probes = withProj.crossJoin(broadcast(mod))
        .filter(col("vec_id") % col("mod") === 0)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("pe"), col("proj").as("pp"))
      val pairs = withProj
        .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("d2e", V.dist2("embedding", "pe"))
        .withColumn("d2p", V.dist2("proj", "pp"))
      val we = Window.partitionBy("probe_id").orderBy(col("d2e"), col("vec_id"))
      val wp = Window.partitionBy("probe_id").orderBy(col("d2p"), col("vec_id"))
      pairs
        .withColumn("re", row_number().over(we))
        .withColumn("rp", row_number().over(wp))
        .filter(col("re") <= 10 || col("rp") <= 10)
        .groupBy("probe_id")
        .agg(
          sum(when(col("re") <= 10 && col("rp") <= 10, 1L).otherwise(0L)).as("hits"),
          round(sum(when(col("re") <= 10 && col("rp") <= 10, 1L).otherwise(0L)) / 10.0, 6)
            .as("recall"),
          round(avg(when(col("re") <= 10 && col("d2e") > 0, col("d2p") / col("d2e"))), 6)
            .as("avg_distortion"))
        .orderBy("probe_id")
    },
    Some(s"""WITH pr AS (
      |  SELECT vec_id, embedding,
      |    list_transform(range(0, 16), j -> list_sum(list_transform(range(0, 64),
      |      i -> CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) *
      |        CASE WHEN ${Portable.md5LongSql("concat('jl:', i, ':', j)")} % 2 = 0
      |          THEN 1.0 ELSE -1.0 END))) AS proj
      |  FROM embeddings),
      |md AS (SELECT greatest(100, CAST(ceil(count(*) / 20.0) AS BIGINT)) AS m
      |       FROM embeddings),
      |pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id,
      |    ${V.dist2Sql("c.embedding", "p.embedding")} AS d2e,
      |    ${V.dist2Sql("c.proj", "p.proj")} AS d2p
      |  FROM pr p CROSS JOIN md JOIN pr c
      |    ON p.vec_id % md.m = 0 AND c.vec_id <> p.vec_id),
      |rk AS (
      |  SELECT probe_id, vec_id, d2e, d2p,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY d2e, vec_id) AS re,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY d2p, vec_id) AS rp
      |  FROM pairs)
      |SELECT probe_id,
      |  CAST(sum(CASE WHEN re <= 10 AND rp <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |  round(sum(CASE WHEN re <= 10 AND rp <= 10 THEN 1 ELSE 0 END) / 10.0, 6) AS recall,
      |  round(avg(CASE WHEN re <= 10 AND d2e > 0 THEN d2p / d2e END), 6) AS avg_distortion
      |FROM rk
      |GROUP BY 1
      |ORDER BY probe_id""".stripMargin))

  /** Per-dimension embedding health diagnostics — the "dead dim /
    * scale anomaly" check run before any geometry-dependent stage
    * (k-means, SemDeDup, ANN): mean, spread, range, and near-zero
    * share per coordinate, plus a dead-dimension verdict. One
    * posexplode + one aggregate on a 64-value key — constant output
    * size at any corpus scale, and the map-side partial aggregation
    * means the shuffle carries 64 x #partitions rows, not the data.
    */
  val q195 = Q(
    "q195_embedding_dim_health",
    (s, dir) => {
      Tables.emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          round(avg(col("x")), 6).as("mean"),
          round(stddev_samp(col("x")), 6).as("std"),
          min(col("x")).as("minv"),
          max(col("x")).as("maxv"),
          sum(when(abs(col("x")) < 0.001, 1L).otherwise(0L)).as("n_small"))
        .withColumn("dead", (col("std") < 0.01).cast("int"))
        .select("dim", "n", "mean", "std", "minv", "maxv", "n_small", "dead")
        .orderBy("dim")
    },
    Some("""WITH ex AS (
      |  SELECT CAST(g.i - 1 AS INTEGER) AS dim,
      |    CAST(embedding[g.i] AS DOUBLE) AS x
      |  FROM embeddings CROSS JOIN generate_series(1, 64) g(i))
      |SELECT dim, count(*) AS n,
      |  round(avg(x), 6) AS mean,
      |  round(stddev_samp(x), 6) AS std,
      |  min(x) AS minv,
      |  max(x) AS maxv,
      |  CAST(sum(CASE WHEN abs(x) < 0.001 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
      |  CAST(round(stddev_samp(x), 6) < 0.01 AS INTEGER) AS dead
      |FROM ex
      |GROUP BY 1
      |ORDER BY dim""".stripMargin))

  /** Per-label embedding outliers: the five vectors farthest from
    * their label centroid — the "mislabeled / junk embedding" probe
    * that runs before any centroid-based dedup trusts its cells.
    * Centroids are rounded to 6 dp so both engines rank identical
    * distances (q49/q50 pattern); the distance is the codegen'd
    * in-order fold ([[V.dist2]]); the per-label top-5 is one window
    * over the label partition.
    */
  val q205 = Q(
    "q205_label_outliers",
    (s, dir) => {
      val e = Tables.emb(s, dir)
      val cent = e
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "pos0", "v")
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("c"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cvec"))
      e.join(broadcast(cent), "label")
        .withColumn("d2", round(V.dist2("embedding", "cvec"), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy(col("d2").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
        .select("label", "vec_id", "d2", "rn")
        .orderBy("label", "rn")
    },
    Some(s"""WITH ${Vectors.centroidsSql},
      |d AS (
      |  SELECT e.label, e.vec_id,
      |    round(${V.dist2Sql("e.embedding", "cent.cvec")}, 6) AS d2
      |  FROM embeddings e JOIN cent ON cent.clabel = e.label)
      |SELECT label, vec_id, d2, rn FROM (
      |  SELECT label, vec_id, d2, CAST(row_number() OVER (
      |      PARTITION BY label ORDER BY d2 DESC, vec_id) AS INTEGER) AS rn
      |  FROM d)
      |WHERE rn <= 5 ORDER BY label, rn""".stripMargin))

  /** Greedy k-center core-set over the embedding table (k = 8): the
    * diverse-sample selection a fine-tuning pipeline runs to pick
    * maximally-spread exemplars. Each round keeps a running rounded
    * min-distance column (one broadcast of the single new center, no
    * re-scan of past centers) and takes the argmax with a bounded
    * 1-row collect — k−1 driver round-trips total, independent of
    * corpus size. Distances are the in-order [[V.dist2]] fold rounded
    * to 6 dp, so both engines select identical centers.
    */
  val q208 = Q(
    "q208_kcenter_coreset",
    (s, dir) => {
      val e = Tables.emb(s, dir).select("vec_id", "embedding")
      val seed = e.orderBy("vec_id").limit(1)
      var m = Pins.pin(e.crossJoin(broadcast(seed.select(col("embedding").as("se"))))
        .select(col("vec_id"), col("embedding"),
          round(V.dist2("embedding", "se"), 6).as("md")))
      val picked = Seq.newBuilder[(Int, Long, Double)]
      picked += ((0, seed.head().getLong(0), 0.0))
      for (r <- 1 to 7) {
        val sel = m.orderBy(col("md").desc, col("vec_id")).limit(1).head()
        picked += ((r, sel.getLong(0), sel.getDouble(2)))
        val selVec = e.filter(col("vec_id") === sel.getLong(0))
          .select(col("embedding").as("se"))
        // eager checkpoint per round: each round is one O(n) pass
        // instead of re-deriving all prior rounds' distance updates
        m = Pins.pin(m.crossJoin(broadcast(selVec))
          .select(col("vec_id"), col("embedding"),
            least(col("md"), round(V.dist2("embedding", "se"), 6)).as("md")))
      }
      import s.implicits._
      picked.result().toDF("r", "vec_id", "radius").orderBy("r")
    },
    Some {
      val d2 = (a: String, b: String) => V.dist2Sql(a, b)
      val rounds = (1 to 7).map { r =>
        s"""c$r AS (SELECT vec_id, embedding, md FROM m$r
           |        ORDER BY md DESC, vec_id LIMIT 1),
           |m${r + 1} AS (SELECT m.vec_id, m.embedding,
           |    LEAST(m.md, round(${d2("m.embedding", s"c$r.embedding")}, 6)) AS md
           |  FROM m$r m, c$r)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 7).map(r =>
        s"SELECT $r AS r, vec_id, md AS radius FROM c$r").mkString("\nUNION ALL ")
      s"""WITH seed AS (SELECT vec_id, embedding FROM embeddings
         |              ORDER BY vec_id LIMIT 1),
         |m1 AS (SELECT e.vec_id, e.embedding,
         |    round(${d2("e.embedding", "seed.embedding")}, 6) AS md
         |  FROM embeddings e, seed),
         |$rounds
         |SELECT CAST(r AS INTEGER) AS r, vec_id, radius FROM (
         |  SELECT 0 AS r, vec_id, 0.0 AS radius FROM seed
         |  UNION ALL $sel)
         |ORDER BY r""".stripMargin
    })

  /** Per-source embedding drift report: each source's centroid is
    * compared (cosine) against the GLOBAL corpus centroid, alongside
    * the source's dispersion (mean cosine of its docs to its own
    * centroid) — the monitoring table that catches a source whose
    * embedding distribution wanders (scraper change, encoder
    * version bump) before it poisons training. Centroid math is the
    * q49 shape: posexplode + per-(source, pos) aggregation, rounded
    * to 6 dp so both engines share exact centroid values; the
    * per-source frame is #sources×dims rows regardless of corpus
    * size, and the global centroid broadcasts as one row.
    */
  val q227 = Q(
    "q227_source_embedding_drift",
    (s, dir) => {
      val de = Tables.t(s, dir, "documents").select("doc_id", "source")
        .join(Tables.emb(s, dir), col("doc_id") === col("vec_id"))
        .select(col("source"), col("vec_id"), col("embedding"))
      val long = de.select(col("source"), posexplode(col("embedding")))
        .toDF("source", "pos0", "v")
      def assemble(grouped: DataFrame, key: Seq[String]): DataFrame = grouped
        .groupBy(key.map(col): _*)
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cvec"))
      val srcCent = assemble(
        long.groupBy(col("source"), (col("pos0") + 1).as("pos"))
          .agg(round(avg(col("v").cast("double")), 6).as("c")),
        Seq("source"))
      val glob = assemble(
        long.groupBy((col("pos0") + 1).as("pos"))
          .agg(round(avg(col("v").cast("double")), 6).as("c"))
          .withColumn("g", lit(1)),
        Seq("g"))
        .select(col("cvec").as("gvec"))
      val drift = srcCent.crossJoin(broadcast(glob))
        .select(col("source"), col("cvec"),
          round(V.dot("cvec", "gvec") /
            (V.norm("cvec") * V.norm("gvec")), 6).as("centroid_cos"))
      val disp = de.join(broadcast(drift.select("source", "cvec")), "source")
        .withColumn("dc",
          round(V.dot("embedding", "cvec") /
            (V.norm("embedding") * V.norm("cvec")), 6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg("dc"), 6).as("dispersion"))
      drift.join(disp, "source")
        .select(col("source"), col("n_docs"), col("centroid_cos"),
          col("dispersion"))
        .orderBy("source")
    },
    Some(s"""WITH de AS (
      |  SELECT d.source, e.vec_id, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |long AS (
      |  SELECT source, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM de, generate_series(1, 64) g(i)),
      |src_cent AS (
      |  SELECT source, list(c ORDER BY pos) AS cvec FROM (
      |    SELECT source, pos, round(avg(v), 6) AS c
      |    FROM long GROUP BY 1, 2)
      |  GROUP BY source),
      |gcent AS (
      |  SELECT list(c ORDER BY pos) AS gvec FROM (
      |    SELECT pos, round(avg(v), 6) AS c
      |    FROM long GROUP BY 1)),
      |drift AS (
      |  SELECT source, cvec,
      |    round(${V.dotSql("cvec", "gvec")}
      |      / (${V.normSql("cvec")} * ${V.normSql("gvec")}), 6) AS centroid_cos
      |  FROM src_cent CROSS JOIN gcent),
      |disp AS (
      |  SELECT de.source, count(*) AS n_docs,
      |    round(avg(round(${V.dotSql("de.embedding", "sc.cvec")}
      |      / (${V.normSql("de.embedding")} * ${V.normSql("sc.cvec")}), 6)), 6)
      |      AS dispersion
      |  FROM de JOIN src_cent sc ON de.source = sc.source
      |  GROUP BY 1)
      |SELECT source, n_docs, centroid_cos, dispersion
      |FROM drift JOIN disp USING (source)
      |ORDER BY source""".stripMargin))

  /* Embedding-space outlier detection — the
    * curation read that runs BEFORE dedup/selection on a new embedding
    * batch: "which vectors sit far from everything in their own
    * region?" (mislabeled points, garbage decodes, off-distribution
    * scrapes). The canonical score is the k-NN distance (mean distance
    * to the k nearest neighbors); points with the largest score are
    * the outliers a human (or a drop rule) reviews first.
    */

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

  val all: Vector[Q] =
    Vector(q116, q149, q182, q186, q188, q190, q194, q195, q205, q208, q227,
      q284)
}
