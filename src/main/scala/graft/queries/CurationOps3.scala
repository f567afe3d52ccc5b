package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sufficient-statistics learning operators: the corpus is reduced to
  * bounded moment aggregates in ONE distributed pass (d² covariance /
  * normal-equation entries — O(d²) rows, never O(n)), and the model
  * fit runs as a fixed unrolled iteration on those statistics —
  * identically, op for op, in Spark (driver-side fold over the
  * collected d² frame, the k-means/Dist bounded-collect pattern) and
  * in the DuckDB oracle (unrolled CTEs folding the same lists in the
  * same order). Cross-engine cut: the statistics are rounded to 6 dp
  * BEFORE iterating, so both engines iterate on bit-identical inputs
  * with bit-identical IEEE arithmetic. Reference scope: SURVEY.md
  * §2.13 (N) — the reference has no native analytics at all.
  */
object CurationOps3 {

  private val dim = 64

  /** Driver-side twin of the oracle's `round(x, 6)` on DOUBLE
    * (std::round of the scaled value — half away from zero), applied
    * to driver-computed outputs so both engines round the identical
    * double through the identical rule. NOT math.rint (half-even).
    */
  private def r6(x: Double): Double = {
    val t = x * 1e6
    (if (t >= 0) math.floor(t + 0.5) else math.ceil(t - 0.5)) / 1e6
  }

  /** Distributed covariance sufficient statistics of the embedding
    * table: (i, j, cij) with cij = round(Σxᵢxⱼ/n − mᵢmⱼ, 6). One
    * double-explode (n·d² rows with map-side partial aggregation —
    * the shuffle carries d²·#partitions rows, not the data) + one
    * broadcast of the d-row mean table.
    */
  private def covFrame(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.emb(s, dir)
    val ex = e.select(col("embedding"),
      posexplode(col("embedding")).as(Seq("i", "xf")))
    val prods = ex
      .select(col("i"), col("xf").cast("double").as("xi"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("j", "xj")))
    val raw = prods.groupBy("i", "j")
      .agg(sum(col("xi") * col("xj")).as("sxx"), count(lit(1)).as("n"))
    val means = ex.groupBy("i")
      .agg(avg(col("xf").cast("double")).as("m"))
    raw
      .join(broadcast(means.select(col("i"), col("m").as("mi"))), "i")
      .join(broadcast(means.select(col("i").as("j"), col("m").as("mj"))), "j")
      .select(col("i"), col("j"),
        round(col("sxx") / col("n") - col("mi") * col("mj"), 6).as("c"))
  }

  /** The same statistic in DuckDB SQL (generate_series double-expand;
    * the oracle corpus is small enough that the n·d² expansion is
    * fine there).
    */
  private val covSql: String =
    s"""ex AS (
       |  SELECT gi.i - 1 AS i, gj.i - 1 AS j,
       |    CAST(embedding[gi.i] AS DOUBLE) * CAST(embedding[gj.i] AS DOUBLE) AS p
       |  FROM embeddings
       |  CROSS JOIN generate_series(1, $dim) gi(i)
       |  CROSS JOIN generate_series(1, $dim) gj(i)),
       |mn AS (
       |  SELECT g.i - 1 AS i, avg(CAST(embedding[g.i] AS DOUBLE)) AS m
       |  FROM embeddings CROSS JOIN generate_series(1, $dim) g(i)
       |  GROUP BY 1),
       |cov AS (
       |  SELECT ex.i, ex.j,
       |    round(sum(p) / count(*) - a.m * b.m, 6) AS c
       |  FROM ex JOIN mn a ON a.i = ex.i JOIN mn b ON b.i = ex.j
       |  GROUP BY ex.i, ex.j, a.m, b.m)""".stripMargin

  /** One matvec + normalize round of the oracle's power iteration:
    * w = C·v (inner fold j ascending), v' = w / ‖w‖ (fold i
    * ascending) — the exact op order the Scala fold runs.
    */
  private def powerStepSql(t: Int): String =
    s"""p$t AS (
       |  SELECT list_transform(range($dim), i -> list_sum(list_transform(
       |    range($dim), j -> cm[CAST(i * $dim + j + 1 AS INTEGER)] *
       |      v[CAST(j + 1 AS INTEGER)]))) AS w, cm
       |  FROM v${t - 1}),
       |v$t AS (
       |  SELECT list_transform(w, x ->
       |    x / sqrt(list_sum(list_transform(w, y -> y * y)))) AS v, cm
       |  FROM p$t)""".stripMargin

  /** Top principal component of the embedding covariance by 8 rounds
    * of power iteration — the PCA the whitening / drift-detection
    * stage of an embedding pipeline needs. The corpus contributes
    * ONLY the d² rounded covariance entries (one pass, bounded
    * collect — the k-means driver-held-centroid pattern at d²
    * scale); the iteration is n-free, so the query costs the same at
    * any corpus size. Output: per-dim loading of the top PC plus its
    * Rayleigh eigenvalue and explained-variance share.
    */
  val q196 = Q(
    "q196_pca_top_component",
    (s, dir) => {
      val cov = covFrame(s, dir).collect()
      val c = new Array[Double](dim * dim)
      cov.foreach(r => c(r.getInt(0) * dim + r.getInt(1)) =
        r.getDouble(r.fieldIndex("c")))
      def matvec(v: Array[Double]): Array[Double] =
        Array.tabulate(dim) { i =>
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += c(i * dim + j) * v(j); j += 1 }
          acc
        }
      var v = Array.fill(dim)(1.0)
      for (_ <- 1 to 8) {
        val w = matvec(v)
        var n2 = 0.0
        var i = 0
        while (i < dim) { n2 += w(i) * w(i); i += 1 }
        val nrm = math.sqrt(n2)
        v = w.map(_ / nrm)
      }
      val cv = matvec(v)
      var rq = 0.0
      var tr = 0.0
      var i = 0
      while (i < dim) { rq += v(i) * cv(i); tr += c(i * dim + i); i += 1 }
      import s.implicits._
      v.zipWithIndex
        .map { case (x, d) => (d, r6(x), r6(rq), r6(rq / tr)) }
        .toSeq
        .toDF("dim", "loading", "eigenvalue", "var_share")
        .orderBy("dim")
    },
    Some(s"""WITH $covSql,
      |cl AS (SELECT list(c ORDER BY i, j) AS cm FROM cov),
      |v0 AS (SELECT list_transform(range($dim), i -> 1.0) AS v, cm FROM cl),
      |${(1 to 8).map(powerStepSql).mkString(",\n")},
      |fin AS (
      |  SELECT v, cm, list_transform(range($dim), i -> list_sum(list_transform(
      |    range($dim), j -> cm[CAST(i * $dim + j + 1 AS INTEGER)] *
      |      v[CAST(j + 1 AS INTEGER)]))) AS cv
      |  FROM v8),
      |sc AS (
      |  SELECT v,
      |    list_sum(list_transform(range($dim),
      |      i -> v[CAST(i + 1 AS INTEGER)] * cv[CAST(i + 1 AS INTEGER)])) AS rq,
      |    list_sum(list_transform(range($dim),
      |      i -> cm[CAST(i * $dim + i + 1 AS INTEGER)])) AS tr
      |  FROM fin)
      |SELECT CAST(g.i - 1 AS INTEGER) AS dim,
      |  round(v[g.i], 6) AS loading,
      |  round(rq, 6) AS eigenvalue,
      |  round(rq / tr, 6) AS var_share
      |FROM sc CROSS JOIN generate_series(1, $dim) g(i)
      |ORDER BY dim""".stripMargin))

  /** One gradient step of the oracle's ridge fit:
    * w' = w − η·(Āw − b̄ + λw), inner folds ascending.
    */
  private def gdStepSql(t: Int): String =
    s"""w$t AS (
       |  SELECT list_transform(range($dim), i ->
       |    w[CAST(i + 1 AS INTEGER)] - eta * (
       |      list_sum(list_transform(range($dim), j ->
       |        am[CAST(i * $dim + j + 1 AS INTEGER)] * w[CAST(j + 1 AS INTEGER)]))
       |      - bv[CAST(i + 1 AS INTEGER)]
       |      + 0.01 * w[CAST(i + 1 AS INTEGER)])) AS w, am, bv, eta
       |  FROM w${t - 1})""".stripMargin

  /** Trained linear quality probe — ridge regression of a binary
    * quality label (lang = 'en') on the embedding, fit ENTIRELY from
    * sufficient statistics: one distributed pass reduces the corpus
    * to Ā = XᵀX/n (d² rows) and b̄ = Xᵀy/n (d rows), rounded; then 10
    * deterministic gradient steps (η = 0.5/trace(Ā), λ = 0.01) run
    * n-free on the collected statistics, identically in both
    * engines. This is q184's fasttext-style filter with LEARNED
    * weights — the "train the quality classifier inside the engine"
    * step of a curation pipeline, with training cost independent of
    * corpus size beyond the one statistics pass. Output: per-dim
    * weight plus the training MSE computed from the same statistics.
    */
  val q197 = Q(
    "q197_trained_quality_probe",
    (s, dir) => {
      val e = Tables.emb(s, dir)
      val lab = Tables.docs(s, dir)
        .select(col("doc_id").as("vec_id"),
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      val xy = e.join(lab, "vec_id")
      val ex = xy.select(col("y"), col("embedding"),
        posexplode(col("embedding")).as(Seq("i", "xf")))
      val a = ex
        .select(col("i"), col("xf").cast("double").as("xi"),
          posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
            .as(Seq("j", "xj")))
        .groupBy("i", "j")
        .agg(round(sum(col("xi") * col("xj")) / count(lit(1)), 6).as("a"))
        .collect()
      val bRows = ex.groupBy("i")
        .agg(round(sum(col("xf").cast("double") * col("y")) / count(lit(1)), 6).as("b"),
          round(sum(col("y") * col("y")) / count(lit(1)), 6).as("yy"))
        .collect()
      val am = new Array[Double](dim * dim)
      a.foreach(r => am(r.getInt(0) * dim + r.getInt(1)) =
        r.getDouble(r.fieldIndex("a")))
      val bv = new Array[Double](dim)
      var yy = 0.0
      bRows.foreach { r =>
        bv(r.getInt(0)) = r.getDouble(r.fieldIndex("b"))
        yy = r.getDouble(r.fieldIndex("yy"))
      }
      var tr = 0.0
      var i = 0
      while (i < dim) { tr += am(i * dim + i); i += 1 }
      val eta = 0.5 / tr
      var w = Array.fill(dim)(0.0)
      for (_ <- 1 to 10) {
        val g = Array.tabulate(dim) { i =>
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += am(i * dim + j) * w(j); j += 1 }
          w(i) - eta * (acc - bv(i) + 0.01 * w(i))
        }
        w = g
      }
      // training MSE from the same statistics:
      // L = wᵀĀw − 2wᵀb̄ + mean(y²)
      var waw = 0.0
      var wb = 0.0
      i = 0
      while (i < dim) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += am(i * dim + j) * w(j); j += 1 }
        waw += w(i) * acc
        wb += w(i) * bv(i)
        i += 1
      }
      val mse = waw - 2.0 * wb + yy
      import s.implicits._
      w.zipWithIndex
        .map { case (x, d) => (d, r6(x), r6(mse)) }
        .toSeq
        .toDF("dim", "weight", "train_mse")
        .orderBy("dim")
    },
    Some(s"""WITH xy AS (
      |  SELECT e.embedding,
      |    CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
      |ex AS (
      |  SELECT gi.i - 1 AS i, gj.i - 1 AS j,
      |    CAST(embedding[gi.i] AS DOUBLE) AS xi,
      |    CAST(embedding[gj.i] AS DOUBLE) AS xj, y
      |  FROM xy
      |  CROSS JOIN generate_series(1, $dim) gi(i)
      |  CROSS JOIN generate_series(1, $dim) gj(i)),
      |aa AS (
      |  SELECT i, j, round(sum(xi * xj) / count(*), 6) AS a
      |  FROM ex GROUP BY 1, 2),
      |bb AS (
      |  SELECT i, round(sum(xi * y) / count(*), 6) AS b,
      |    round(sum(y * y) / count(*), 6) AS yy
      |  FROM ex WHERE j = 0 GROUP BY 1),
      |al AS (SELECT list(a ORDER BY i, j) AS am FROM aa),
      |bl AS (SELECT list(b ORDER BY i) AS bv, max(yy) AS yy FROM bb),
      |tr AS (
      |  SELECT 0.5 / list_sum(list_transform(range($dim),
      |    i -> am[CAST(i * $dim + i + 1 AS INTEGER)])) AS eta
      |  FROM al),
      |w0 AS (
      |  SELECT list_transform(range($dim), i -> 0.0) AS w, am, bv, eta
      |  FROM al CROSS JOIN bl CROSS JOIN tr),
      |${(1 to 10).map(gdStepSql).mkString(",\n")},
      |fin AS (
      |  SELECT w, am, bv,
      |    (SELECT yy FROM bl) AS yy,
      |    list_transform(range($dim), i -> list_sum(list_transform(
      |      range($dim), j -> am[CAST(i * $dim + j + 1 AS INTEGER)] *
      |        w[CAST(j + 1 AS INTEGER)]))) AS aw
      |  FROM w10),
      |sc AS (
      |  SELECT w,
      |    list_sum(list_transform(range($dim),
      |      i -> w[CAST(i + 1 AS INTEGER)] * aw[CAST(i + 1 AS INTEGER)]))
      |    - 2.0 * list_sum(list_transform(range($dim),
      |      i -> w[CAST(i + 1 AS INTEGER)] * bv[CAST(i + 1 AS INTEGER)]))
      |    + yy AS mse
      |  FROM fin)
      |SELECT CAST(g.i - 1 AS INTEGER) AS dim,
      |  round(w[g.i], 6) AS weight,
      |  round(mse, 6) AS train_mse
      |FROM sc CROSS JOIN generate_series(1, $dim) g(i)
      |ORDER BY dim""".stripMargin))

  /** Perceptual-hash near-dup over the binary media payloads (aHash,
    * the average-hash construction every image-dedup pipeline starts
    * from): bit i of the 32-bit signature is set iff byte i is at or
    * above the payload's own mean brightness — compared integer-exact
    * as `byteᵢ·32 >= Σbytes`, so there is no float threshold to
    * disagree on. Payload bytes ride the q54/q55 hex-domain bridge
    * (real BinaryType on the Spark side, hex arithmetic in the
    * oracle). Signatures then bucket by (kind, sig) — one groupBy +
    * one join back, the exact-dedup shape (q39) applied to media: at
    * 100 TB the signature is 4 bytes per asset and the shuffle keys
    * are fixed-width, never the payloads.
    */
  val q198 = Q(
    "q198_media_perceptual_dedup",
    (s, dir) => {
      // one codegen'd pass over the payload bytes ([[graft.functions
      // .AHash32]]). The previous higher-order formulation computed
      // bytesum as an aggregate HOF and referenced it inside the sig
      // lambda; Catalyst's projection collapse inlined the whole
      // 32-step bytesum into each of sig's 32 iterations — 32×32
      // interpreted conv/substring per row, evaluated twice (groups +
      // join) = 33 s of the sf0.1 bench for 5 000 rows. The kernel is
      // bit-identical (KernelPropSpec) and leaves the scan inside
      // whole-stage codegen.
      val sigs = graft.multimodal.MediaPipeline
        .withPayload(Tables.t(s, dir, "documents"))
        .withColumn("sig", expr("ahash32(payload)"))
        .select("doc_id", "kind", "sig")
      val groups = sigs.groupBy("kind", "sig")
        .agg(count(lit(1)).as("group_size"), min("doc_id").as("canonical"))
        .filter(col("group_size") >= 2)
      sigs.join(groups, Seq("kind", "sig"))
        .select(col("doc_id"), col("kind"), col("group_size"), col("canonical"),
          (col("doc_id") =!= col("canonical")).cast("int").as("is_dup"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars % 3 = 0 THEN 'image'
      |         WHEN n_chars % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    upper(md5(text) || md5(text || '1')) AS hexp
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, kind,
      |    [(instr('0123456789ABCDEF', substr(hexp, i*2-1, 1)) - 1) * 16
      |     + instr('0123456789ABCDEF', substr(hexp, i*2, 1)) - 1
      |     for i in generate_series(1, 32)] AS bytes
      |  FROM p),
      |s AS (
      |  SELECT doc_id, kind,
      |    CAST(list_sum([CASE WHEN bytes[i] * 32 >= list_sum(bytes)
      |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END
      |      for i in generate_series(1, 32)]) AS BIGINT) AS sig
      |  FROM b),
      |g AS (
      |  SELECT kind, sig, count(*) AS group_size, min(doc_id) AS canonical
      |  FROM s GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT s.doc_id, s.kind, g.group_size, g.canonical,
      |  CAST(s.doc_id <> g.canonical AS INTEGER) AS is_dup
      |FROM s JOIN g ON g.kind = s.kind AND g.sig = s.sig
      |ORDER BY doc_id""".stripMargin))

  val all: Vector[Q] = Vector(q196, q197, q198)
}
