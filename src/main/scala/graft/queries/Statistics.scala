package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable}
import graft.functions.{Portable => P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistics: distribution tests (KS, chi-square, Benford),
  * robust and resampled estimators (bootstrap, winsorized, MAD),
  * histograms (equi-depth, Freedman–Diaconis), correlations, conformal
  * calibration, and learning from sufficient statistics (PCA by power
  * iteration, a ridge probe by gradient steps), and the census of where
  * the dedup methods agree.
  */
object Statistics {

  /** Fixed-width histogram of the value distribution (clamped top
    * bucket) — the binning pass behind every quality-score /
    * length-distribution report. One aggregation; bucket math is
    * integer-exact.
    */
  val q94 = Q(
    "q94_value_histogram",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("bucket",
          least(floor(col("value") / 10), lit(9L)).cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"))
        .orderBy("bucket")
    },
    Some("""SELECT CAST(least(floor(value / 10), 9) AS INTEGER) AS bucket,
      |  count(*) AS n, round(avg(value), 6) AS avg_value
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin))

  /** Z-score outlier screen: per-type mean/std (one tiny aggregate,
    * broadcast back) flags events with |z| > 2.5. The stats side is
    * 5 rows however big the fact is — the canonical two-pass
    * anomaly screen with no window over the full stream.
    */
  val q114 = Q(
    "q114_value_zscore_outliers",
    (s, dir) => {
      val st = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
      Tables.events(s, dir)
        .join(broadcast(st), "event_type")
        .filter(col("sd") > 0 && abs((col("value") - col("mu")) / col("sd")) > 2.5)
        .select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"),
          round((col("value") - col("mu")) / col("sd"), 4).as("z"))
        .orderBy("event_id")
    },
    Some("""WITH st AS (
      |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      |  FROM events GROUP BY 1)
      |SELECT event_id, event_type, round(value, 2) AS value,
      |  round((value - mu) / sd, 4) AS z
      |FROM events JOIN st USING (event_type)
      |WHERE sd > 0 AND abs((value - mu) / sd) > 2.5
      |ORDER BY event_id""".stripMargin))

  /** Two-sample Kolmogorov–Smirnov drift check between the URGENT and
    * LOW order-price distributions. The CDFs are global cumulative
    * counts over price order — computed with Dist.globalCumsumBy
    * (range-bucketed two-phase cumsum), NOT a single-partition
    * window, so the statistic scales to any table. Counts stay
    * integers until the final division; the statistic is rounded
    * before the top-1 cut.
    */
  val q131 = Q(
    "q131_ks_drift",
    (s, dir) => {
      val g = Tables.t(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(col("o_totalprice").as("p"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("u"),
          sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("l"))
      val cum = Dist.globalCumsumBy(g, Seq(col("p")), Seq("u", "l"), 32)
      // grand totals = the cumsum's own maxima — one tiny aggregate
      // over the checkpointed frame, not a second fact-table scan
      val tot = cum.agg(max("u_cum").as("tu"), max("l_cum").as("tl"))
      cum.crossJoin(broadcast(tot))
        .select(
          round(abs(col("u_cum").cast("double") / col("tu") -
            col("l_cum").cast("double") / col("tl")), 6).as("ks"),
          col("p").as("at_price"))
        .orderBy(col("ks").desc, col("at_price"))
        .limit(1)
    },
    Some("""WITH g AS (
      |  SELECT o_totalprice AS p,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS u,
      |    sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS l
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |  GROUP BY 1),
      |c AS (SELECT p,
      |        sum(u) OVER (ORDER BY p) AS cu,
      |        sum(l) OVER (ORDER BY p) AS cl FROM g),
      |t AS (SELECT sum(u) AS tu, sum(l) AS tl FROM g)
      |SELECT round(abs(CAST(cu AS DOUBLE) / tu - CAST(cl AS DOUBLE) / tl), 6) AS ks,
      |  p AS at_price
      |FROM c CROSS JOIN t
      |ORDER BY ks DESC, at_price LIMIT 1""".stripMargin))

  /* Sufficient-statistics learning operators: the corpus is reduced to
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

  /* Distribution-free uncertainty (Poisson bootstrap), robust
    * statistics (winsorized / trimmed means), and a dedup-method
    * agreement report.
    *
    * Scale design notes: the bootstrap replicates are a CONSTANT 32×
    * row expansion folded into one aggregation (no resampling shuffle,
    * no driver randomness — weights are the portable md5 hash, so the
    * "resample" is reproducible on any cluster). The method-overlap
    * report reuses the bucket-local LSH/SimHash pair machinery, so its
    * cost is the q41+q42 cost, never a cross join.
    */

  /** Poisson(1) CDF steps, hard-coded so both engines branch on
    * bit-identical literals.
    */
  private val pc = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563")

  private val pcD = pc.map(_.toDouble)

  /** Poisson bootstrap 90% CI for the mean order value. The classic
    * bootstrap (resample n rows with replacement) cannot scale — it
    * needs global coordination per replicate — while the Poisson
    * bootstrap is one map: each row gets an independent Poisson(1)
    * weight per replicate, derived here from the portable md5 hash so
    * the "randomness" is deterministic, engine-independent, and
    * partition-independent. 32 replicates ride one 32× explode into
    * a single grouped aggregation (decimal-exact sums, one division),
    * and the band is the exact 2nd/31st order statistic of the 32
    * replicate means.
    */
  val q206 = Q(
    "q206_bootstrap_ci",
    (s, dir) => {
      val u = Portable.md5Long(
        concat(lit("boot:"), col("r"), lit(":"), col("o_orderkey").cast("string")))
        .cast("double") / lit(1152921504606846976.0) // 2^60
      val w = when(u < pcD(0), 0).when(u < pcD(1), 1).when(u < pcD(2), 2)
        .when(u < pcD(3), 3).when(u < pcD(4), 4).otherwise(5)
      // ONE orders scan: every replicate group contains every order
      // row exactly once, so the observed mean (Σprice/n, the same
      // decimal-exact form as Portable.moneyAvg) rides the replicate
      // aggregate — identical in every group, surfaced with max().
      // repartition BEFORE the 32× explode: the md5 weight per
      // exploded row is the dominant cost and the narrow (key, price)
      // projection shuffles for ~nothing, so the hash work runs at
      // full parallelism instead of at the scan's split count (the
      // Tables.docs rule: a narrow scan feeding CPU-heavy per-row
      // work wins back the whole cluster for one negligible shuffle —
      // ProfileJobs measured this query as ONE 5.5 s single-task
      // stage at sf0.1, the file being a single row group)
      val reps = Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("w", w)
        .groupBy("r")
        .agg(
          (sum(col("w") * col("o_totalprice").cast("decimal(18,4)")).cast("double") /
            sum("w")).as("m"),
          Portable.moneyAvg(col("o_totalprice")).as("obs"))
      reps.agg(max("obs").as("observed_mean"),
          sort_array(collect_list("m")).as("ms"))
        .select(col("observed_mean"),
          element_at(col("ms"), 2).as("boot_lo"),
          element_at(col("ms"), 31).as("boot_hi"))
    },
    Some(s"""WITH reps AS (
      |  SELECT r,
      |    CAST(sum(w * CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / sum(w) AS m,
      |    ${Portable.moneyAvgSql("o_totalprice")} AS obs
      |  FROM (
      |    SELECT o_totalprice, r,
      |      CASE WHEN u < ${pc(0)} THEN 0 WHEN u < ${pc(1)} THEN 1
      |           WHEN u < ${pc(2)} THEN 2 WHEN u < ${pc(3)} THEN 3
      |           WHEN u < ${pc(4)} THEN 4 ELSE 5 END AS w
      |    FROM (
      |      SELECT o_orderkey, o_totalprice, r,
      |        CAST(${Portable.md5LongSql(
               "concat('boot:', r, ':', CAST(o_orderkey AS VARCHAR))")} AS DOUBLE)
      |          / 1152921504606846976.0 AS u
      |      FROM orders CROSS JOIN (SELECT unnest(range(32)) AS r) rr))
      |  GROUP BY r)
      |SELECT max(obs) AS observed_mean,
      |  (list(m ORDER BY m))[2] AS boot_lo,
      |  (list(m ORDER BY m))[31] AS boot_hi
      |FROM reps""".stripMargin))

  /** Winsorized + trimmed statistics per return flag: the robust
    * aggregates a quality-metric pipeline publishes when raw means
    * are outlier-dominated. Cut points are the EXACT p05/p95 from
    * the (value, freq) histogram (q19 pattern — constant-size
    * buffers); they are rounded to 6 dp decimals so the clamped sum
    * is decimal-exact in both engines (no double fold-order hazard).
    */
  val q207 = Q(
    "q207_winsorized_stats",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
      val cuts = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("freq"))
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.05, 0.95), freq)").as("pq"))
        .select(col("l_returnflag"),
          round(col("pq")(0), 6).cast("decimal(18,6)").as("lo"),
          round(col("pq")(1), 6).cast("decimal(18,6)").as("hi"))
      li.join(broadcast(cuts), "l_returnflag")
        .withColumn("clamped",
          when(col("l_quantity") < col("lo"), col("lo"))
            .when(col("l_quantity") > col("hi"), col("hi"))
            .otherwise(col("l_quantity").cast("decimal(18,6)")))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          first("lo").as("p05"), first("hi").as("p95"),
          (sum("clamped").cast("double") / count(lit(1))).as("winsorized_mean"),
          (sum(when(col("l_quantity").between(col("lo"), col("hi")),
            col("l_quantity"))).cast("double") /
            sum(when(col("l_quantity").between(col("lo"), col("hi")), 1)))
            .as("trimmed_mean"),
          round(sum(when(col("l_quantity") < col("lo"), 1)
            .when(col("l_quantity") > col("hi"), 1).otherwise(0))
            / count(lit(1)), 6).as("clamped_frac"))
        .select(col("l_returnflag"), col("n"),
          col("p05").cast("double").as("p05"), col("p95").cast("double").as("p95"),
          col("winsorized_mean"), col("trimmed_mean"), col("clamped_frac"))
        .orderBy("l_returnflag")
    },
    Some("""WITH cuts AS (
      |  SELECT l_returnflag,
      |    CAST(round(quantile_cont(l_quantity, 0.05), 6) AS DECIMAL(18,6)) AS lo,
      |    CAST(round(quantile_cont(l_quantity, 0.95), 6) AS DECIMAL(18,6)) AS hi
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT li.l_returnflag, li.l_quantity, cuts.lo, cuts.hi,
      |    CASE WHEN li.l_quantity < cuts.lo THEN cuts.lo
      |         WHEN li.l_quantity > cuts.hi THEN cuts.hi
      |         ELSE CAST(li.l_quantity AS DECIMAL(18,6)) END AS clamped
      |  FROM lineitem li JOIN cuts USING (l_returnflag))
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(min(lo) AS DOUBLE) AS p05, CAST(min(hi) AS DOUBLE) AS p95,
      |  CAST(sum(clamped) AS DOUBLE) / count(*) AS winsorized_mean,
      |  CAST(sum(CASE WHEN l_quantity BETWEEN lo AND hi THEN l_quantity END)
      |    AS DOUBLE) /
      |    sum(CASE WHEN l_quantity BETWEEN lo AND hi THEN 1 END) AS trimmed_mean,
      |  round(sum(CASE WHEN l_quantity < lo OR l_quantity > hi THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 6) AS clamped_frac
      |FROM j GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** Dedup-method agreement report over the English corpus: every doc
    * is flagged by exact sha256 identity, MinHash-LSH (q41 semantics,
    * verified Jaccard ≥ 0.8), and SimHash (q42 semantics, hamming
    * ≤ 3), and the report is the Venn-cell census — the audit that
    * decides which method a 100 TB dedup run can safely skip. Exact
    * duplicates are token-set-identical, so ex ⊆ mh and ex ⊆ sh by
    * construction (CurationOps5Spec pins it).
    */
  val q209 = Q(
    "q209_dedup_method_overlap",
    (s, dir) => {
      val en = Pins.pin(Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), col("text")))
      val exd = en.groupBy(sha2(col("text"), 256).as("h"))
        .agg(collect_list("doc_id").as("ids"), count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(explode(col("ids")).as("doc_id")).distinct()
      // pin every derived frame the plan reads from BOTH sides of a
      // self-join or along multiple method branches (r10): without
      // the checkpoints the regex tokenization re-runs ~6× (toks
      // feeds toksH/sigs/sim, each referenced twice), the per-token
      // 16-hash MinHash twice, and the md5-sorted verify arrays
      // twice — all recompute, no ReusedExchange (the branches'
      // exchange subtrees differ). Each pinned frame is Θ(docs) rows
      // of ids/hashes, the same block-manager class as `en` itself.
      val toks = Pins.pin(en.select(col("doc_id"), Portable.tokenSet(col("text")).as("toks")))
      // toksH / sigs / banded are independent siblings off the pinned
      // toks — overlap their pin jobs (guide §2.6) instead of paying
      // three serial straggler tails; frames are construction-identical
      val Seq(toksH, sigs, banded) = graft.functions.Overlap.par(s)(
        () => Pins.pin(toks.select(col("doc_id"), Portable.md5Sorted(col("toks")).as("th"))),
        () => Pins.pin(toks
          .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))),
        // both sides of the byte-bucket self-join
        () => Pins.pin(toks.filter(size(col("toks")) >= 1)
          .select(col("doc_id"), expr("simhash32(toks)").as("sh"))
          .withColumn("band", explode(sequence(lit(0), lit(3))))
          .withColumn("byte", expr("(sh div CAST(pow(2, band * 8) AS BIGINT)) % 256"))))
      val mpairs = sigs.alias("sa").hint("shuffle_hash")
        .join(sigs.alias("sb"),
          col("sa.sig") === col("sb.sig") && col("sa.doc_id") < col("sb.doc_id"))
        .select(col("sa.doc_id").as("a"), col("sb.doc_id").as("b")).distinct()
        .join(toksH.select(col("doc_id").as("a"), col("th").as("ta")), "a")
        .join(toksH.select(col("doc_id").as("b"), col("th").as("tb")), "b")
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .filter(col("c") / (size(col("ta")) + size(col("tb")) - col("c")) >= 0.8)
      val mhd = mpairs.select(col("a").as("doc_id"))
        .union(mpairs.select(col("b").as("doc_id"))).distinct()
      val spairs = banded.alias("x").hint("shuffle_hash")
        .join(banded.alias("y"),
          col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.sh").as("sa"), col("y.sh").as("sb"))
        .distinct()
        .filter(expr("CAST(bit_count(sa ^ sb) AS INT)") <= 3)
      val shd = spairs.select(col("a").as("doc_id"))
        .union(spairs.select(col("b").as("doc_id"))).distinct()
      en.select("doc_id")
        .join(exd.withColumn("ex", lit(true)), Seq("doc_id"), "left")
        .join(mhd.withColumn("mh", lit(true)), Seq("doc_id"), "left")
        .join(shd.withColumn("sh", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("ex"), lit(false)).as("exact_dup"),
          coalesce(col("mh"), lit(false)).as("minhash_dup"),
          coalesce(col("sh"), lit(false)).as("simhash_dup"))
        .groupBy("exact_dup", "minhash_dup", "simhash_dup")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("exact_dup", "minhash_dup", "simhash_dup")
    },
    Some(s"""WITH en AS (
      |  SELECT doc_id, text FROM documents WHERE lang = 'en'),
      |exd AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, count(*) OVER (PARTITION BY sha256(text)) AS c FROM en)
      |  WHERE c >= 2),
      |toks AS (SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM en),
      |${graft.functions.MinHashBands.sigsSql("toks")},
      |mcand AS (
      |  SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.band = sb.band AND sa.sig = sb.sig AND sa.doc_id < sb.doc_id),
      |mpairs AS (
      |  SELECT a, b FROM mcand
      |  JOIN toks ta ON ta.doc_id = a JOIN toks tb ON tb.doc_id = b
      |  WHERE len(list_intersect(ta.toks, tb.toks)) /
      |        len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8),
      |mhd AS (SELECT a AS doc_id FROM mpairs UNION SELECT b FROM mpairs),
      |bits AS (
      |  SELECT doc_id, i,
      |    2 * (((${Portable.md5LongSql("tok")} % 4294967296) // CAST(pow(2, i) AS BIGINT)) % 2) - 1 AS contrib
      |  FROM ex CROSS JOIN (SELECT unnest(range(32)) AS i) ii),
      |bal AS (SELECT doc_id, i, sum(contrib) AS bal FROM bits GROUP BY 1, 2),
      |sim AS (
      |  SELECT doc_id,
      |    CAST(sum((CASE WHEN bal >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, i) AS BIGINT)) AS BIGINT) AS sh
      |  FROM bal GROUP BY 1),
      |banded AS (
      |  SELECT doc_id, sh, band, (sh // CAST(pow(2, band * 8) AS BIGINT)) % 256 AS byte
      |  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS band) bb),
      |spairs AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sh AS sa, y.sh AS sb
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id),
      |shd AS (
      |  SELECT a AS doc_id FROM spairs WHERE bit_count(xor(sa, sb)) <= 3
      |  UNION SELECT b FROM spairs WHERE bit_count(xor(sa, sb)) <= 3)
      |SELECT
      |  exd.doc_id IS NOT NULL AS exact_dup,
      |  mhd.doc_id IS NOT NULL AS minhash_dup,
      |  shd.doc_id IS NOT NULL AS simhash_dup,
      |  count(*) AS n_docs
      |FROM en
      |LEFT JOIN exd ON exd.doc_id = en.doc_id
      |LEFT JOIN mhd ON mhd.doc_id = en.doc_id
      |LEFT JOIN shd ON shd.doc_id = en.doc_id
      |GROUP BY 1, 2, 3
      |ORDER BY exact_dup, minhash_dup, simhash_dup""".stripMargin))

  /* Corpus profiling: per-source keyword signatures (chi-square),
    * robust MAD-based length gating, and ANALYZE-style equi-depth column
    * statistics (the Hive `ANALYZE TABLE ... FOR COLUMNS` surface,
    * reference backend/hive_manager.py — re-expressed as a query over
    * bounded (value, freq) histograms instead of a metastore write).
    *
    * Determinism: every score is integer arithmetic promoted to double
    * at a documented point (identical in both engines), ranked with an
    * explicit tiebreak; percentile cuts come from bounded-domain
    * (value, freq) histograms (the q19 pattern), never a full sort.
    */

  /** Chi-square keyword extraction: the tokens over-represented in
    * each source vs the rest of the corpus — the domain-signature
    * profile a mixture planner reads before weighting sources. The
    * 2×2 chi-square is exact integer counts promoted to double
    * before the square (the raw squared term can exceed int64 at
    * 100 TB; the promoted form is identical IEEE arithmetic in both
    * engines). One (source, token) shuffle + one token shuffle;
    * top-3 per source by (rounded score, token).
    */
  val q210 = Q(
    "q210_chi2_keywords",
    (s, dir) => {
      val tok = Tables.docs(s, dir)
        .select(col("source"),
          explode(graft.functions.Portable.tokens(col("text"))).as("token"))
      val bySrcTok = tok.groupBy("source", "token").agg(count(lit(1)).as("a"))
      val bySrc = tok.groupBy("source").agg(count(lit(1)).as("stot"))
      val byTok = tok.groupBy("token").agg(count(lit(1)).as("g"))
      val n = tok.agg(count(lit(1)).as("n"))
      val scored = bySrcTok
        .join(bySrc, "source").join(byTok, "token").crossJoin(broadcast(n))
        .withColumn("b", col("stot") - col("a"))
        .withColumn("c", col("g") - col("a"))
        .withColumn("d", col("n") - col("stot") - col("g") + col("a"))
        // square via explicit multiply, NOT pow(x, 2): pow is a
        // transcendental whose last ulp is not guaranteed to agree
        // across libm implementations; x*x is
        .withColumn("t", (col("a") * col("d") - col("b") * col("c")).cast("double"))
        .withColumn("chi2", round(
          col("n").cast("double") * (col("t") * col("t")) /
            ((col("a") + col("b")) * (col("c") + col("d"))).cast("double") /
            ((col("a") + col("c")) * (col("b") + col("d"))).cast("double"), 4))
        // keyword = over-represented, not under-: require lift > 1
        .filter(col("a") * col("n") > col("stot") * col("g"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("chi2").desc, col("token"))))
        .filter(col("rn") <= 3)
        .select("source", "rn", "token", "chi2")
        .orderBy("source", "rn")
    },
    Some(s"""WITH tok AS (
      |  SELECT source, unnest(${graft.functions.Portable.tokensSql("text")}) AS token
      |  FROM documents),
      |st AS (SELECT source, token, count(*) AS a FROM tok GROUP BY 1, 2),
      |src AS (SELECT source, count(*) AS stot FROM tok GROUP BY 1),
      |tk AS (SELECT token, count(*) AS g FROM tok GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM tok),
      |cells AS (
      |  SELECT st.source, st.token, a, stot, g, n,
      |    stot - a AS b, g - a AS c, n - stot - g + a AS d,
      |    CAST(a * (n - stot - g + a) - (stot - a) * (g - a) AS DOUBLE) AS t
      |  FROM st JOIN src USING (source) JOIN tk USING (token) CROSS JOIN tot
      |  WHERE a * n > stot * g),
      |scored AS (
      |  SELECT source, token,
      |    round(CAST(n AS DOUBLE) * (t * t)
      |      / CAST((a + b) * (c + d) AS DOUBLE)
      |      / CAST((a + c) * (b + d) AS DOUBLE), 4) AS chi2
      |  FROM cells)
      |SELECT source, CAST(rn AS INTEGER) AS rn, token, chi2 FROM (
      |  SELECT source, token, chi2,
      |    row_number() OVER (PARTITION BY source ORDER BY chi2 DESC, token) AS rn
      |  FROM scored)
      |WHERE rn <= 3 ORDER BY source, rn""".stripMargin))

  /** Robust length gate: per-language modified z-score on n_chars
    * using median and MAD from bounded (value, freq) histograms —
    * two constant-buffer aggregations, no sort, no mean/stddev that
    * an outlier can drag. Cut points are rounded to 6 dp so both
    * engines compare identical doubles; 0.6745·|x−med| > 3.5·MAD is
    * evaluated as integer-times-decimal to avoid division entirely.
    */
  val q212 = Q(
    "q212_mad_length_gate",
    (s, dir) => {
      val d = Tables.docs(s, dir)
      val med = d.groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("f"))
        .groupBy("lang")
        .agg(round(expr("percentile(n_chars, 0.5, f)"), 6).as("med"))
      val withDev = d.join(broadcast(med), "lang")
        .withColumn("dev", abs(col("n_chars") - col("med")))
      val mad = withDev.groupBy(col("lang"), col("dev"))
        .agg(count(lit(1)).as("f"))
        .groupBy("lang")
        .agg(round(expr("percentile(dev, 0.5, f)"), 6).as("mad"))
      withDev.join(broadcast(mad), "lang")
        .withColumn("flagged", lit(0.6745) * col("dev") > lit(3.5) * col("mad"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          first("med").as("med"), first("mad").as("mad"),
          sum(when(col("flagged"), 1).otherwise(0)).cast("long").as("n_flagged"),
          round(sum(when(col("flagged"), 1).otherwise(0)) / count(lit(1)), 6)
            .as("flag_rate"))
        .orderBy("lang")
    },
    Some("""WITH med AS (
      |  SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS med
      |  FROM documents GROUP BY 1),
      |dev AS (
      |  SELECT d.lang, abs(d.n_chars - med.med) AS dev, med.med
      |  FROM documents d JOIN med USING (lang)),
      |mad AS (
      |  SELECT lang, round(quantile_cont(dev, 0.5), 6) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT dev.lang, count(*) AS n_docs,
      |  min(dev.med) AS med, min(mad.mad) AS mad,
      |  CAST(sum(CASE WHEN 0.6745 * dev > 3.5 * mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged,
      |  round(sum(CASE WHEN 0.6745 * dev > 3.5 * mad THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 6) AS flag_rate
      |FROM dev JOIN mad USING (lang)
      |GROUP BY 1 ORDER BY lang""".stripMargin))

  /** ANALYZE-style equi-depth column statistics (Hive `ANALYZE TABLE
    * ... COMPUTE STATISTICS FOR COLUMNS` parity, C7): decile
    * boundaries + NDV + min/max for bounded-domain numeric columns,
    * computed from (value, freq) histograms so the aggregation
    * buffer is O(domain), not O(rows). Output is the stats table a
    * cost-based optimizer would ingest.
    */
  val q213 = Q(
    "q213_equidepth_stats",
    (s, dir) => {
      def statsOf(df: DataFrame, tbl: String, colName: String) = {
        val h = df.groupBy(col(colName).as("v")).agg(count(lit(1)).as("f"))
        h.agg(
          countDistinct("v").as("ndv"),
          min("v").cast("double").as("vmin"),
          max("v").cast("double").as("vmax"),
          expr("percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), f)")
            .as("bs"))
          .select(lit(tbl).as("tbl"), lit(colName).as("col"),
            col("ndv"), col("vmin"), col("vmax"),
            posexplode(col("bs")).as(Seq("i0", "b")))
          .select(col("tbl"), col("col"), col("ndv"), col("vmin"), col("vmax"),
            (col("i0") + 1).as("decile"), round(col("b"), 6).as("boundary"))
      }
      statsOf(Tables.t(s, dir, "lineitem"), "lineitem", "l_quantity")
        .unionAll(statsOf(Tables.docs(s, dir), "documents", "n_chars"))
        .orderBy("tbl", "col", "decile")
    },
    Some("""WITH li AS (
      |  SELECT 'lineitem' AS tbl, 'l_quantity' AS col,
      |    count(DISTINCT l_quantity) AS ndv,
      |    CAST(min(l_quantity) AS DOUBLE) AS vmin,
      |    CAST(max(l_quantity) AS DOUBLE) AS vmax,
      |    quantile_cont(l_quantity, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
      |  FROM lineitem),
      |dc AS (
      |  SELECT 'documents' AS tbl, 'n_chars' AS col,
      |    count(DISTINCT n_chars) AS ndv,
      |    CAST(min(n_chars) AS DOUBLE) AS vmin,
      |    CAST(max(n_chars) AS DOUBLE) AS vmax,
      |    quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
      |  FROM documents),
      |u AS (SELECT * FROM li UNION ALL SELECT * FROM dc)
      |SELECT tbl, col, ndv, vmin, vmax,
      |  CAST(i AS INTEGER) AS decile, round(bs[i], 6) AS boundary
      |FROM u CROSS JOIN (SELECT unnest(range(1, 10)) AS i) ii
      |ORDER BY tbl, col, decile""".stripMargin))

  /** Benford first-significant-digit audit on order totals — the
    * standard fabricated-data screen. Expected shares are the 6-dp
    * Benford constants as LITERALS in both engines (log10 at runtime
    * would put two libm implementations' last ulp into the compare);
    * per-digit χ² contributions round to 6 dp and the total χ² sums
    * those EXACTLY in decimal, so no 9-way double fold-order enters
    * the output. Scale: one digit-extraction pass, a 9-row frame
    * after.
    */
  val q223 = Q(
    "q223_benford_audit",
    (s, dir) => {
      val benford = Seq(
        (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        (9, 0.045757))
      val exp = s.createDataFrame(benford).toDF("digit", "expected")
      val obs = Tables.t(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum("n").cast("long").as("total"))
      val parts = obs.join(broadcast(exp), "digit")
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("share"),
          col("expected"),
          round(
            (col("n") - col("expected") * col("total")) *
              (col("n") - col("expected") * col("total")) /
              (col("expected") * col("total")), 6)
            .cast("decimal(18,6)").as("chi2_part"))
      val chi2 = parts.agg(sum("chi2_part").cast("decimal(18,6)")
        .cast("double").as("chi2"))
      parts.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n"), col("share"), col("expected"),
          col("chi2_part").cast("double").as("chi2_part"), col("chi2"))
        .orderBy("digit")
    },
    Some("""WITH expv(digit, expected0) AS (VALUES
      |  (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
      |  (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
      |  (9, 0.045757)),
      |-- force DOUBLE: the bare VALUES literals type as DECIMAL(7,6),
      |-- which would make (n - expected*total) exact-decimal here but
      |-- double in Spark (ADVICE r6)
      |exp AS (SELECT digit, CAST(expected0 AS DOUBLE) AS expected FROM expv),
      |obs AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
      |    1, 1) AS INTEGER) AS digit, count(*) AS n
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
      |parts AS (
      |  SELECT digit, CAST(n AS BIGINT) AS n,
      |    round(CAST(n AS DOUBLE) / total, 6) AS share, expected,
      |    CAST(round((n - expected * total) * (n - expected * total)
      |      / (expected * total), 6) AS DECIMAL(18,6)) AS chi2_part
      |  FROM obs JOIN exp USING (digit) CROSS JOIN tot),
      |chi2 AS (SELECT CAST(CAST(sum(chi2_part) AS DECIMAL(18,6)) AS DOUBLE)
      |         AS chi2 FROM parts)
      |SELECT digit, n, share, expected, CAST(chi2_part AS DOUBLE) AS chi2_part,
      |  chi2
      |FROM parts CROSS JOIN chi2
      |ORDER BY digit""".stripMargin))

  /** Split-conformal calibration (Vovk; Lei et al.) of a group-mean
    * spend predictor, with the coverage audit in the output. The
    * hash-split calibration half fits the predictor (per-segment
    * exact-decimal mean); nonconformity = |spend − mean| rounded to
    * cents; q̂ = the ⌈0.9·(n+1)⌉-th SMALLEST calibration residual —
    * the finite-sample rank (computed in pure integers), not a
    * percentile interpolation; coverage = share of held-out orders
    * within q̂. The rank selection runs over the (segment, residual)
    * HISTOGRAM (the q19 pattern): the cumulative window touches one
    * row per distinct cent value per segment — far smaller than the
    * fact table, and bounded by the price domain in cents. Conformal
    * guarantees ≥ 90% expected coverage with NO distributional
    * assumption — exactly the certificate a release gate wants on a
    * quality-filter threshold.
    */
  val q253 = Q(
    "q253_conformal_coverage",
    (s, dir) => {
      val o = Pins.pin(Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("y"),
          (pmod(P.md5Long(concat(lit("conf:"), col("o_orderkey").cast("string"))),
            lit(2)) === 0).as("is_cal"))) // feeds the fit, the rank, and the audit
      val mu = o.filter(col("is_cal")).groupBy("seg")
        .agg(P.moneyAvg(col("y")).as("mu"), count(lit(1)).as("n_cal"))
      val resid = o.filter(col("is_cal")).join(broadcast(mu), "seg")
        .select(col("seg"), round(abs(col("y") - col("mu")), 2).as("r"))
        .groupBy("seg", "r").agg(count(lit(1)).as("cnt"))
      val qhat = resid
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("seg").orderBy("r")))
        .join(broadcast(mu.select(col("seg"),
          expr("((n_cal + 1) * 9 + 9) div 10").as("k"))), "seg")
        .filter(col("cum") >= col("k"))
        .groupBy("seg").agg(min(col("r")).as("qhat"))
      o.filter(!col("is_cal")).join(broadcast(mu), "seg")
        .join(broadcast(qhat), "seg")
        .groupBy(col("seg"), col("n_cal"), col("qhat"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(round(abs(col("y") - col("mu")), 2) <= col("qhat"), 1L)
            .otherwise(0L)).as("n_covered"))
        .select(col("seg"), col("n_cal"), col("n_test"), col("qhat"),
          col("n_covered"),
          round(col("n_covered").cast("double") / col("n_test"), 4)
            .as("coverage"))
        .orderBy("seg")
    },
    Some(s"""WITH o AS (
      |  SELECT c_mktsegment AS seg, o_totalprice AS y,
      |    ${P.md5LongSql("concat('conf:', o_orderkey)")} % 2 = 0 AS is_cal
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |mu AS (
      |  SELECT seg, ${P.moneyAvgSql("y")} AS mu, count(*) AS n_cal
      |  FROM o WHERE is_cal GROUP BY seg),
      |resid AS (
      |  SELECT seg, round(abs(y - mu), 2) AS r, count(*) AS cnt
      |  FROM o JOIN mu USING (seg) WHERE is_cal GROUP BY seg, r),
      |qhat AS (
      |  SELECT seg, min(r) AS qhat FROM (
      |    SELECT seg, r, sum(cnt) OVER (PARTITION BY seg ORDER BY r) AS cum,
      |      ((n_cal + 1) * 9 + 9) // 10 AS k
      |    FROM resid JOIN mu USING (seg))
      |  WHERE cum >= k GROUP BY seg)
      |SELECT seg, n_cal, count(*) AS n_test, qhat,
      |  CAST(sum(CASE WHEN round(abs(y - mu), 2) <= qhat THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_covered,
      |  round(CAST(sum(CASE WHEN round(abs(y - mu), 2) <= qhat
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS coverage
      |FROM o JOIN mu USING (seg) JOIN qhat USING (seg)
      |WHERE NOT is_cal
      |GROUP BY seg, n_cal, qhat
      |ORDER BY seg""".stripMargin))

  /** Freedman–Diaconis auto-binned price histogram: bin width
    * 2·IQR/n^(1/3) — the distribution-aware binning q94/q213's fixed
    * grids approximate by hand, computed so the bin count adapts to
    * the data (Θ(n^(1/3)) bins) instead of being a magic constant.
    *
    * Exactness: everything upstream of the one bin-width division is
    * integer — prices in exact cents, the quartiles as TYPE-1 ORDER
    * STATISTICS (min cent with cumulative count ≥ ⌈q·n⌉; never an
    * interpolating percentile(), the q260 cross-engine hazard), and
    * q·n is exact in IEEE because 0.25/0.75 are dyadic. The cumsum
    * that selects the quartiles runs over the DISTINCT-cents
    * histogram via [[graft.functions.Dist.globalCumsumBy]] — the
    * bucket-partitioned two-phase cumsum, never a single-partition
    * window (at 100 TB the distinct-price table is itself big). The
    * width division 2·IQR/n^(1/3) is one double op whose ceil both
    * engines compute from identical inputs; driver sees exactly two
    * scalar rows (n+min, then the quartile pair) — bounded.
    */
  val q277 = Q(
    "q277_fd_histogram",
    (s, dir) => {
      val cents = Tables.t(s, dir, "orders")
        .select((col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("c"))
      val Array(nRow) = cents.agg(count(lit(1)).as("n"), min("c").as("mn"))
        .collect()
      val (n, mn) = (nRow.getLong(0), nRow.getLong(1))
      val hist = cents.groupBy("c").agg(count(lit(1)).as("cnt"))
      val cum = graft.functions.Dist.globalCumsumBy(
        hist, Seq(col("c")), Seq("cnt"), 32)
      val k25 = math.ceil(0.25 * n).toLong
      val k75 = math.ceil(0.75 * n).toLong
      val Array(qRow) = cum.agg(
        min(when(col("cnt_cum") >= k25, col("c"))).as("q1"),
        min(when(col("cnt_cum") >= k75, col("c"))).as("q3")).collect()
      val iqr = qRow.getLong(1) - qRow.getLong(0)
      val w = math.max(1L, math.ceil(2.0 * iqr / math.pow(n, 1.0 / 3)).toLong)
      cents.groupBy(((col("c") - mn) / w).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("bin"), (lit(mn) + col("bin") * w).as("lo_cents"),
          (lit(mn) + (col("bin") + 1) * w).as("hi_cents"), col("n_rows"))
        .orderBy("bin")
    },
    // (c - mn) / w: both engines' `/` on integers would promote to
    // double — the SQL uses // and Spark casts the true division,
    // exact for these magnitudes (cents < 2^53); ⌈q·n⌉ is exact
    // because 0.25/0.75 are dyadic
    Some("""WITH cents AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |tot AS (SELECT count(*) AS n, min(c) AS mn FROM cents),
      |hist AS (SELECT c, count(*) AS cnt FROM cents GROUP BY 1),
      |cum AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM hist),
      |q AS (SELECT
      |    min(CASE WHEN cum >= ceil(0.25 * (SELECT n FROM tot)) THEN c END) AS q1,
      |    min(CASE WHEN cum >= ceil(0.75 * (SELECT n FROM tot)) THEN c END) AS q3
      |  FROM cum),
      |bw AS (SELECT greatest(1, CAST(ceil(2.0 * (q3 - q1)
      |    / pow((SELECT n FROM tot), 1.0 / 3)) AS BIGINT)) AS w FROM q)
      |SELECT bin, (SELECT mn FROM tot) + bin * (SELECT w FROM bw) AS lo_cents,
      |  (SELECT mn FROM tot) + (bin + 1) * (SELECT w FROM bw) AS hi_cents,
      |  count(*) AS n_rows
      |FROM (SELECT (c - (SELECT mn FROM tot)) // (SELECT w FROM bw) AS bin
      |      FROM cents)
      |GROUP BY 1
      |ORDER BY bin""".stripMargin))

  /** Pairwise Pearson correlation matrix over lineitem's four numeric
    * features — the data-profiling pass an ML pipeline runs before
    * feature selection. NOT the corr() builtin: the house rule for
    * cross-engine float determinism is exact integer sums first, one
    * float op last (q179's slope convention, extended to the full
    * moment matrix). Every feature is integerized through the money
    * convention (quantity as units, price in cents, discount/tax in
    * basis points), all Σx/Σx²/Σxy accumulate in DECIMAL(38,0) —
    * exact at 10¹² rows — and each of the six correlations is formed
    * from those exact moments with two double ops (a division and a
    * sqrt), then rounded. One corpus pass, one output row.
    */
  val q278 = Q(
    "q278_feature_correlations",
    (s, dir) => {
      // r14 (guide §2.5, the q206 rule): the double→decimal casts +
      // 15 decimal(38,0) moment sums cost µs/row (ProfileJobs: 1.2 s
      // pinned to the 3 tasks the 3-row-group sf0.1 file yields) vs
      // 32 B/row to shuffle — per-row compute dominates the row's
      // bytes ~20×, so repartitioning the RAW 4-double projection
      // (casts applied AFTER the exchange, where the parallelism is)
      // buys full parallelism for the whole decimal pipeline at ANY
      // scale. Cluster-derived count, not a constant. Exact decimal
      // sums are order-independent, so the result is bit-identical.
      val f = Tables.t(s, dir, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
        col("l_quantity").cast("decimal(18,4)").cast("decimal(18,0)")
          .cast("bigint").as("q"),
        (col("l_extendedprice").cast("decimal(18,4)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("p"),
        (col("l_discount").cast("decimal(18,4)") * 10000)
          .cast("decimal(18,0)").cast("bigint").as("d"),
        (col("l_tax").cast("decimal(18,4)") * 10000)
          .cast("decimal(18,0)").cast("bigint").as("t"))
      val feats = Seq("q", "p", "d", "t")
      // Per-row products multiply as LONGs (exact: the money-convention
      // domain bounds every product by ~10^14 ≪ 2^63, and ANSI mode
      // raises loudly if the domain ever grows past that) and enter the
      // sum through ONE long→decimal(38,0) cast — the decimal(18,0)
      // shape multiplied at precision 37 through the BigDecimal slow
      // path on every row (ProfileJobs: the moment aggregate was
      // ~30 µs/row). The accumulators stay decimal(38,0), so the sums —
      // and the correlations derived from them — are value-identical.
      val moments =
        Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
          feats.map(a =>
            sum(col(a).cast("decimal(38,0)")).cast("decimal(38,0)").as(s"s_$a")) ++
          (for (a <- feats; b <- feats if a <= b)
            yield sum((col(a) * col(b)).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as(s"s_$a$b"))
      def corr(a: String, b: String) = {
        val (x, y) = if (a <= b) (a, b) else (b, a)
        round(
          (col("n") * col(s"s_$x$y") - col(s"s_$x") * col(s"s_$y")).cast("double")
            / sqrt((col("n") * col(s"s_$x$x") - col(s"s_$x") * col(s"s_$x")).cast("double")
              * (col("n") * col(s"s_$y$y") - col(s"s_$y") * col(s"s_$y")).cast("double")),
          6).as(s"corr_${a}_$b")
      }
      f.agg(moments.head, moments.tail: _*)
        .select(corr("q", "p"), corr("q", "d"), corr("q", "t"),
          corr("p", "d"), corr("p", "t"), corr("d", "t"))
    },
    Some {
      val defs = """SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS p,
        |    CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS d,
        |    CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS t
        |  FROM lineitem""".stripMargin
      val pairs = Seq("q" -> "p", "q" -> "d", "q" -> "t",
        "p" -> "d", "p" -> "t", "d" -> "t")
      val corrs = pairs.map { case (a, b) =>
        // the Σab alias is stored under the alphabetically-normalized
        // pair name, same as the Spark side
        val (x, y) = if (a <= b) (a, b) else (b, a)
        s"""round(CAST(n * s_$x$y - s_$a * s_$b AS DOUBLE)
           |    / sqrt(CAST(n * s_$a$a - s_$a * s_$a AS DOUBLE)
           |         * CAST(n * s_$b$b - s_$b * s_$b AS DOUBLE)), 6)
           |    AS corr_${a}_$b""".stripMargin
      }.mkString(",\n  ")
      val sums = Seq("q", "p", "d", "t").map(a => s"sum($a) AS s_$a") ++
        (for (a <- Seq("q", "p", "d", "t"); b <- Seq("q", "p", "d", "t") if a <= b)
          yield s"sum($a * $b) AS s_$a$b")
      s"""WITH f AS ($defs),
         |m AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM f)
         |SELECT
         |  $corrs
         |FROM m""".stripMargin
    })

  val all: Vector[Q] =
    Vector(q94, q114, q131, q196, q197, q206, q207, q209, q210, q212, q213,
      q223, q253, q277, q278)
}
