package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-profiling operators, sixth batch: per-source keyword
  * signatures (chi-square), cross-source duplication matrix, robust
  * MAD-based length gating, and ANALYZE-style equi-depth column
  * statistics (the Hive `ANALYZE TABLE ... FOR COLUMNS` surface,
  * reference backend/hive_manager.py — re-expressed as a query over
  * bounded (value, freq) histograms instead of a metastore write).
  *
  * Determinism: every score is integer arithmetic promoted to double
  * at a documented point (identical in both engines), ranked with an
  * explicit tiebreak; percentile cuts come from bounded-domain
  * (value, freq) histograms (the q19 pattern), never a full sort.
  */
object CurationOps6 {

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

  /** Cross-source duplication matrix: for every source pair, how many
    * shared content fingerprints appear in both — the mirror-site
    * detector that decides which sources a 100 TB crawl can drop
    * wholesale. The fingerprint is the 12-token content prefix
    * (syndication copies share openings even when boilerplate tails
    * differ; exact sha256 finds nothing across these sources). The
    * shuffle is keyed by the fingerprint; the per-content source set
    * is bounded by #sources, so the pair stage is |sources|² per
    * content at worst, never corpus².
    */
  val q211 = Q(
    "q211_cross_source_dups",
    (s, dir) => {
      val bySrc = Tables.docs(s, dir)
        .select(concat_ws(" ",
          slice(graft.functions.Portable.tokens(col("text")), 1, 12)).as("pk"),
          col("source"))
        .groupBy("pk", "source")
        .agg(count(lit(1)).as("cnt"))
      bySrc.alias("x")
        .join(bySrc.alias("y"),
          col("x.pk") === col("y.pk") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .agg(count(lit(1)).as("shared_contents"),
          sum(least(col("x.cnt"), col("y.cnt"))).cast("long").as("dup_docs_lb"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH bysrc AS (
      |  SELECT array_to_string(${graft.functions.Portable.tokensSql("text")}[1:12], ' ')
      |      AS pk, source, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2)
      |SELECT x.source AS source_a, y.source AS source_b,
      |  count(*) AS shared_contents,
      |  CAST(sum(LEAST(x.cnt, y.cnt)) AS BIGINT) AS dup_docs_lb
      |FROM bysrc x JOIN bysrc y ON x.pk = y.pk AND x.source < y.source
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin))

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

  val all: Vector[Q] = Vector(q210, q211, q212, q213)
}
