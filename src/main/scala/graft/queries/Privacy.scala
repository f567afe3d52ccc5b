package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import graft.functions.{Portable => P}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy audits: masking and anonymization, and the k-anonymity,
  * l-diversity and t-closeness risk reports over quasi-identifier
  * classes.
  */
object Privacy {

  /** PII-style scrubbing: digits masked out of the natural-key name,
    * digit count accounted, and a stable pseudonym derived from the
    * portable hash — so re-running the scrub on any cluster (or in
    * the oracle engine) assigns identical pseudonyms. Pure per-row
    * projection: no shuffle, no state.
    */
  val q83 = Q(
    "q83_anonymize_mask",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .select(
          col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          (length(col("c_name")) -
            length(regexp_replace(col("c_name"), "[0-9]", ""))).as("n_masked"),
          concat(lit("user_"),
            pmod(Portable.md5Long(col("c_name")), lit(100000L)).cast("string")).as("pseudonym"))
        .orderBy("c_custkey")
    },
    Some(s"""SELECT c_custkey,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
      |  CAST(length(c_name) -
      |    length(regexp_replace(c_name, '[0-9]', '', 'g')) AS INTEGER) AS n_masked,
      |  concat('user_', CAST(${Portable.md5LongSql("c_name")} % 100000 AS VARCHAR)) AS pseudonym
      |FROM customer
      |ORDER BY c_custkey""".stripMargin))

  /** k-anonymity risk report: group customers into equivalence
    * classes by quasi-identifiers (nation, market segment, account-
    * balance thousand-bucket), histogram the class sizes (band 10+ is
    * one row), and report the share of customers whose class is
    * smaller than k=5 — the re-identification risk measure a
    * training-data release audit needs. Scale: one groupBy on the QI
    * tuple, then a ≤10-row frame; the risk share joins back as a
    * broadcast 1-row aggregate.
    */
  val q224 = Q(
    "q224_k_anonymity",
    (s, dir) => {
      val classes = Tables.t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).as("bal_bucket"))
        .agg(count(lit(1)).as("size"))
      val bands = classes
        .groupBy(least(col("size"), lit(10)).cast("long").as("band"))
        .agg(count(lit(1)).as("classes"),
          sum("size").cast("long").as("customers"))
      val risk = bands.agg(
        (sum(when(col("band") < 5, col("customers")).otherwise(0L)) /
          sum("customers").cast("double")).as("rr"))
        .select(round(col("rr"), 6).as("risk_share"))
      bands.crossJoin(broadcast(risk))
        .select(col("band"), col("classes"), col("customers"),
          col("risk_share"))
        .orderBy("band")
    },
    Some("""WITH classes AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    floor(c_acctbal / 1000) AS bal_bucket, count(*) AS size
      |  FROM customer GROUP BY 1, 2, 3),
      |bands AS (
      |  SELECT CAST(least(size, 10) AS BIGINT) AS band,
      |    count(*) AS classes, CAST(sum(size) AS BIGINT) AS customers
      |  FROM classes GROUP BY 1),
      |risk AS (
      |  SELECT round(CAST(sum(CASE WHEN band < 5 THEN customers ELSE 0 END)
      |    AS DOUBLE) / sum(customers), 6) AS risk_share FROM bands)
      |SELECT band, classes, customers, risk_share
      |FROM bands CROSS JOIN risk
      |ORDER BY band""".stripMargin))

  /** l-diversity audit over QI = (nation, market segment), sensitive
    * attribute = order priority. Emits per QI group: size, distinct-l,
    * entropy (nats), and the l=3 pass flags for both definitions.
    * Entropy l-diversity requires H ≥ ln(l) — strictly stronger than
    * distinct-l, and the gap between the two flags is exactly the
    * skewed-majority groups a distinct-count audit waves through.
    */
  val q272 = Q(
    "q272_l_diversity_audit",
    (s, dir) => {
      val joined = Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("sens"))
      val cells = joined.groupBy("nation", "segment", "sens")
        .agg(count(lit(1)).as("cnt"))
      cells.groupBy("nation", "segment")
        .agg(sum("cnt").as("n"),
          count(lit(1)).as("l_distinct"),
          round(-sum(col("cnt") * log(col("cnt"))).cast("double")
            / sum("cnt") + log(sum("cnt")), 6).as("entropy"))
        .select(col("nation"), col("segment"), col("n"), col("l_distinct"),
          col("entropy"),
          (col("l_distinct") >= 3).as("distinct_l3_ok"),
          (col("entropy") >= round(log(lit(3.0)), 6)).as("entropy_l3_ok"))
        .orderBy("nation", "segment")
    },
    // H = −Σ (c/n)·ln(c/n) = ln(n) − Σ c·ln(c) / n — the one-division
    // form both engines compute from exact integer counts
    Some("""WITH cells AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |         o_orderpriority AS sens, count(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS n,
      |  count(*) AS l_distinct,
      |  round(-CAST(sum(cnt * ln(cnt)) AS DOUBLE) / sum(cnt)
      |    + ln(sum(cnt)), 6) AS entropy,
      |  count(*) >= 3 AS distinct_l3_ok,
      |  round(-CAST(sum(cnt * ln(cnt)) AS DOUBLE) / sum(cnt)
      |    + ln(sum(cnt)), 6) >= round(ln(3.0), 6) AS entropy_l3_ok
      |FROM cells
      |GROUP BY 1, 2
      |ORDER BY nation, segment""".stripMargin))

  /* The privacy-audit triad over quasi-identifier (QI) groups: q224's
    * k-anonymity bounds group SIZE; q272's l-diversity bounds in-group
    * sensitive VARIETY (group size is not enough when every member
    * shares the sensitive value), in distinct-count and entropy forms;
    * q282's t-closeness bounds how far each group's sensitive
    * DISTRIBUTION sits from the corpus-wide one (ordered-attribute
    * Earth Mover's Distance) — the audit that catches a group whose
    * values are diverse but skewed toward the revealing end.
    *
    * Each audit reads its fact table ONCE, and all the math runs on
    * frames bounded by group cardinality (QI groups × 5 priorities).
    * Exact integer (or DECIMAL(38,0)) sums feed every division; doubles
    * appear only in final rounded columns.
    */

  /** t-closeness audit over QI = (nation, market segment), sensitive
    * attribute = order priority (ordinal: '1-URGENT' … '5-LOW').
    * For ordered attributes the EMD between a group's distribution P
    * and the global Q has the closed form
    * (1/(m−1)) · Σᵢ |P_cum(i) − Q_cum(i)| over the m value ranks.
    * Engine-exact formulation: with group counts c (cum C), global
    * counts g (cum G), group size n, corpus size N,
    * |C/n − G/N| = |C·N − G·n| / (n·N) — the numerators are exact
    * DECIMAL(38,0) products summed exactly, and ONE final division
    * (+ round) produces t. Groups pass at the conventional t ≤ 0.2.
    *
    * Scale: one orders⋈customer pass → (QI, sens) cells; the global
    * distribution and the m-rank spine derive from the CELLS (no
    * second fact scan); the cumsum windows partition by QI group and
    * run over ≤ m rows each. The only unpartitioned window is the
    * global cumulative over the m = 5 priority ranks — a constant-
    * size frame, same contract as q273's 12-bin spine.
    */
  val q282 = Q(
    "q282_t_closeness_audit",
    (s, dir) => {
      val cells = Pins.pin(Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("sens"))
        .agg(count(lit(1)).as("cnt"))) // feeds global dist + groups + fill
      val glob = cells.groupBy("sens").agg(sum("cnt").as("g"))
        .withColumn("g_cum", sum("g").over(
          Window.orderBy("sens").rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(cells.agg(
          sum("cnt").as("big_n"),
          countDistinct("sens").as("m"))))
      val groups = cells.groupBy("nation", "segment").agg(sum("cnt").as("n"))
      val w = Window.partitionBy("nation", "segment").orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, 0)
      groups.join(broadcast(glob)) // QI groups × m ranks, zero-filled
        .join(cells, Seq("nation", "segment", "sens"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("c_cum", sum("cnt").over(w))
        .withColumn("num", abs(
          col("c_cum").cast("decimal(19,0)") * col("big_n").cast("decimal(19,0)")
            - col("g_cum").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")))
        .groupBy("nation", "segment", "n")
        .agg(sum("num").as("emd_num"), max("big_n").as("big_n"), max("m").as("m"))
        .select(col("nation"), col("segment"), col("n"),
          round(col("emd_num").cast("double") /
            (col("n").cast("double") * col("big_n").cast("double") * (col("m") - 1)),
            8).as("t_emd"))
        .withColumn("t_ok", col("t_emd") <= 0.2)
        .orderBy("nation", "segment")
    },
    Some("""WITH cells AS MATERIALIZED (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |         o_orderpriority AS sens, count(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3),
      |gdist AS (
      |  SELECT sens, g,
      |    CAST(sum(g) OVER (ORDER BY sens
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS g_cum,
      |    (SELECT CAST(sum(cnt) AS BIGINT) FROM cells) AS big_n,
      |    (SELECT count(DISTINCT sens) FROM cells) AS m
      |  FROM (SELECT sens, CAST(sum(cnt) AS BIGINT) AS g FROM cells GROUP BY 1)),
      |groups AS (
      |  SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS n
      |  FROM cells GROUP BY 1, 2),
      |filled AS (
      |  SELECT groups.nation, groups.segment, n, gdist.sens, g_cum, big_n, m,
      |    CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
      |  FROM groups CROSS JOIN gdist
      |  LEFT JOIN cells ON cells.nation = groups.nation
      |    AND cells.segment = groups.segment AND cells.sens = gdist.sens),
      |cum AS (
      |  SELECT nation, segment, n, big_n, m,
      |    abs(CAST(sum(cnt) OVER (PARTITION BY nation, segment ORDER BY sens
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
      |        * big_n - CAST(g_cum AS HUGEINT) * n) AS num
      |  FROM filled)
      |SELECT nation, segment, n,
      |  round(CAST(sum(num) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(max(big_n) AS DOUBLE) * (max(m) - 1)), 8)
      |    AS t_emd,
      |  round(CAST(sum(num) AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(max(big_n) AS DOUBLE) * (max(m) - 1)), 8)
      |    <= 0.2 AS t_ok
      |FROM cum
      |GROUP BY 1, 2, 3
      |ORDER BY nation, segment""".stripMargin))

  val all: Vector[Q] =
    Vector(q83, q224, q272, q282)
}
