package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable => P}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 fifth wave: classic analytics operators the registry still
  * lacked — the skyline (Pareto frontier) query, entity-resolution
  * golden-record linkage, and split-conformal calibration.
  */
object Analytics5 {

  /** Skyline / Pareto frontier (Börzsönyi et al., ICDE'01): documents
    * not dominated in (type-token ratio ↑, length ↑) — the corpus-
    * curation shortlist of "long AND lexically rich" docs no weighted
    * score can rank away. 2-d dominance collapses to a prefix
    * maximum: d survives iff its length equals the max length at its
    * exact TTR AND strictly exceeds the max length over all higher
    * TTRs. The TTR is rounded to 4dp, so the per-TTR aggregate frame
    * is ≤ 10,001 rows at ANY corpus size — the partition-less
    * cumulative-max window runs over that bounded frame, never the
    * corpus (same bounded-frame argument as q225). Scale shape: one
    * groupBy over the corpus, one ≤10k-row window, one semi-join
    * back. Ties on both dims all survive (neither strictly
    * dominates). Output carries the dominated count so the frontier's
    * selectivity is auditable.
    */
  val q248 = Q(
    "q248_skyline_pareto_docs",
    (s, dir) => {
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          P.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("n_chars"),
          round(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")), 4).as("ttr"))
      // per-TTR max length: ≤ 10,001 rows by construction (4dp ratio)
      val g = d.groupBy("ttr").agg(max(col("n_chars")).as("gmax"))
        .withColumn("pmax", max(col("gmax")).over(
          Window.orderBy(col("ttr").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("pmax").isNull || col("gmax") > col("pmax"))
        .select(col("ttr"), col("gmax"))
      val sky = d.join(g,
        d("ttr") === g("ttr") && d("n_chars") === g("gmax"), "left_semi")
      val tot = d.agg(count(lit(1)).as("n_docs"))
      sky.crossJoin(broadcast(sky.agg(count(lit(1)).as("n_sky"))
          .crossJoin(tot)
          .select(col("n_sky"), (col("n_docs") - col("n_sky")).as("n_dominated"))))
        .select(col("doc_id"), col("ttr"), col("n_chars"), col("n_dominated"))
        .orderBy(col("ttr").desc, col("doc_id"))
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, n_chars,
      |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
      |      AS ttr
      |  FROM (SELECT doc_id, n_chars, ${P.tokensSql("text")} AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 1),
      |g AS (
      |  SELECT ttr, gmax FROM (
      |    SELECT ttr, max(n_chars) AS gmax,
      |      max(max(n_chars)) OVER (ORDER BY ttr DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |    FROM d GROUP BY ttr)
      |  WHERE pmax IS NULL OR gmax > pmax),
      |sky AS (
      |  SELECT d.doc_id, d.ttr, d.n_chars FROM d
      |  JOIN g ON d.ttr = g.ttr AND d.n_chars = g.gmax)
      |SELECT doc_id, ttr, n_chars,
      |  (SELECT count(*) FROM d) - (SELECT count(*) FROM sky) AS n_dominated
      |FROM sky
      |ORDER BY ttr DESC, doc_id""".stripMargin))

  /** Entity-resolution golden-record linkage with in-result truth
    * audit. A second source ("CRM") is derived from customer with
    * DETERMINISTIC dirt — 60% clean, 20% case-mangled, 20% one name
    * char dropped; half the records get ±5¢ balance jitter; 20% lose
    * their segment — so ground truth is known (b_id − 10⁷ = a_id) and
    * precision/recall land IN the output, per perturbation class.
    * Pipeline = the Fellegi-Sunter shape: (1) blocking on
    * (nation, dollar-band) with a HALF-OFFSET second band key — two
    * grids offset by half a band width guarantee any true pair
    * (|Δbal| ≤ 5¢ ≪ half-band) shares ≥1 key, no fuzzy join needed;
    * (2) additive agreement scoring (Levenshtein on case-folded
    * names, segment agreement, balance proximity); (3) best-match-
    * per-CRM-record via a per-b_id window (candidate lists are
    * block-bounded). Scale: pair volume is Σ block², blocks are value
    * bands over a fixed price range, and blocks whose A-side exceeds
    * 256 rows are EXCLUDED and counted in `capped_blocks` (the q234
    * no-silent-caps rule) — at the fixtures' density every block is
    * far under the cap. False matches (adjacent ids are lev-1 apart)
    * are kept by design: that is what the precision column measures.
    */
  val q249 = Q(
    "q249_entity_resolution_golden",
    (s, dir) => {
      val a = Tables.t(s, dir, "customer")
        .select(col("c_custkey").as("a_id"), col("c_name").as("a_name"),
          col("c_nationkey").as("a_nat"), col("c_mktsegment").as("a_seg"),
          col("c_acctbal").as("a_bal"))
      // feeds key-explode and class totals
      val b = Pins.pin(Tables.t(s, dir, "customer")
        .withColumn("h1", P.md5Long(concat(lit("erd:"), col("c_custkey").cast("string"))))
        .withColumn("h2", P.md5Long(concat(lit("erb:"), col("c_custkey").cast("string"))))
        .withColumn("h3", P.md5Long(concat(lit("ers:"), col("c_custkey").cast("string"))))
        .withColumn("cls", when(pmod(col("h1"), lit(5)) <= 2, "0_clean")
          .when(pmod(col("h1"), lit(5)) === 3, "1_lower").otherwise("2_chardrop"))
        // div, not `/`: Spark / on longs is DOUBLE division, and a
        // 60-bit hash over 2^53 would silently lose low bits
        .withColumn("p", expr("CAST((h1 div 5) % length(c_name) + 1 AS INT)"))
        .withColumn("b_name", when(col("cls") === "0_clean", col("c_name"))
          .when(col("cls") === "1_lower", lower(col("c_name")))
          .otherwise(expr("concat(substring(c_name, 1, p - 1), substring(c_name, p + 1))")))
        .withColumn("b_bal", when(pmod(col("h2"), lit(2)) === 0,
          col("c_acctbal") + expr("((h2 div 2) % 11 - 5) / 100.0"))
          .otherwise(col("c_acctbal")))
        .withColumn("b_seg", when(pmod(col("h3"), lit(5)) === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")))
        .select((col("c_custkey") + 10000000L).as("b_id"), col("b_name"),
          col("c_nationkey").as("b_nat"), col("b_seg"), col("b_bal"), col("cls")))
      // One pass from block join to best match — no distinct, no
      // payload joins, no window sort. ProfileEr at sf10 attributed
      // the old shape's 47 s to exactly those three (22.5 s distinct
      // shuffle of 300M pairs, ~30 s of 150M-pair payload joins +
      // levenshtein, ~18 s rank-window sort); the r9 "hot dollar
      // band" theory was wrong — the pair mass is ScaleUp clone
      // groups sharing identical (bal, segment, length), which no
      // blocking key separates. The rewrites are output-identical:
      //  - key rows carry the full scoring payload (bal, length,
      //    lowered name, segment, cls), so pairs are scored in the
      //    block-join's output stream;
      //  - pairs that cannot reach sc >= 5 die first: sc >= 5 forces
      //    lev <= 1 (lev=2 caps at 0+1+3 = 4) hence length diff <= 1,
      //    |a_bal - b_bal| <= 0.0501 (else cap 4+1-3 = 2), and seg
      //    equal-or-UNKNOWN (else cap 4-3+3 = 4) — and only sc >= 5
      //    rows can reach the output, so the filter is lossless;
      //  - levenshtein runs banded with threshold 2 (O(n·k), not
      //    O(n²)); every lev > 2 value lands in the same -99 branch
      //    the exact distance would, so the score is unchanged;
      //  - rank-1-per-b_id is an argmax: min(struct(-sc, lev, a_id))
      //    is the same total order as the ORDER BY, partial-aggregates
      //    map-side, never sorts — and is duplicate-insensitive, which
      //    is what made the g1/g2-overlap distinct removable.
      def keys(df: DataFrame, id: String, nat: String, bal: String,
          name: String, seg: String, extra: Seq[String] = Nil): DataFrame =
        df.select(Seq(col(id), col(bal).as(s"${id}_bal"),
          length(col(name)).as(s"${id}_len"),
          lower(col(name)).as(s"${id}_lname"), col(seg).as(s"${id}_seg")) ++
          extra.map(col) :+
          explode(array(
            concat_ws(":", lit("g1"), col(nat), floor(col(bal))),
            concat_ws(":", lit("g2"), col(nat), floor(col(bal) + 0.5)))).as("bk"): _*)
      val ak = keys(a, "a_id", "a_nat", "a_bal", "a_name", "a_seg")
      // no-silent-caps: oversized blocks leave candidate gen, counted
      val big = ak.groupBy("bk").agg(count(lit(1)).as("ac"))
        .filter(col("ac") > 256).select("bk")
      val nCapped = big.agg(count(lit(1)).as("capped_blocks"))
      val pairs = ak.join(big, Seq("bk"), "left_anti")
        .join(keys(b, "b_id", "b_nat", "b_bal", "b_name", "b_seg", Seq("cls")), "bk")
        .filter(abs(col("a_id_bal") - col("b_id_bal")) <= 0.0501 &&
          abs(col("a_id_len") - col("b_id_len")) <= 1 &&
          (col("b_id_seg") === "UNKNOWN" || col("a_id_seg") === col("b_id_seg")))
        .withColumn("lev", levenshtein(col("a_id_lname"), col("b_id_lname"), 2))
        .withColumn("sc",
          when(col("lev") === 0, 4).when(col("lev") === 1, 2)
            .when(col("lev") === 2, 0).otherwise(-99)
          + when(col("b_id_seg") === "UNKNOWN", 0)
            .when(col("a_id_seg") === col("b_id_seg"), 1).otherwise(-3)
          + when(abs(col("a_id_bal") - col("b_id_bal")) <= 0.0501, 3).otherwise(-3))
      val best = pairs.groupBy("b_id")
        .agg(min(struct((-col("sc")).as("nsc"), col("lev").as("lv"),
          col("a_id").as("aid"))).as("m"), min(col("cls")).as("pcls"))
        .filter(col("m.nsc") <= -5)
        .select(col("b_id").as("pb"), col("m.aid").as("pa"), col("pcls"))
      val perCls = b.groupBy("cls").agg(count(lit(1)).as("n_records"))
        .join(best.groupBy("pcls").agg(count(lit(1)).as("n_predicted"),
          sum(when(col("pa") === col("pb") - 10000000L, 1L).otherwise(0L))
            .as("n_correct")),
          col("cls") === col("pcls"), "left")
        .select(col("cls"), col("n_records"),
          coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      val allRow = perCls.agg(sum("n_records").as("n_records"),
          sum("n_predicted").as("n_predicted"), sum("n_correct").as("n_correct"))
        .select(lit("3_all").as("cls"), col("n_records"), col("n_predicted"),
          col("n_correct"))
      perCls.unionByName(allRow)
        .crossJoin(broadcast(nCapped))
        .select(col("cls"), col("n_records"), col("n_predicted"), col("n_correct"),
          when(col("n_predicted") === 0, lit(0.0))
            .otherwise(round(col("n_correct").cast("double") / col("n_predicted"), 4))
            .as("precision"),
          round(col("n_correct").cast("double") / col("n_records"), 4)
            .as("recall"),
          col("capped_blocks"))
        .orderBy("cls")
    },
    Some(s"""WITH a AS (
      |  SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS a_nat,
      |    c_mktsegment AS a_seg, c_acctbal AS a_bal FROM customer),
      |braw AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
      |    ${P.md5LongSql("concat('erd:', c_custkey)")} AS h1,
      |    ${P.md5LongSql("concat('erb:', c_custkey)")} AS h2,
      |    ${P.md5LongSql("concat('ers:', c_custkey)")} AS h3
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey + 10000000 AS b_id,
      |    CASE WHEN h1 % 5 <= 2 THEN c_name
      |         WHEN h1 % 5 = 3 THEN lower(c_name)
      |         ELSE concat(substr(c_name, 1, p - 1), substr(c_name, p + 1))
      |    END AS b_name,
      |    c_nationkey AS b_nat,
      |    CASE WHEN h3 % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS b_seg,
      |    CASE WHEN h2 % 2 = 0
      |         THEN c_acctbal + ((h2 // 2) % 11 - 5) / 100.0
      |         ELSE c_acctbal END AS b_bal,
      |    CASE WHEN h1 % 5 <= 2 THEN '0_clean'
      |         WHEN h1 % 5 = 3 THEN '1_lower' ELSE '2_chardrop' END AS cls
      |  FROM (SELECT *, CAST((h1 // 5) % length(c_name) + 1 AS INTEGER) AS p
      |        FROM braw)),
      |ak AS (
      |  SELECT a_id, concat('g1:', a_nat, ':', CAST(floor(a_bal) AS BIGINT))
      |    AS bk FROM a
      |  UNION ALL
      |  SELECT a_id, concat('g2:', a_nat, ':', CAST(floor(a_bal + 0.5) AS BIGINT))
      |  FROM a),
      |big AS (SELECT bk FROM ak GROUP BY bk HAVING count(*) > 256),
      |bk_ AS (
      |  SELECT b_id, concat('g1:', b_nat, ':', CAST(floor(b_bal) AS BIGINT))
      |    AS bk FROM b
      |  UNION ALL
      |  SELECT b_id, concat('g2:', b_nat, ':', CAST(floor(b_bal + 0.5) AS BIGINT))
      |  FROM b),
      |cand AS (
      |  SELECT DISTINCT a_id, b_id
      |  FROM ak JOIN bk_ USING (bk)
      |  WHERE bk NOT IN (SELECT bk FROM big)),
      |scored AS (
      |  SELECT a_id, b_id, cls, lev,
      |    CASE WHEN lev = 0 THEN 4 WHEN lev = 1 THEN 2
      |         WHEN lev = 2 THEN 0 ELSE -99 END
      |    + CASE WHEN b_seg = 'UNKNOWN' THEN 0
      |           WHEN a_seg = b_seg THEN 1 ELSE -3 END
      |    + CASE WHEN abs(a_bal - b_bal) <= 0.0501 THEN 3 ELSE -3 END AS sc
      |  FROM (SELECT a_id, b_id, cls, a_seg, b_seg, a_bal, b_bal,
      |          levenshtein(lower(a_name), lower(b_name)) AS lev
      |        FROM cand JOIN a USING (a_id) JOIN b USING (b_id))),
      |best AS (
      |  SELECT b_id AS pb, a_id AS pa, cls AS pcls FROM (
      |    SELECT *, row_number() OVER (PARTITION BY b_id
      |      ORDER BY sc DESC, lev, a_id) AS rn
      |    FROM scored)
      |  WHERE rn = 1 AND sc >= 5),
      |per AS (
      |  SELECT cls, n_records,
      |    coalesce(p.n_predicted, 0) AS n_predicted,
      |    coalesce(p.n_correct, 0) AS n_correct
      |  FROM (SELECT cls, count(*) AS n_records FROM b GROUP BY cls) t
      |  LEFT JOIN (
      |    SELECT pcls, count(*) AS n_predicted,
      |      CAST(sum(CASE WHEN pa = pb - 10000000 THEN 1 ELSE 0 END) AS BIGINT)
      |        AS n_correct
      |    FROM best GROUP BY pcls) p ON t.cls = p.pcls),
      |rows_ AS (
      |  SELECT cls, n_records, n_predicted, n_correct FROM per
      |  UNION ALL
      |  SELECT '3_all', CAST(sum(n_records) AS BIGINT),
      |    CAST(sum(n_predicted) AS BIGINT), CAST(sum(n_correct) AS BIGINT)
      |  FROM per)
      |SELECT cls, n_records, n_predicted, n_correct,
      |  CASE WHEN n_predicted = 0 THEN 0.0
      |       ELSE round(CAST(n_correct AS DOUBLE) / n_predicted, 4)
      |  END AS precision,
      |  round(CAST(n_correct AS DOUBLE) / n_records, 4) AS recall,
      |  (SELECT count(*) FROM big) AS capped_blocks
      |FROM rows_
      |ORDER BY cls""".stripMargin))

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

  /** Time-series resample with linear interpolation (round 8) — the
    * gap-fill a metrics warehouse runs when a sparse series must land
    * on a dense calendar: q71 zero-fills and q85 forward-fills
    * (LOCF); THIS interpolates, which is what dashboards and feature
    * pipelines actually want between sparse observations. A sparse
    * series is derived deterministically (daily nation revenue, days
    * with daynum % 3 == 0 withheld), resampled onto a LITERAL
    * two-year spine, and each gap day gets
    * (prev·(m−k) + next·k) div m  (k = days since prev observation,
    * m = gap length) from one backward and one forward IGNORE NULLS
    * window — edges fall back to the nearest observed value. The
    * interpolation runs in INTEGER CENTS with a nonnegative
    * numerator, so the floor division is engine-identical; the float
    * form was abandoned after the gate caught it — money deltas are
    * 2-dp rationals, so the double quotient lands on exact .xx5 ties
    * SYSTEMATICALLY, and Spark's round (shortest-decimal HALF_UP)
    * disagrees with DuckDB's (binary-value) on every such tie. One
    * double division by 100 at the output is a single IEEE op, bit-
    * identical in both engines. Scale shape: the
    * windows run over the RESAMPLED series — partitioned by nation
    * and bounded by calendar length, never fact-sized; the fact
    * table is touched once by the daily aggregate.
    */
  val q261 = Q(
    "q261_resample_interpolate",
    (s, dir) => {
      import s.implicits._
      val dim = Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
        .filter(col("n_name").isin("NATION_0", "NATION_1", "NATION_2"))
      val daily = Tables.t(s, dir, "orders")
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate").between(
          to_date(lit("1996-01-01")), to_date(lit("1997-12-31"))))
        .groupBy(col("n_name"), col("o_orderdate").as("day"))
        .agg((sum(col("o_totalprice").cast("decimal(18,4)")) * 100)
          .cast("long").as("cts")) // exact integer cents
      val observed = daily
        .filter(pmod(datediff(col("day"), to_date(lit("1996-01-01"))),
          lit(3)) =!= 0)
      val spine = dim.select("n_name").distinct()
        .crossJoin(Seq(1).toDF("one").select(explode(expr(
          "sequence(DATE'1996-01-01', DATE'1997-12-31', interval 1 day)"))
          .as("day")))
      val w = Window.partitionBy("n_name").orderBy("day")
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val dn = datediff(col("day"), to_date(lit("1996-01-01")))
      spine.join(observed, Seq("n_name", "day"), "left")
        .withColumn("dn", dn.cast("long"))
        .withColumn("pv", last(col("cts"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("cts").isNotNull, col("dn")),
          ignoreNulls = true).over(back))
        .withColumn("nv", first(col("cts"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("cts").isNotNull, col("dn")),
          ignoreNulls = true).over(fwd))
        .withColumn("icts",
          when(col("cts").isNotNull, col("cts"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(expr(
              "(pv * (nd - dn) + nv * (dn - pd)) div (nd - pd)")))
        .select(col("n_name"), col("day"),
          col("cts").isNotNull.as("observed"),
          (col("icts").cast("double") / 100.0).as("value"))
        .orderBy("n_name", "day")
    },
    Some("""WITH dim AS (
      |  SELECT c_custkey, n_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2')),
      |daily AS (
      |  SELECT n_name, o_orderdate AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
      |      AS cts
      |  FROM orders JOIN dim ON o_custkey = c_custkey
      |  WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      |  GROUP BY 1, 2),
      |observed AS (
      |  SELECT * FROM daily
      |  WHERE datediff('day', DATE '1996-01-01', day) % 3 <> 0),
      |spine AS (
      |  SELECT n_name, CAST(d AS DATE) AS day
      |  FROM (SELECT DISTINCT n_name FROM dim)
      |  CROSS JOIN (SELECT unnest(generate_series(DATE '1996-01-01',
      |    DATE '1997-12-31', INTERVAL 1 DAY)) AS d)),
      |f AS (
      |  SELECT s.n_name, s.day, o.cts,
      |    CAST(datediff('day', DATE '1996-01-01', s.day) AS BIGINT) AS dn,
      |    last_value(o.cts IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN o.cts IS NOT NULL THEN
      |        CAST(datediff('day', DATE '1996-01-01', s.day) AS BIGINT)
      |      END IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    first_value(o.cts IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN o.cts IS NOT NULL THEN
      |        CAST(datediff('day', DATE '1996-01-01', s.day) AS BIGINT)
      |      END IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM spine s LEFT JOIN observed o
      |    ON s.n_name = o.n_name AND s.day = o.day)
      |SELECT n_name, day, cts IS NOT NULL AS observed,
      |  CAST(CASE WHEN cts IS NOT NULL THEN cts
      |            WHEN pv IS NULL THEN nv
      |            WHEN nv IS NULL THEN pv
      |            ELSE (pv * (nd - dn) + nv * (dn - pd)) // (nd - pd)
      |       END AS DOUBLE) / 100.0 AS value
      |FROM f ORDER BY n_name, day""".stripMargin))

  val all: Vector[Q] = Vector(q248, q249, q253, q261)
}
