package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable => P}
import graft.functions.Dist
import org.apache.spark.sql.functions._

/** Round-3 relational wave: two-sample distribution drift (KS
  * statistic over range-bucketed global CDFs), NOT IN null-semantics
  * (the null-aware anti join), the HiveQL text surface (CTE + window +
  * multi-join issued as SQL text, the way the reference's users
  * actually query — PyHive sends SQL strings,
  * `backend/hive_manager.py:24-29`), and a bin-bucketed interval join
  * that turns an O(n·m) theta join into an equi-join.
  */
object Relational5 {

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

  /** NOT IN subquery null semantics — the null-aware anti join. The
    * first branch is an ordinary anti join (202 customers without a
    * >400k order); the second poisons the subquery with NULLs via
    * nullif (custkey 7 has >400k orders), so SQL three-valued logic
    * makes `x NOT IN (..., NULL, ...)` never-true and the branch
    * returns ZERO rows. Issued as SQL text because NOT IN's
    * null-awareness only exists on the SQL surface — the DataFrame
    * API has no equivalent; Spark plans it as
    * BroadcastHashJoin(..., LeftAnti, isNullAwareAntiJoin=true).
    */
  val q133 = Q(
    "q133_notin_null_semantics",
    (s, dir) =>
      Tables.sql(s, dir, """SELECT * FROM (
        SELECT 'no_big_order' AS branch, c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        UNION ALL
        SELECT 'null_poisoned' AS branch, c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN
          (SELECT nullif(o_custkey, 7) FROM orders WHERE o_totalprice > 400000))
        ORDER BY branch, c_custkey"""),
    Some("""SELECT * FROM (
      |  SELECT 'no_big_order' AS branch, c_custkey, c_name FROM customer
      |  WHERE c_custkey NOT IN
      |    (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |  UNION ALL
      |  SELECT 'null_poisoned' AS branch, c_custkey, c_name FROM customer
      |  WHERE c_custkey NOT IN
      |    (SELECT nullif(o_custkey, 7) FROM orders WHERE o_totalprice > 400000))
      |ORDER BY branch, c_custkey""".stripMargin))

  /** The HiveQL text surface end-to-end: a CTE + 3-table join +
    * windowed top-3-per-month, issued as one SQL string over the
    * fixture tables ([[graft.Tables.sql]]) — the exact shape a reference user types at
    * HiveServer2. Revenue is rounded BEFORE ranking so the window
    * order (and thus the rn<=3 cut) is reproducible cross-engine.
    */
  val q134 = Q(
    "q134_sql_text_surface",
    (s, dir) =>
      Tables.sql(s, dir, s"""WITH rev AS (
        SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
          ${P.moneySumSql("o_totalprice")} AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, CAST(date_trunc('month', o_orderdate) AS DATE)),
      ranked AS (
        SELECT n_name, mon, rev,
          row_number() OVER (PARTITION BY mon ORDER BY rev DESC, n_name) AS rn
        FROM rev)
      SELECT mon, rn, n_name, rev FROM ranked WHERE rn <= 3
      ORDER BY mon, rn"""),
    Some(s"""WITH rev AS (
      |  SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
      |    ${P.moneySumSql("o_totalprice")} AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, CAST(date_trunc('month', o_orderdate) AS DATE)),
      |ranked AS (
      |  SELECT n_name, mon, rev,
      |    row_number() OVER (PARTITION BY mon ORDER BY rev DESC, n_name) AS rn
      |  FROM rev)
      |SELECT mon, CAST(rn AS INTEGER) AS rn, n_name, rev FROM ranked WHERE rn <= 3
      |ORDER BY mon, rn""".stripMargin))

  /** Bin-bucketed interval join: errors within 1 hour after each
    * purchase, per user. A naive `ts BETWEEN` theta join is a
    * BroadcastNestedLoopJoin — O(purchases × errors) and
    * undistributable. Bucketing both sides into hour bins and
    * exploding each purchase to its two candidate bins turns it into
    * a plain (user, bin) equi-join (hash/SMJ, AQE-skew-splittable)
    * with the exact range predicate as a residual filter; an error
    * matches at most one probe bin so nothing double-counts. The
    * oracle runs the naive theta join — same result, different
    * algorithm.
    */
  val q135 = Q(
    "q135_binned_interval_join",
    (s, dir) => {
      val ev = Tables.t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"),
          floor(unix_timestamp(col("ts")) / 3600).as("b0"))
        .withColumn("bkt", explode(array(col("b0"), col("b0") + 1)))
        .drop("b0")
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
          col("ts").as("e_ts"),
          floor(unix_timestamp(col("ts")) / 3600).as("e_bkt"))
      p.join(e,
          col("user_id") === col("e_user") && col("bkt") === col("e_bkt") &&
            col("e_ts") >= col("p_ts") &&
            col("e_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
          "left")
        .groupBy("p_id")
        .agg(count(col("e_id")).as("n_errors"))
        .orderBy("p_id")
    },
    Some("""SELECT p.event_id AS p_id, count(e.event_id) AS n_errors
      |FROM events p LEFT JOIN events e
      |  ON e.event_type = 'error' AND e.user_id = p.user_id
      | AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
      |WHERE p.event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Calendar-interval RANGE frame: 7-day trailing average of daily
    * revenue — `RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT
    * ROW` over a DATE order column (q24 covers the numeric-RANGE
    * form; the interval form is its own parser/exec path). The
    * window's input is the DAILY aggregate — O(#days), not
    * O(orders) — so the unpartitioned window is fine at any corpus
    * scale; the heavy lifting happened in the groupBy.
    */
  val q136 = Q(
    "q136_interval_range_frame",
    (s, dir) =>
      // the daily rev is a decimal sum in BOTH texts (same fold-order
      // rationale as Portable.moneySum); the 7-day window then
      // averages ≤7 identical exact doubles — deterministic, and /7
      // can't land on a rounding half-boundary
      Tables.sql(s, dir, s"""WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          ${P.moneySumSql("o_totalprice")} AS rev, count(*) AS n
        FROM orders GROUP BY 1)
      SELECT day, n, rev,
        round(avg(rev) OVER (ORDER BY day
          RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW), 2)
          AS avg_7d
      FROM d ORDER BY day"""),
    Some(s"""WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    ${P.moneySumSql("o_totalprice")} AS rev, count(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT day, n, rev,
      |  round(avg(rev) OVER (ORDER BY day
      |    RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW), 2)
      |    AS avg_7d
      |FROM d ORDER BY day""".stripMargin))

  /** TPC-H Q11 shape: part values above a fraction of the GLOBAL
    * total — a scalar subquery inside HAVING, decorrelated by
    * Catalyst into an aggregate + broadcast cross join. The 0.00058
    * fraction sits ≥5e-5 relative distance from every group sum in
    * the fixtures, 7 orders of magnitude above float-sum jitter, so
    * the cut is reproducible cross-engine.
    */
  val q137 = Q(
    "q137_group_share_threshold",
    (s, dir) =>
      Tables.sql(s, dir, s"""SELECT l_partkey,
        ${P.moneySumSql("l_extendedprice * l_quantity")} AS val
      FROM lineitem
      GROUP BY l_partkey
      HAVING sum(l_extendedprice * l_quantity) >
        (SELECT sum(l_extendedprice * l_quantity) * 0.00058 FROM lineitem)
      ORDER BY val DESC, l_partkey"""),
    Some(s"""SELECT l_partkey,
      |  ${P.moneySumSql("l_extendedprice * l_quantity")} AS val
      |FROM lineitem
      |GROUP BY l_partkey
      |HAVING sum(l_extendedprice * l_quantity) >
      |  (SELECT sum(l_extendedprice * l_quantity) * 0.00058 FROM lineitem)
      |ORDER BY val DESC, l_partkey""".stripMargin))

  /** Named-aggregate gap-fill: mode() and median() (exact
    * interpolating), per event type — the Hive/DuckDB scalar-agg
    * surface beyond q19/q20's percentiles. The fixture's per-type
    * user mode is tie-free is NOT assumed: mode is taken over
    * event_type globally (signup wins 2017 vs 2014) and medians are
    * per-type over `value`.
    */
  val q138 = Q(
    "q138_mode_median",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val m = ev.agg(mode(col("event_type")).as("modal_type"))
      ev.groupBy("event_type")
        .agg(
          round(median(col("value")), 4).as("med_value"),
          count(lit(1)).as("n"))
        .crossJoin(broadcast(m))
        .orderBy("event_type")
    },
    Some("""WITH m AS (SELECT mode(event_type) AS modal_type FROM events)
      |SELECT event_type, round(median(value), 4) AS med_value,
      |  count(*) AS n, modal_type
      |FROM events CROSS JOIN m
      |GROUP BY event_type, modal_type
      |ORDER BY event_type""".stripMargin))

  /** posexplode — the ordinal-carrying generator (LATERAL VIEW
    * POSEXPLODE in HiveQL; q65 covers the plain explode): first three
    * token positions per document.
    */
  val q140 = Q(
    "q140_posexplode_ordinal",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.Portable.tokens(col("text"))))
        .toDF("doc_id", "pos", "tok")
        .filter(col("pos") < 3)
        .orderBy("doc_id", "pos")
    },
    Some(s"""SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
      |FROM (SELECT doc_id,
      |        ${graft.functions.Portable.tokensSql("text")} AS toks
      |      FROM documents)
      |CROSS JOIN generate_series(1, 3) g(i)
      |WHERE i <= len(toks)
      |ORDER BY doc_id, pos""".stripMargin))

  /** Higher-order-function surface beyond transform/filter (q43-q51):
    * exists, forall, aggregate with a FINISH lambda, and the
    * index-carrying filter form — all codegen-adjacent array ops, no
    * UDF. DuckDB mirrors with list_bool_or/and and a 1-based lambda
    * index.
    */
  val q141 = Q(
    "q141_hof_exists_forall",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .withColumn("toks", graft.functions.Portable.tokens(col("text")))
        .select(
          col("doc_id"),
          expr("exists(toks, t -> t = 'join')").as("has_join"),
          expr("forall(toks, t -> length(t) >= 2)").as("all_ge2"),
          round(expr(
            "aggregate(toks, 0L, (acc, t) -> acc + length(t), acc -> CAST(acc AS DOUBLE) / size(toks))"),
            5).as("avg_tok_len"),
          expr("size(filter(toks, (t, i) -> i % 2 = 0))").as("n_even_pos"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      |  list_bool_or(list_transform(toks, t -> t = 'join')) AS has_join,
      |  list_bool_and(list_transform(toks, t -> length(t) >= 2)) AS all_ge2,
      |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
      |    / len(toks), 5) AS avg_tok_len,
      |  CAST(len(list_filter(toks, (t, i) -> (i - 1) % 2 = 0)) AS INTEGER)
      |    AS n_even_pos
      |FROM (SELECT doc_id,
      |        ${graft.functions.Portable.tokensSql("text")} AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /** Correlated scalar subquery in the SELECT list plus EXISTS as a
    * projected boolean — the projection-side subquery forms (q64
    * covers the WHERE side). Catalyst decorrelates both into outer
    * joins against pre-aggregated/deduplicated subplans.
    */
  val q143 = Q(
    "q143_select_scalar_subquery",
    (s, dir) =>
      Tables.sql(s, dir, """SELECT n_name,
        (SELECT count(*) FROM customer
         WHERE c_nationkey = n_nationkey) AS n_cust,
        EXISTS (SELECT 1 FROM supplier
                WHERE s_nationkey = n_nationkey) AS has_supp
      FROM nation ORDER BY n_name"""),
    Some("""SELECT n_name,
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey = n_nationkey) AS n_cust,
      |  EXISTS (SELECT 1 FROM supplier
      |          WHERE s_nationkey = n_nationkey) AS has_supp
      |FROM nation ORDER BY n_name""".stripMargin))

  /** Incremental aggregate maintenance — the warehouse ETL pattern
    * that replaces full recomputes: the standing per-customer rollup
    * (orders before 2000-01-01) is updated with a new batch (orders
    * from 2000 on) by aggregating ONLY the batch and full-outer
    * merging the two small aggregate tables. The oracle is the full
    * recompute over all orders — incremental == full is exactly the
    * invariant an incremental pipeline must prove. At 100 TB the
    * batch-side cost is O(batch), not O(corpus); the merge shuffles
    * two aggregate tables, never the facts.
    */
  val q144 = Q(
    "q144_incremental_rollup",
    (s, dir) => {
      val o = Tables.t(s, dir, "orders")
      // accumulate in decimal(18,2), not double: the incremental path
      // folds in a different order than the oracle's full scan, and
      // float partial sums could land on opposite sides of a half-cent
      // rounding boundary — decimal makes incremental == full exact
      // rather than coincidental
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("tot"))
      val standing = agg(o.filter(col("o_orderdate") < "2000-01-01"))
        .select(col("o_custkey").as("k1"), col("n").as("n1"), col("tot").as("t1"))
      val batch = agg(o.filter(col("o_orderdate") >= "2000-01-01"))
        .select(col("o_custkey").as("k2"), col("n").as("n2"), col("tot").as("t2"))
      val zero = lit(0).cast("decimal(18,2)")
      standing.join(batch, col("k1") === col("k2"), "full_outer")
        .select(
          coalesce(col("k1"), col("k2")).as("o_custkey"),
          (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_orders"),
          round((coalesce(col("t1"), zero) + coalesce(col("t2"), zero))
            .cast("double"), 2).as("total"))
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** BPE-ish regex tokenization (the GPT-2 pre-tokenizer shape:
    * letter runs | digit runs | punctuation runs) over the events
    * JSON props — the token-counting variant the whitespace kernel
    * (q44) can't see. Same pattern string compiles identically under
    * Java regex and RE2.
    */
  val q145 = Q(
    "q145_bpe_regex_tokens",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          size(expr("regexp_extract_all(props, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
            .as("n_bpe"),
          size(graft.functions.Portable.tokens(col("props"))).as("n_ws"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          round(avg(col("n_bpe")), 4).as("avg_bpe_tokens"),
          round(avg(col("n_ws")), 4).as("avg_ws_tokens"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type, count(*) AS n_events,
      |  round(avg(len(regexp_extract_all(props, '[a-z]+|[0-9]+|[^a-z0-9 ]+'))), 4)
      |    AS avg_bpe_tokens,
      |  round(avg(len(${graft.functions.Portable.tokensSql("props")})), 4)
      |    AS avg_ws_tokens
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Data-quality rules report — the warehouse health check that runs
    * after every load: referential integrity (orphan FKs via anti
    * joins), domain rules (negative amounts, ship-before-order),
    * key integrity (null/duplicate keys). Each rule is one aggregate;
    * the anti joins broadcast the key side they probe. A zero is as
    * meaningful as a violation count — the report shape is the
    * operator.
    */
  val q147 = Q(
    "q147_data_quality_rules",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
      val o = Tables.t(s, dir, "orders")
      val c = Tables.t(s, dir, "customer")
      def one(rule: String, n: org.apache.spark.sql.DataFrame) =
        n.select(lit(rule).as("rule"), col("n"))
      val orphanLine = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val orphanOrder = o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      val negPrice = li.filter(col("l_extendedprice") < 0).agg(count(lit(1)).as("n"))
      val shipBeforeOrder = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate"))
        .agg(count(lit(1)).as("n"))
      val nullKey = o.filter(col("o_custkey").isNull).agg(count(lit(1)).as("n"))
      val dupPk = o.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("n"))
      one("l1_orphan_lineitem", orphanLine)
        .union(one("l2_orphan_order", orphanOrder))
        .union(one("l3_negative_price", negPrice))
        .union(one("l4_ship_before_order", shipBeforeOrder))
        .union(one("l5_null_custkey", nullKey))
        .union(one("l6_duplicate_orderkey", dupPk))
        .orderBy("rule")
    },
    Some("""SELECT 'l1_orphan_lineitem' AS rule, count(*) AS n
      |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |UNION ALL
      |SELECT 'l2_orphan_order', count(*)
      |FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |UNION ALL
      |SELECT 'l3_negative_price', count(*)
      |FROM lineitem WHERE l_extendedprice < 0
      |UNION ALL
      |SELECT 'l4_ship_before_order', count(*)
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate < o_orderdate
      |UNION ALL
      |SELECT 'l5_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
      |UNION ALL
      |SELECT 'l6_duplicate_orderkey',
      |  count(*) - count(DISTINCT o_orderkey) FROM orders
      |ORDER BY rule""".stripMargin))

  /** GROUP BY ALL / ORDER BY ALL — the modern SQL shorthand (DuckDB
    * popularized it; Spark supports both since 3.4/4.0): every
    * non-aggregate select item groups, the full select list orders.
    * Parser parity matters for users porting ad-hoc warehouse SQL.
    */
  val q148 = Q(
    "q148_group_order_by_all",
    (s, dir) =>
      Tables.sql(s, dir, """SELECT lang, source, count(*) AS n,
        sum(n_chars) AS chars
      FROM documents GROUP BY ALL ORDER BY ALL"""),
    Some("""SELECT lang, source, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents GROUP BY ALL ORDER BY ALL""".stripMargin))

  val all: Vector[Q] =
    Vector(q131, q133, q134, q135, q136, q137, q138, q140, q141, q143,
      q144, q145, q147, q148)
}
