package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY.md §2.2 (filters/predicates), §2.3 (joins), §2.7 (set ops).
  *
  * The reference delegates this entire surface to HiveQL on
  * HiveServer2 (reference backend/hive_manager.py:24-29); here each
  * shape is the idiomatic DataFrame form and Catalyst picks the
  * physical join (broadcast hints on the dimension tables keep the
  * star-schema joins shuffle-free on the fact side at scale).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: scan → filter → hash agg → sort.
    * Partial aggregation happens map-side; only 4 groups shuffle.
    */
  val q01 = Q(
    "q01_pricing_summary",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // money aggregates accumulate in decimal (Portable.moneySum
        // scaladoc: double sums are fold-order-dependent at scale)
        .agg(
          P.moneySum(col("l_quantity")).as("sum_qty"),
          P.moneySum(col("l_extendedprice")).as("sum_base_price"),
          P.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          P.moneyAvg(col("l_quantity")).as("avg_qty"),
          P.moneyAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      |  ${P.moneySumSql("l_quantity")} AS sum_qty,
      |  ${P.moneySumSql("l_extendedprice")} AS sum_base_price,
      |  ${P.moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      |  ${P.moneyAvgSql("l_quantity")} AS avg_qty,
      |  ${P.moneyAvgSql("l_discount")} AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** WHERE-predicate language: comparison, AND/OR/NOT, IN, BETWEEN,
    * LIKE, IS NULL — all pushed down to the parquet scan by Catalyst.
    */
  val q02 = Q(
    "q02_filter_predicates",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .filter(
          (col("o_orderstatus").isin("O", "F") &&
            col("o_totalprice").between(1000.0, 250000.0) &&
            col("o_orderpriority").like("1%") &&
            !(col("o_orderstatus") === "P")) ||
            col("o_orderpriority").isNull)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE (o_orderstatus IN ('O','F')
      |  AND o_totalprice BETWEEN 1000.0 AND 250000.0
      |  AND o_orderpriority LIKE '1%'
      |  AND NOT (o_orderstatus = 'P'))
      |  OR o_orderpriority IS NULL
      |ORDER BY o_orderkey""".stripMargin))

  /** Inner equi-join fact→dim + aggregate (shuffle on o_custkey only
    * if customer is above the broadcast threshold — at warehouse scale
    * customer is large, so this is the canonical shuffled hash join).
    */
  val q03 = Q(
    "q03_join_orders_customers",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          P.moneySum(col("o_totalprice")).as("total_price"),
          P.moneyAvg(col("o_totalprice")).as("avg_price"))
        .orderBy("c_mktsegment")
    },
    Some(s"""SELECT c_mktsegment,
      |  count(*) AS n_orders,
      |  ${P.moneySumSql("o_totalprice")} AS total_price,
      |  ${P.moneyAvgSql("o_totalprice")} AS avg_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin))

  /** TPC-H Q5-shaped star join: fact ⋈ orders ⋈ customer ⋈ nation ⋈
    * region with explicit broadcast of the two small dims. The big
    * joins shuffle on their keys; nation/region are map-side.
    */
  val q04 = Q(
    "q04_revenue_by_nation",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(
          col("r_name") === "ASIA" &&
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("n_name")
        // Accumulate revenue in decimal: each item's discounted price
        // has an exact 4-dp value (2-dp price × 2-dp factor), so the
        // per-row double→decimal cast is deterministic and the decimal
        // sum is associative. A raw double sum differs between engines
        // in the last ulp once the total is large enough (first seen at
        // the 6M-row sf1 fixture) and can flip the half-cent rounding.
        .agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name,
      |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin))

  /** Left outer join preserving customers with zero orders. */
  val q05 = Q(
    "q05_left_join_customer_orders",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(P.moneySum(col("o_totalprice")), lit(0.0)).as("total_spend"))
        .orderBy("c_custkey")
    },
    Some(s"""SELECT c_custkey,
      |  count(o_orderkey) AS n_orders,
      |  coalesce(${P.moneySumSql("o_totalprice")}, 0.0) AS total_spend
      |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin))

  /** Full outer join of two aggregates (per-nation customer vs
    * supplier counts) — exercises both null sides + coalesced key.
    */
  val q06 = Q(
    "q06_full_outer_nation_counts",
    (s, dir) => {
      val c = Tables.t(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_customers"))
      val sup = Tables.t(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_suppliers"))
      c.join(sup, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          col("n_customers"), col("n_suppliers"))
        .orderBy("nationkey")
    },
    Some("""SELECT coalesce(c.ck, s.sk) AS nationkey, n_customers, n_suppliers
      |FROM (SELECT c_nationkey AS ck, count(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL OUTER JOIN
      |     (SELECT s_nationkey AS sk, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |ON c.ck = s.sk
      |ORDER BY nationkey""".stripMargin))

  /** Left semi join (EXISTS): parts that appear in lineitem. */
  val q07 = Q(
    "q07_semi_join_parts_sold",
    (s, dir) => {
      Tables.t(s, dir, "part")
        .join(Tables.t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, count(*) AS n_parts
      |FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin))

  /** Left anti join (NOT EXISTS): customers with no orders. */
  val q08 = Q(
    "q08_anti_join_idle_customers",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_idle"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, count(*) AS n_idle
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin))

  /** Cross join (tiny × tiny only — a deliberate BNLJ). */
  val q09 = Q(
    "q09_cross_join_regions",
    (s, dir) => {
      val r1 = Tables.t(s, dir, "region").select(col("r_name").as("r1"))
      val r2 = Tables.t(s, dir, "region").select(col("r_name").as("r2"))
      r1.crossJoin(r2).orderBy("r1", "r2")
    },
    Some("""SELECT a.r_name AS r1, b.r_name AS r2
      |FROM region a CROSS JOIN region b
      |ORDER BY r1, r2""".stripMargin))

  /** Theta / non-equi self join: nation pairs within a region. */
  val q10 = Q(
    "q10_nonequi_nation_pairs",
    (s, dir) => {
      val n1 = Tables.t(s, dir, "nation").select(
        col("n_nationkey").as("k1"), col("n_regionkey").as("rk1"))
      val n2 = Tables.t(s, dir, "nation").select(
        col("n_nationkey").as("k2"), col("n_regionkey").as("rk2"))
      n1.join(n2, col("rk1") === col("rk2") && col("k1") < col("k2"))
        .groupBy(col("rk1").as("regionkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("regionkey")
    },
    Some("""SELECT n1.n_regionkey AS regionkey, count(*) AS n_pairs
      |FROM nation n1 JOIN nation n2
      |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin))

  /** Interval/range join: equi key + date-range residual condition. */
  val q11 = Q(
    "q11_range_join_ship_lag",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .join(
          Tables.t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        // decimal accumulation, same reason as q04: the raw double sum
        // is fold-order-dependent at sf1 row counts
        .agg(
          count(lit(1)).as("n_lines"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
        .orderBy("yr")
    },
    Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  count(*) AS n_lines,
      |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |GROUP BY 1
      |ORDER BY 1""".stripMargin))

  /** Set operations: UNION (distinct), INTERSECT, EXCEPT, tagged and
    * stacked with UNION ALL.
    */
  val q12 = Q(
    "q12_set_operations",
    (s, dir) => {
      val c = Tables.t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sup = Tables.t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      val u = c.union(sup).distinct().withColumn("op", lit("union"))
      val i = c.intersect(sup).withColumn("op", lit("intersect"))
      val e = c.except(sup).withColumn("op", lit("except"))
      u.unionAll(i).unionAll(e).select("op", "k").orderBy("op", "k")
    },
    Some("""SELECT 'union' AS op, k FROM
      |  (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'intersect' AS op, k FROM
      |  (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'except' AS op, k FROM
      |  (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
      |ORDER BY op, k""".stripMargin))

  val all: Vector[Q] =
    Vector(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12)
}
