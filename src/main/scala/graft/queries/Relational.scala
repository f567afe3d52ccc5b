package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import graft.functions.{Portable => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Relational SQL (SURVEY.md §2.2 filters and predicates, §2.3 joins,
  * §2.7 set operations): every join type including range, interval
  * and Bloom-prescreened joins, subqueries, PIVOT/UNPIVOT, LATERAL VIEW,
  * MERGE INTO, SCD-1 snapshots and SCD-2 history, schema-evolving
  * unions, the SQL-text surface, and entity
  * resolution over the customer table.
  */
object Relational {

  /* SURVEY.md §2.2 (filters/predicates), §2.3 (joins), §2.7 (set ops).
    *
    * The reference delegates this entire surface to HiveQL on
    * HiveServer2 (reference backend/hive_manager.py:24-29); here each
    * shape is the idiomatic DataFrame form and Catalyst picks the
    * physical join (broadcast hints on the dimension tables keep the
    * star-schema joins shuffle-free on the fact side at scale).
    */

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

  /** from_json with an explicit schema → typed struct access (the
    * schema-on-read path for events.props at scale; get_json_object
    * re-parses per extraction, from_json parses once).
    */
  val q62 = Q(
    "q62_from_json_struct",
    (s, dir) => {
      val schema = StructType(Seq(StructField("k", IntegerType)))
      // avg_value is fold-order-free (Portable.moneyAvg: exact decimal
      // sum, one double division), so unlike the historical double-avg
      // form it no longer needs scan-order parity with the oracle.
      Tables.events(s, dir)
        .withColumn("j", from_json(col("props"), schema))
        .filter(col("j.k").isNotNull && col("j.k") % 10 === 0)
        .groupBy((col("j.k") / 10).cast("int").as("k_decile"))
        .agg(count(lit(1)).as("n"), P.moneyAvg(col("value")).as("avg_value"))
        .orderBy("k_decile")
    },
    Some(s"""SELECT CAST(k / 10 AS INTEGER) AS k_decile,
      |  count(*) AS n, ${P.moneyAvgSql("value")} AS avg_value
      |FROM (SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k, value
      |      FROM events)
      |WHERE k IS NOT NULL AND k % 10 = 0
      |GROUP BY 1
      |ORDER BY k_decile""".stripMargin))

  /** PIVOT with an explicit value list (deterministic columns);
    * the oracle is the equivalent conditional aggregation.
    */
  val q63 = Q(
    "q63_pivot_status",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .groupBy("yr")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(P.moneySum(col("o_totalprice")))
        .orderBy("yr")
    },
    Some(s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  ${P.moneySumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O,
      |  ${P.moneySumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F,
      |  ${P.moneySumSql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P
      |FROM orders
      |GROUP BY 1
      |ORDER BY yr""".stripMargin))

  /** Correlated scalar subquery: customers above their nation's mean
    * balance. Catalyst decorrelates this into an aggregate + join
    * (RewritePredicateSubquery / decorrelation framework) — no
    * per-row re-execution.
    */
  val q64 = Q(
    "q64_correlated_subquery",
    (s, dir) =>
      // avg_above sums in decimal (exact, fold-order-free) and divides
      // once, with NO rounding: sum(2-dp values)/count lands exactly on
      // half-boundaries (e.g. S/320 terminates in …5 at the 5th
      // decimal), where Spark's BigDecimal HALF_UP and the oracle's
      // scaled-multiply rounding disagree; the unrounded quotient is
      // the same IEEE double in both engines.
      Tables.sql(s, dir, """SELECT c_nationkey, count(*) AS n_above,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |        / count(*) AS avg_above
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin),
    Some("""SELECT c_nationkey, count(*) AS n_above,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |        / count(*) AS avg_above
      |FROM customer c
      |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin))

  /** HiveQL LATERAL VIEW explode — the Hive idiom for table
    * generators, run through Spark SQL verbatim.
    */
  val q65 = Q(
    "q65_lateral_view_explode",
    (s, dir) =>
      Tables.sql(s, dir, """SELECT tok, count(*) AS n, count(DISTINCT lang) AS n_langs
        |FROM documents
        |LATERAL VIEW explode(split(text, ' ')) t AS tok
        |WHERE tok != ''
        |GROUP BY tok
        |ORDER BY tok""".stripMargin),
    Some("""SELECT tok, count(*) AS n, count(DISTINCT lang) AS n_langs
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE tok != ''
      |GROUP BY tok
      |ORDER BY tok""".stripMargin))

  /** Multiset set operations (INTERSECT ALL / EXCEPT ALL) over order
    * years per priority class — duplicates preserved, so the result
    * is a bag difference/intersection, not a set one.
    */
  val q68 = Q(
    "q68_setops_all",
    (s, dir) => {
      val o = Tables.t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(year(col("o_orderdate")).as("yr"))
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(year(col("o_orderdate")).as("yr"))
      val i = urgent.intersectAll(high).withColumn("op", lit("intersect_all"))
      val e = urgent.exceptAll(high).withColumn("op", lit("except_all"))
      i.unionAll(e)
        .groupBy("op", "yr").agg(count(lit(1)).as("n"))
        .orderBy("op", "yr")
    },
    Some("""SELECT op, yr, count(*) AS n FROM (
      |  SELECT 'intersect_all' AS op, yr FROM (
      |    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders
      |    WHERE o_orderpriority = '1-URGENT'
      |    INTERSECT ALL
      |    SELECT CAST(year(o_orderdate) AS INTEGER) FROM orders
      |    WHERE o_orderpriority = '2-HIGH')
      |  UNION ALL
      |  SELECT 'except_all' AS op, yr FROM (
      |    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders
      |    WHERE o_orderpriority = '1-URGENT'
      |    EXCEPT ALL
      |    SELECT CAST(year(o_orderdate) AS INTEGER) FROM orders
      |    WHERE o_orderpriority = '2-HIGH'))
      |GROUP BY op, yr
      |ORDER BY op, yr""".stripMargin))

  /** Calendar-spine report: one row per day of 1995-03 including
    * order-free days — a generated dimension (sequence + explode)
    * left-joined to the fact rollup. The spine is generated, not
    * scanned: at 100 TB the fact side prunes to the month partition
    * while the 31-row spine is a broadcast.
    */
  val q71 = Q(
    "q71_date_spine",
    (s, dir) => {
      val spine = s.range(1).select(explode(expr(
        "sequence(to_date('1995-03-01'), to_date('1995-03-31'), interval 1 day)")).as("d"))
      val per = Tables.t(s, dir, "orders")
        .withColumn("d", to_date(col("o_orderdate")))
        .filter(col("d").between("1995-03-01", "1995-03-31"))
        .groupBy("d")
        .agg(count(lit(1)).as("n"), P.moneySum(col("o_totalprice")).as("rev"))
      spine.join(per, Seq("d"), "left_outer")
        .select(
          col("d"),
          coalesce(col("n"), lit(0L)).as("n_orders"),
          coalesce(col("rev"), lit(0.0)).as("revenue"))
        .orderBy("d")
    },
    Some(s"""WITH spine AS (
      |  SELECT CAST(unnest(generate_series(
      |    DATE '1995-03-01', DATE '1995-03-31', INTERVAL 1 DAY)) AS DATE) AS d),
      |per AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n,
      |    ${P.moneySumSql("o_totalprice")} AS rev
      |  FROM orders
      |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
      |  GROUP BY 1)
      |SELECT spine.d, COALESCE(n, 0) AS n_orders,
      |  COALESCE(rev, 0.0) AS revenue
      |FROM spine LEFT OUTER JOIN per ON spine.d = per.d
      |ORDER BY spine.d""".stripMargin))

  /** UNPIVOT — the dual of q63's PIVOT: wide metric columns melt into
    * (metric, value) rows. Planned as a single Expand projection (no
    * shuffle, no join), which is why melt scales linearly.
    */
  val q82 = Q(
    "q82_unpivot_part_metrics",
    (s, dir) => {
      Tables.t(s, dir, "part")
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("double").as("p_size"))
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size")),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    },
    Some("""SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
      |FROM part WHERE p_partkey <= 500
      |UNION ALL
      |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE)
      |FROM part WHERE p_partkey <= 500
      |ORDER BY p_partkey, metric""".stripMargin))

  /** TPC-H Q21-shaped "waiting suppliers": suppliers with a SLOW line
    * (shipped >90 days after order date) on a multi-supplier order
    * where NO other supplier was slow. The EXISTS / NOT EXISTS pair
    * (the oracle's form) is algebraized into per-order counts instead
    * of self-joins: a qualifying pair is a slow supplier on an order
    * with ≥2 distinct suppliers and exactly 1 distinct SLOW supplier.
    * One (orderkey, suppkey) aggregate + one orderkey-partitioned
    * window replaces the distinct + semi-join + anti-join fan —
    * 2 shuffles instead of 4+ and no 600k×600k join sides, the shape
    * that survives a 100× fact scale-up. Supplier dim broadcasts.
    */
  val q86 = Q(
    "q86_waiting_suppliers",
    (s, dir) => {
      val per = Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (to_date(col("l_shipdate")) > date_add(to_date(col("o_orderdate")), 90))
            .as("slow"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("slow")).as("slow"))
      val w = Window.partitionBy("l_orderkey")
      per
        .withColumn("nsupp", count(lit(1)).over(w))
        .withColumn("nslow", sum(when(col("slow"), 1).otherwise(0)).over(w))
        .filter(col("slow") && col("nsupp") >= 2 && col("nslow") === 1)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
    Some("""WITH l AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90 AS slow
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |slow AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE slow)
      |SELECT s_name, count(*) AS numwait
      |FROM slow s1 JOIN supplier ON l_suppkey = s_suppkey
      |WHERE EXISTS (
      |    SELECT 1 FROM l WHERE l.l_orderkey = s1.l_orderkey
      |      AND l.l_suppkey <> s1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM slow s2 WHERE s2.l_orderkey = s1.l_orderkey
      |      AND s2.l_suppkey <> s1.l_suppkey)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 10""".stripMargin))

  /** LIMIT/OFFSET pagination (reference P2 row slicing). */
  val q61 = Q(
    "q61_limit_offset",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .offset(100)
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 25 OFFSET 100""".stripMargin))

  /** Schema-evolution merge: two ingestion batches with drifted
    * schemas union by COLUMN NAME, null-filling what either side
    * lacks (unionByName(allowMissingColumns)) — the operation an
    * append-only warehouse needs every time a feed adds a column.
    */
  val q84 = Q(
    "q84_union_schema_evolution",
    (s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val batchA = d.filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val batchB = d.filter(col("lang") === "de")
        .select(col("doc_id"), col("lang"), col("source"))
      batchA.unionByName(batchB, allowMissingColumns = true)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
      |FROM documents WHERE lang = 'en'
      |UNION ALL
      |SELECT doc_id, lang, CAST(NULL AS BIGINT), source
      |FROM documents WHERE lang = 'de'
      |ORDER BY doc_id""".stripMargin))

  /** Latest-record snapshot (SCD-1 compaction): the append-only event
    * log collapses to current state per entity — newest event wins,
    * version count retained. The upsert-free form of MERGE a parquet
    * warehouse runs as periodic compaction.
    */
  val q88 = Q(
    "q88_latest_snapshot",
    (s, dir) => {
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)))
        .withColumn("n_versions", count(lit(1)).over(
          Window.partitionBy("user_id")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("last_type"),
          round(col("value"), 2).as("last_value"), col("n_versions"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, last_type, round(last_value, 2) AS last_value,
      |  n_versions
      |FROM (
      |  SELECT user_id, event_type AS last_type, value AS last_value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n_versions
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin))

  /** TPC-H Q9-style profit rollup: the 5-table snowflake join
    * (lineitem → part/supplier/nation + orders) grouped by supplier
    * nation × order year. Scale shape: the three dimensions are
    * broadcast (no shuffle), so the only shuffle is lineitem ⋈ orders
    * on orderkey followed by the 2-key aggregate — Catalyst orders
    * the broadcasts after the filter prunes part. At 100 TB the same
    * plan holds: dims stay broadcast-size, the fact join is AQE's
    * problem, and the aggregate is 25 nations × a few years wide.
    */
  val q110 = Q(
    "q110_profit_by_nation_year",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
      val ord = Tables.t(s, dir, "orders")
      li.join(broadcast(Tables.t(s, dir, "part").filter(col("p_size") <= 25)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        // exact DECIMAL arithmetic: the wide double sum straddles a
        // half-cent rounding boundary at sf0.01, so its fold order
        // (Spark partials vs DuckDB's scan order) flips the cent.
        // Prices/discounts are 2-decimal values — decimals make the
        // sum order-independent; cast back to double for the output.
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("profit"))
        .orderBy("nation", "o_year")
    },
    Some("""SELECT n_name AS nation,
      |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_size <= 25
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2
      |ORDER BY nation, o_year""".stripMargin))

  /** MERGE INTO semantics (Hive ACID `MERGE`, SURVEY §2 (D) surface)
    * as a full-outer combine: target = a stale customer snapshot
    * (every third customer missing), source = per-customer order
    * totals. WHEN MATCHED → update balance, WHEN NOT MATCHED BY
    * TARGET → insert, WHEN NOT MATCHED BY SOURCE → keep. One shuffle
    * on the merge key; at scale this is exactly how MERGE executes
    * (minus the transactional commit, which the storage layer owns).
    */
  val q111 = Q(
    "q111_merge_upsert",
    (s, dir) => {
      val target = Tables.t(s, dir, "customer")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("t_key"), col("c_acctbal").as("t_bal"))
      // s_delta in decimal: per-customer double sums flip the final
      // 2-dp rounding at scale; the later t_bal + s_delta addition is
      // a single op on identical doubles, so it stays deterministic
      val source = Tables.t(s, dir, "orders")
        .groupBy(col("o_custkey").as("s_key"))
        .agg(P.moneySum(col("o_totalprice")).as("s_delta"))
      target.join(source, col("t_key") === col("s_key"), "full_outer")
        .select(
          coalesce(col("t_key"), col("s_key")).as("custkey"),
          when(col("t_key").isNotNull && col("s_key").isNotNull, "update")
            .when(col("t_key").isNull, "insert")
            .otherwise("keep").as("action"),
          round(coalesce(col("t_bal"), lit(0.0)) + coalesce(col("s_delta"), lit(0.0)), 2)
            .as("balance"))
        .orderBy("custkey")
    },
    Some(s"""SELECT COALESCE(t_key, s_key) AS custkey,
      |  CASE WHEN t_key IS NOT NULL AND s_key IS NOT NULL THEN 'update'
      |       WHEN t_key IS NULL THEN 'insert'
      |       ELSE 'keep' END AS action,
      |  round(COALESCE(t_bal, 0.0) + COALESCE(s_delta, 0.0), 2) AS balance
      |FROM (SELECT c_custkey AS t_key, c_acctbal AS t_bal FROM customer
      |      WHERE c_custkey % 3 <> 0) t
      |FULL OUTER JOIN (SELECT o_custkey AS s_key,
      |                   ${P.moneySumSql("o_totalprice")} AS s_delta
      |                 FROM orders GROUP BY 1) s
      |  ON t_key = s_key
      |ORDER BY custkey""".stripMargin))

  /** SCD-2 history build: collapse each user's event stream into
    * type-change intervals with `valid_from`/`valid_to` (µs epochs)
    * and an `is_current` flag — change-point filter via lag, interval
    * close via lead. Two window passes over one user-partitioned
    * sort; at scale one shuffle on user_id serves both.
    */
  val q112 = Q(
    "q112_scd2_history",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("vf", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("vf"))
        .withColumn("prev", lag("event_type", 1).over(byUser))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead("vf", 1).over(byUser))
        .select(col("user_id"), col("event_type"), col("vf").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from")
    },
    Some("""WITH ev AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS vf,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |chg AS (
      |  SELECT user_id, event_type, event_id, vf,
      |    lead(vf) OVER (PARTITION BY user_id ORDER BY vf, event_id) AS valid_to
      |  FROM ev WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type, vf AS valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM chg
      |ORDER BY user_id, valid_from""".stripMargin))

  /** Bloom-filter join prescreen — the 100 TB semi-join pruning
    * pattern: build a Bloom filter over the small side's keys
    * (`DataFrameStatFunctions.bloomFilter`, a distributed aggregate),
    * broadcast the ~KB sketch, drop non-matching fact rows BEFORE the
    * shuffle, then run the exact semi-join to remove the ≤1% false
    * positives. Semantically identical to the plain semi-join (the
    * oracle), but at scale the shuffle moves ~10% of the fact table
    * instead of all of it. (Spark's runtime row-level filtering does
    * this automatically for some shapes; this is the explicit,
    * always-on form.)
    */
  val q113 = Q(
    "q113_bloom_join_prescreen",
    (s, dir) => {
      val hot = Tables.t(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .select("o_orderkey")
      val bloom = hot.stat.bloomFilter("o_orderkey", 20000L, 0.01)
      val bloomRef = s.sparkContext.broadcast(bloom)
      val might = udf((k: Long) => bloomRef.value.mightContainLong(k))
      Tables.t(s, dir, "lineitem")
        .filter(might(col("l_orderkey")))
        .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          P.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_returnflag")
    },
    Some(s"""SELECT l_returnflag, count(*) AS n,
      |  ${P.moneySumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin))

  /** Join-key skew report: the per-key row-count distribution of the
    * fact table's join key — key cardinality, max/avg rows per key,
    * p99, and the max/avg skew factor. This is the diagnosis that
    * decides between a plain shuffle join, AQE's skew split, and
    * `Skew.saltedJoin` BEFORE launching a 100 TB join; it runs as one
    * aggregate over one aggregate (key profile is never collected).
    *
    * The p99 goes through a HISTOGRAM of the per-key counts, not the
    * raw counts: `percentile(n, 0.99)` over one global group buffers
    * every key's count in a single aggregation buffer — 15M longs on
    * one reducer at the sf10 fixtures (measured 13× at 10× data), and
    * a straight driver-kill at 100 TB key cardinalities. Per-key
    * counts take few distinct VALUES, so reducing to (value, freq)
    * first and feeding Spark's frequency-weighted `percentile(n, p,
    * f)` is bit-identical and fully distributed; every other measure
    * is distributive over the same histogram (the integer sums are
    * exact, so avg as sum(n·f)/sum(f) reproduces avg(n)).
    */
  val q125 = Q(
    "q125_join_skew_report",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .groupBy("n").agg(count(lit(1)).as("f"))
        .agg(
          sum("f").as("n_keys"),
          max("n").as("max_rows"),
          round(sum(col("n") * col("f")) / sum("f"), 6).as("avg_rows"),
          round(expr("percentile(n, 0.99, f)"), 4).as("p99_rows"),
          round(max("n") / (sum(col("n") * col("f")) / sum("f")), 4)
            .as("skew_factor"))
    },
    Some("""WITH c AS (
      |  SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
      |SELECT count(*) AS n_keys,
      |  CAST(max(n) AS BIGINT) AS max_rows,
      |  round(avg(n), 6) AS avg_rows,
      |  round(quantile_cont(n, 0.99), 4) AS p99_rows,
      |  round(CAST(max(n) AS DOUBLE) / avg(n), 4) AS skew_factor
      |FROM c""".stripMargin))

  /* SQL semantics both engines must agree on: NOT IN null semantics
    * (the null-aware anti join), the HiveQL text surface (CTE + window +
    * multi-join issued as SQL text, the way the reference's users
    * actually query — PyHive sends SQL strings,
    * `backend/hive_manager.py:24-29`), and a bin-bucketed interval join
    * that turns an O(n·m) theta join into an equi-join.
    */

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

  val all: Vector[Q] =
    Vector(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q62,
      q63, q64, q65, q68, q71, q82, q86, q61, q84, q88, q110, q111, q112,
      q113, q125, q133, q134, q135, q140, q143, q147, q249)
}
