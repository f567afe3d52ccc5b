package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable => P}
import graft.stats.SchemaPreview
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 — grouped aggregation, enhanced aggregates
  * (ROLLUP/CUBE/GROUPING SETS), HAVING, distinct aggregates,
  * collect_set, percentiles, and the schema-preview column stats.
  */
object Aggregates {

  /** ROLLUP with grouping id. Catalyst plans this as Expand + one
    * hash aggregate — the rollup does NOT rescan the input.
    */
  val q13 = Q(
    "q13_rollup_orders",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
        .rollup(col("yr"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          P.moneySum(col("o_totalprice")).as("total"),
          grouping_id().cast("int").as("gid"))
        .orderBy("gid", "yr", "o_orderpriority")
    },
    Some(s"""SELECT yr, o_orderpriority, count(*) AS n,
      |  ${P.moneySumSql("o_totalprice")} AS total,
      |  CAST(2 * GROUPING(yr) + GROUPING(o_orderpriority) AS INTEGER) AS gid
      |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority, o_totalprice
      |      FROM orders)
      |GROUP BY ROLLUP(yr, o_orderpriority)
      |ORDER BY gid, yr NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  /** CUBE over two categorical dimensions. */
  val q14 = Q(
    "q14_cube_orders",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          P.moneyAvg(col("o_totalprice")).as("avg_price"),
          grouping_id().cast("int").as("gid"))
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    },
    Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  ${P.moneyAvgSql("o_totalprice")} AS avg_price,
      |  CAST(2 * GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS INTEGER) AS gid
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin))

  /** GROUPING SETS via SQL (Spark SQL and DuckDB share the syntax). */
  val q15 = Q(
    "q15_grouping_sets_customer",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_mktsegment, c_nationkey, count(*) AS n,
        |  CAST(grouping_id() AS INT) AS gid
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY gid, c_mktsegment, c_nationkey""".stripMargin)
    },
    Some("""SELECT c_mktsegment, c_nationkey, count(*) AS n,
      |  CAST(2 * GROUPING(c_mktsegment) + GROUPING(c_nationkey) AS INTEGER) AS gid
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY gid, c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin))

  /** COUNT(DISTINCT x), multiple distinct aggregates in one group —
    * Catalyst expands to a multi-phase aggregate automatically.
    */
  val q16 = Q(
    "q16_distinct_aggregates",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      |  count(DISTINCT l_suppkey) AS n_supp,
      |  count(DISTINCT l_partkey) AS n_part,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin))

  /** HAVING with a scalar subquery threshold (scale-invariant:
    * brands holding more than 1/30th of all parts).
    */
  val q17 = Q(
    "q17_having_brand_share",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT p_brand, count(*) AS n
        |FROM part
        |GROUP BY p_brand
        |HAVING count(*) * 30 > (SELECT count(*) FROM part)
        |ORDER BY p_brand""".stripMargin)
    },
    Some("""SELECT p_brand, count(*) AS n
      |FROM part
      |GROUP BY p_brand
      |HAVING count(*) * 30 > (SELECT count(*) FROM part)
      |ORDER BY p_brand""".stripMargin))

  /** collect_set rendered deterministically (sorted, joined) — the
    * portable face of Hive's collect_set/collect_list builtins.
    */
  val q18 = Q(
    "q18_collect_set_segments",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(
          array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"),
          size(collect_set(col("c_mktsegment"))).as("n_segments"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey,
      |  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
      |  CAST(count(DISTINCT c_mktsegment) AS INTEGER) AS n_segments
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin))

  /** Exact percentiles (linear interpolation in both engines).
    * At 100 TB you'd usually reach for percentile_approx; the exact
    * form stays in the oracle-checked set because approx sketches are
    * engine-specific — and it stays SCALABLE by reducing to a
    * (value, freq) histogram first: l_quantity has ≤50 distinct
    * values, so the frequency-weighted percentile buffers 50 rows
    * per group instead of every group member (the q125 pattern —
    * exact percentiles over low-cardinality domains never need a
    * data-proportional buffer).
    */
  val q19 = Q(
    "q19_percentiles_quantity",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("f"))
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5, f)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9, f)"), 4).as("p90"),
          round(expr("percentile(l_quantity, 0.99, f)"), 4).as("p99"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
      |  round(quantile_cont(l_quantity, 0.9), 4) AS p90,
      |  round(quantile_cont(l_quantity, 0.99), 4) AS p99
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin))

  private val statCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Schema-preview column stats (reference csv_processor.py:147-170)
    * as one single-pass aggregate — see [[graft.stats.SchemaPreview]].
    */
  val q20 = Q(
    "q20_column_stats_lineitem",
    (s, dir) => SchemaPreview.columnStats(Tables.t(s, dir, "lineitem"), statCols),
    Some(SchemaPreview.columnStatsSql("lineitem", statCols)))

  /** Ordered string aggregation (Hive collect_list + concat_ws ≡ SQL
    * LISTAGG/string_agg): group members rendered as one deterministic
    * sorted string.
    */
  val q96b = Q(
    "q98_group_concat",
    (s, dir) => {
      Tables.t(s, dir, "nation")
        .join(Tables.t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  count(*) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin))

  val all: Vector[Q] = Vector(q13, q14, q15, q16, q17, q18, q19, q20, q96b)
}
