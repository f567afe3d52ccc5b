package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.5 (window functions) + §2.6 (sorts/limits/top-k).
  *
  * Every window has a total tiebreaker in its ORDER BY so ranks and
  * frame contents are deterministic (oracle requirement). Global
  * top-k deliberately goes through orderBy(...).limit(k) so Catalyst
  * plans TakeOrderedAndProject — no full sort at scale.
  */
object Analytics {

  /** Ranking trio per group, top-3 rows kept. */
  val q21 = Q(
    "q21_window_rank_top_customers",
    (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .filter(col("rn") <= 3)
        .orderBy("c_nationkey", "rn")
    },
    Some("""SELECT c_nationkey, c_custkey, c_acctbal,
      |  CAST(rn AS INTEGER) AS rn, CAST(rnk AS INTEGER) AS rnk,
      |  CAST(drnk AS INTEGER) AS drnk
      |FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER w AS rn, rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
      |WHERE rn <= 3
      |ORDER BY c_nationkey, rn""".stripMargin))

  /** lag / lead / first_value + day gaps between consecutive orders. */
  val q22 = Q(
    "q22_window_lag_order_gaps",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("prev_price", lag("o_totalprice", 1).over(w))
        .withColumn("next_price", lead("o_totalprice", 1).over(w))
        .withColumn("first_price", first("o_totalprice").over(w))
        .withColumn("gap_days", datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w)))
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("prev_price"), col("next_price"), col("first_price"), col("gap_days"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  CAST(date_diff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS INTEGER) AS gap_days
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** ROWS frames: running total + 3-row moving average per supplier. */
  val q23 = Q(
    "q23_window_frames_running",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 20)
        .withColumn("running_qty",
          sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("avg3",
          round(avg("l_quantity").over(w.rowsBetween(-2, 0)), 6))
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
          col("l_quantity"), col("running_qty"), col("avg3"))
        .orderBy("l_suppkey", "ship_day", "l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
      |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day, l_quantity,
      |  sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
      |  round(avg(l_quantity) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3
      |FROM lineitem
      |WHERE l_suppkey <= 20
      |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, ship_day, l_orderkey, l_linenumber""".stripMargin))

  /** RANGE frame over a numeric ordering: count of orders priced
    * within $1000 below each order, per status.
    */
  val q24 = Q(
    "q24_window_range_frame",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("price_floor"))
        .rangeBetween(-1000L, 0L)
      Tables.t(s, dir, "orders")
        .withColumn("price_floor", floor(col("o_totalprice")))
        .withColumn("n_similar", count(lit(1)).over(w))
        .select(col("o_orderkey"), col("o_orderstatus"), col("price_floor"), col("n_similar"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus, price_floor, count(*) OVER (
      |    PARTITION BY o_orderstatus ORDER BY price_floor
      |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_similar
      |FROM (SELECT o_orderkey, o_orderstatus,
      |        CAST(floor(o_totalprice) AS BIGINT) AS price_floor FROM orders)
      |ORDER BY o_orderkey""".stripMargin))

  /** Global top-k — plans as TakeOrderedAndProject (no full sort). */
  val q25 = Q(
    "q25_topk_orders",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20""".stripMargin))

  /** Per-group top-k via row_number — the scalable pattern (single
    * shuffle on the group key, no global sort).
    */
  val q26 = Q(
    "q26_topk_parts_per_brand",
    (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.t(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .orderBy("p_brand", "rn")
    },
    Some("""SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS INTEGER) AS rn
      |FROM (SELECT p_brand, p_partkey, p_retailprice,
      |        row_number() OVER (PARTITION BY p_brand
      |          ORDER BY p_retailprice DESC, p_partkey) AS rn
      |      FROM part)
      |WHERE rn <= 2
      |ORDER BY p_brand, rn""".stripMargin))

  /** ntile / percent_rank / cume_dist distribution functions. */
  val q27 = Q(
    "q27_window_distribution",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin))

  /** Per-group top-k WITH ties: rank() keeps every part tied at the
    * boundary price (vs q26's row_number, which arbitrarily-but-
    * deterministically cuts ties) — SQL's two top-k semantics side by
    * side.
    */
  val q93 = Q(
    "q93_topk_with_ties",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.t(s, dir, "part")
        .withColumn("rk", rank().over(
          Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc)))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("p_name"),
          round(col("p_retailprice"), 2).as("price"), col("rk"))
        .orderBy("p_brand", "rk", "p_name")
    },
    Some("""SELECT p_brand, p_name, round(p_retailprice, 2) AS price,
      |  CAST(rk AS INTEGER) AS rk
      |FROM (
      |  SELECT p_brand, p_name, p_retailprice,
      |    rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rk
      |  FROM part)
      |WHERE rk <= 3
      |ORDER BY p_brand, rk, p_name""".stripMargin))

  val all: Vector[Q] = Vector(q21, q22, q23, q24, q25, q26, q27, q93)
}
