package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable => P}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Second relational batch: JSON→struct parsing, PIVOT, correlated
  * subqueries (Catalyst decorrelates to joins), and the HiveQL
  * LATERAL VIEW explode idiom.
  */
object Relational2 {

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

  /** nth_value over a full frame + first/last in one window. */
  val q69 = Q(
    "q69_window_nth_value",
    (s, dir) => {
      val w = Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
        .withColumn("top1_bal", first(col("c_acctbal")).over(w))
        .withColumn("top2_bal", nth_value(col("c_acctbal"), 2).over(w))
        .withColumn("bottom_bal", last(col("c_acctbal")).over(w))
        .filter(col("c_custkey") <= 200)
        .orderBy("c_mktsegment", "c_custkey")
    },
    Some("""SELECT c_mktsegment, c_custkey, c_acctbal,
      |  first_value(c_acctbal) OVER w AS top1_bal,
      |  nth_value(c_acctbal, 2) OVER w AS top2_bal,
      |  last_value(c_acctbal) OVER w AS bottom_bal
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |  ORDER BY c_acctbal DESC, c_custkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |QUALIFY c_custkey <= 200
      |ORDER BY c_mktsegment, c_custkey""".stripMargin))

  val all: Vector[Q] = Vector(q62, q63, q64, q65, q68, q69)
}
