package graft.graph

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The basket graph over `lineitem`: an order is a basket, its parts
  * are the items, and two parts are linked once per order that holds
  * both. The association, co-purchase and part-graph queries build on
  * these frames.
  */
object Baskets {

  /** Distinct basket items `(o, p)` = (order key, part key).
    * Repartitioned by `o` BEFORE the distinct: HashPartitioning(o)
    * satisfies the distinct's (o, p) grouping (subset rule) AND the
    * within-order self-join, so one exchange serves both; the naive
    * distinct partitions by (o, p), which the join cannot reuse. The
    * partitioning survives a pin (LogicalRDD keeps
    * outputPartitioning). The explicit cluster-derived count keeps
    * the CPU-dense pair expansion at session parallelism instead of
    * an AQE byte-coalesced handful of tasks. Per-order line counts are
    * tiny and uniform, so o-only partitioning carries no skew risk.
    */
  def items(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(s.sparkContext.defaultParallelism, col("o"))
      .distinct()

  /** Within-order item pairs of `items(o, p, …)`: sides aliased `a`
    * and `b`, one row per order holding both parts, `a.p < b.p`.
    */
  def pairs(items: DataFrame): DataFrame =
    items.alias("a")
      .join(items.alias("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))

  /** Orders per part pair, `(a, b, n)` with `a < b`: the self-join
    * projects the right side to (o2, p2) instead of aliasing it.
    */
  def pairCounts(items: DataFrame, a: String, b: String, n: String): DataFrame =
    items.join(items.select(col("o").as("o2"), col("p").as("p2")),
        col("o") === col("o2") && col("p") < col("p2"))
      .groupBy(col("p").as(a), col("p2").as(b))
      .agg(count(lit(1)).as(n))
}
