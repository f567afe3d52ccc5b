package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins

/** Distributed order-statistics helpers.
  *
  * A global cumulative sum is the textbook single-partition-window
  * trap: `Window.orderBy(k)` with no partition key funnels the whole
  * table through ONE task. The scalable form is three steps —
  * order-preserving bucketing, per-bucket totals → exclusive prefix
  * offsets (one tiny driver round-trip: #buckets rows), then a
  * within-bucket running sum plus the bucket's offset.
  */
object Dist {

  /** Global (total-order) cumulative sum without a single-partition
    * window.
    *
    * `hk` must be a uniformly distributed long in [0, 2⁶⁰) — e.g.
    * [[Portable.md5Long]] — which makes the bucketing DETERMINISTIC
    * (pure arithmetic on the key): no `repartitionByRange` sampling,
    * so the offsets job and the final job see identical bucket
    * assignments without caching, and re-running on any cluster
    * layout yields identical sums. Bucket boundaries follow hash
    * order, so (bucket, hk, ties…) ordering ≡ global (hk, ties…)
    * ordering and the result equals the naive global window.
    *
    * Cost: one aggregate job over #buckets rows, then one shuffle by
    * bucket for the windowed pass. Parallelism = `buckets` — size it
    * ~#cores at test scale, ~#cores×k on a cluster.
    *
    * @param value long column to accumulate
    * @param ties  extra columns making the order total (e.g. a key)
    * @param out   name of the inclusive-cumsum output column
    */
  def globalCumsum(
      df: DataFrame,
      hk: String,
      ties: Seq[String],
      value: String,
      out: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1)
    val width = math.max(1L, (1L << 60) / buckets)
    val bucketed = df.withColumn("__bkt",
      least(floor(col(hk) / width), lit(buckets - 1L)).cast("int"))
    val totals = bucketed.groupBy("__bkt")
      .agg(sum(col(value)).as("__bsum"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _))
      .toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__bkt2", "__off"))
    val w = Window.partitionBy("__bkt")
      .orderBy((col(hk) +: ties.map(col)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(offDf, col("__bkt") === col("__bkt2"))
      .withColumn(out, col("__off") + sum(col(value)).over(w))
      .drop("__bkt", "__bkt2", "__off")
  }

  /** Global cumulative sums of one or more LONG count columns over an
    * arbitrary total order, without a single-partition window.
    *
    * Same range-bucketing recipe as [[globalRank]]: `repartitionByRange`
    * on the order columns (sampled boundaries pinned by an eager
    * localCheckpoint so the totals job and the windowed pass see the
    * same draw), per-bucket column totals → exclusive prefix offsets
    * (one #buckets-row driver round-trip), then a within-bucket running
    * sum plus the bucket offset. Each value column `v` gains an
    * inclusive-cumsum output column `v_cum`.
    *
    * `order` should be unique per row (pre-aggregate to distinct keys
    * first): equal keys land in one bucket so boundary sums are exact,
    * but the running sum among tied rows follows an arbitrary order.
    */
  def globalCumsumBy(
      df: DataFrame,
      order: Seq[Column],
      values: Seq[String],
      buckets: Int): DataFrame = {
    require(buckets >= 1 && values.nonEmpty)
    val ranged = Pins.pin(df.repartitionByRange(buckets, order: _*)
      .withColumn("__pid", spark_partition_id()))
    // coalesce: a bucket whose values are all NULL sums to NULL and
    // would NPE the driver-side getLong below
    val aggs = values.map(v => coalesce(sum(col(v)), lit(0L)).as(v))
    val perBucket = ranged.groupBy("__pid")
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> values.indices.map(i => r.getLong(i + 1)).toIndexedSeq)
      .sortBy(_._1)
    val prefixes = perBucket.map(_._2)
      .scanLeft(IndexedSeq.fill(values.size)(0L)) { (acc, cur) =>
        acc.zip(cur).map { case (a, b) => a + b }
      }
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid2",
        org.apache.spark.sql.types.IntegerType) +:
        values.map(v => org.apache.spark.sql.types.StructField(
          s"__off_$v", org.apache.spark.sql.types.LongType)))
    val offRows = perBucket.map(_._1).zip(prefixes).map { case (pid, offs) =>
      org.apache.spark.sql.Row.fromSeq(pid +: offs)
    }
    val offDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(offRows: _*), schema))
    val w = Window.partitionBy("__pid")
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    values.foldLeft(ranged.join(offDf, col("__pid") === col("__pid2"))) {
      (d, v) => d.withColumn(s"${v}_cum", col(s"__off_$v") + sum(col(v)).over(w))
    }.drop("__pid" +: "__pid2" +: values.map(v => s"__off_$v"): _*)
  }

  /** Global ORDER BY rank (dense total order, ties broken by the
    * order columns themselves) without a single-partition window.
    *
    * Unlike [[globalCumsum]] the order key here is arbitrary (e.g.
    * revenue DESC), so buckets come from `repartitionByRange` —
    * whose boundaries are SAMPLED. The ranged frame is eagerly
    * localCheckpoint'ed so the per-bucket counts job and the final
    * windowed pass see the *same* boundary draw (without the pin the
    * two jobs could re-sample different boundaries and the offsets
    * would be wrong). Result = per-bucket row_number plus the
    * exclusive prefix of bucket counts (one #buckets-row driver
    * round-trip), identical to the naive global window.
    *
    * @param order total-order columns (include a tiebreaker key)
    * @param out   name of the 1-based rank output column (long)
    */
  def globalRank(
      df: DataFrame,
      order: Seq[Column],
      out: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1)
    val ranged = Pins.pin(df.repartitionByRange(buckets, order: _*)
      .withColumn("__pid", org.apache.spark.sql.functions.spark_partition_id()))
    val counts = ranged.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
      .toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toDF("__pid2", "__off"))
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    ranged.join(offDf, col("__pid") === col("__pid2"))
      .withColumn(out, col("__off") + row_number().over(w).cast("long"))
      .drop("__pid", "__pid2", "__off")
  }
}
