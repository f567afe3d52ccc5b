package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IvmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("q267: merged top-k view equals the from-scratch top-k") {
    val got = queries.Events.q267.fn(spark, sf()).collect()
    // from-scratch recompute over ALL orders, same tie order
    val full = Tables.t(spark, sf(), "orders")
      .select(col("o_orderpriority").as("pr"), col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long").as("cts"),
        (col("o_orderdate") >= to_date(lit("1997-07-01"))).as("from_delta"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pr").orderBy(col("cts").desc, col("o_orderkey"))))
      .filter(col("rn") <= 5)
      .select(col("pr").as("o_orderpriority"), col("rn"),
        col("o_orderkey"), col("cts"), col("from_delta"))
      .orderBy("o_orderpriority", "rn")
      .collect()
    assert(got.toSeq == full.toSeq)
    // the merge is live: rows from BOTH halves survive on the fixtures
    val halves = got.map(_.getBoolean(4)).toSet
    assert(halves == Set(true, false),
      s"expected both halves in the merged top-k, saw $halves")
  }

  test("q269: incremental sessions equal full resessionization") {
    val got = queries.Events.q269.fn(spark, sf()).collect()
    // from-scratch: sessionize ALL events, ignore the snapshot split
    val wo = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val ev = Tables.t(spark, sf(), "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
    val full = ev
      .withColumn("nf", when(lag("us", 1).over(wo).isNull ||
        col("us") - lag("us", 1).over(wo) > 21600000000L, 1).otherwise(0))
      .withColumn("sid", sum("nf").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("us").as("s_start"), max("us").as("s_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "s_start", "s_end", "n_events")
      .orderBy("user_id", "s_start")
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == full.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq)
  }

  test("mergeSessions: a late point BRIDGES two stored sessions") {
    val gap = 100L
    val stored = Seq(
      (1L, 0L, 50L, 3L),     // session A
      (1L, 200L, 260L, 2L),  // session B: 150 > gap from A
      (2L, 0L, 10L, 1L)      // untouched user
    ).toDF("user_id", "s_start", "s_end", "n_events")
    val late = Seq((1L, 130L, 130L, 1L)) // within gap of BOTH hulls
      .toDF("user_id", "s_start", "s_end", "n_events")
    val merged = queries.Events.mergeSessions(stored, late, gap)
      .orderBy("user_id", "s_start").collect()
    // user 1 collapses to ONE session spanning both + the point
    assert(merged.length == 1) // mergeSessions returns affected users only
    assert(merged(0).getLong(0) == 1L)
    assert(merged(0).getLong(1) == 0L && merged(0).getLong(2) == 260L)
    assert(merged(0).getLong(3) == 6L) // 3 + 2 + 1 compose by addition
  }

  test("mergeSessions: extend / new-session cases and affected-only scope") {
    val gap = 100L
    val stored = Seq((1L, 0L, 50L, 2L), (3L, 0L, 10L, 1L))
      .toDF("user_id", "s_start", "s_end", "n_events")
    val late = Seq(
      (1L, 120L, 120L, 1L),  // extends session A (70 <= gap)
      (1L, 500L, 500L, 1L),  // opens a NEW session (380 > gap)
      (4L, 7L, 7L, 1L)       // brand-new user
    ).toDF("user_id", "s_start", "s_end", "n_events")
    val got = queries.Events.mergeSessions(stored, late, gap)
      .orderBy("user_id", "s_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 120L, 3L), (1L, 500L, 500L, 1L), (4L, 7L, 7L, 1L)))
    // user 3 (no late events) is NOT in the merge output — the
    // refresh never touches unaffected stored state
    assert(!got.exists(_._1 == 3L))
  }
}
