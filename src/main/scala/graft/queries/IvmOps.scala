package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental view maintenance, round 9: two NEW state shapes join
  * the family (q241 algebraic sums, q255 HLL distinct sketches, q260
  * holistic-median histograms, q262/q264 graph labels):
  *
  *   - q267 ORDERED state — a per-key top-k. Top-k under insert-only
  *     deltas is a bounded join-semilattice: union the stored top-k
  *     with the delta's own top-k and re-rank; the global top-k is
  *     always contained in that 2k-row union, so the refresh is EXACT
  *     (unlike the median, which only merges to a banded estimate)
  *     while the stored state stays k rows per key at any fact size.
  *
  *   - q269 SESSION state — gap-based sessions under LATE-ARRIVING
  *     deltas. A late event can extend a stored session, open a new
  *     one, or BRIDGE TWO stored sessions into one (the analogue of
  *     q262's component merge, on the timeline instead of a graph).
  *     Sessions are single-linkage islands on the line, so merging
  *     the stored sessions' hulls with the delta points under the
  *     same gap reproduces full resessionization exactly — counts
  *     compose by addition, bounds by min/max.
  *
  * Scale design: both refreshes touch Θ(delta + affected keys), never
  * Θ(fact). q267 merges 2k rows per key; q269 recomputes only users
  * that actually received a late event (semi join) and passes every
  * other stored session through verbatim — the stored artifacts are
  * read, not rebuilt. Oracles are full recomputes in DuckDB, so the
  * gate proves incremental == from-scratch.
  */
object IvmOps {

  /** Island-merge of session hulls + late points under `gapUs` —
    * the q269 refresh kernel, factored out so IvmOpsSpec can pin the
    * bridge / extend / new-session cases on synthetic state. Input
    * frames carry (user_id, s_start, s_end, n_events); output is the
    * re-merged session set for exactly the users present in `late`
    * (callers pass untouched users through verbatim).
    */
  private[graft] def mergeSessions(
      stored: org.apache.spark.sql.DataFrame,
      late: org.apache.spark.sql.DataFrame,
      gapUs: Long): org.apache.spark.sql.DataFrame = {
    val affected = late.select("user_id").distinct()
    val wi = Window.partitionBy("user_id").orderBy(col("s_start"), col("s_end"))
    stored.join(affected, Seq("user_id"), "left_semi")
      .unionByName(late)
      .withColumn("pmax", max("s_end").over(
        wi.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nf", when(col("pmax").isNull ||
        col("s_start") - col("pmax") > gapUs, 1).otherwise(0))
      .withColumn("sid", sum("nf").over(
        wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("s_start").as("s_start"), max("s_end").as("s_end"),
        sum("n_events").as("n_events"))
      .select("user_id", "s_start", "s_end", "n_events")
  }

  /** Top-k view maintenance: per order-priority top-5 orders by price.
    * Snapshot = orders before the mid-1997 cut (the stored view,
    * ranked once); delta = the rest (ranked alone). The refresh
    * re-ranks the ≤10-row union per key. All arithmetic in exact
    * integer cents ([[q260]]'s convention); ties break on order key
    * so both engines rank identically. `from_delta` attributes each
    * surviving row to the half that produced it.
    */
  val q267 = Q(
    "q267_topk_view_maintenance",
    (s, dir) => {
      val cut = to_date(lit("1997-07-01"))
      val keyed = Tables.t(s, dir, "orders")
        .select(col("o_orderpriority").as("pr"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,4)") * 100)
            .cast("long").as("cts"), // exact integer cents
          (col("o_orderdate") < cut).as("is_snap"))
      // stored top-5 per (key, half): the snapshot half is the view
      // on disk, the delta half is the only part ranked at refresh
      val halves = keyed
        .withColumn("hrn", row_number().over(
          Window.partitionBy("pr", "is_snap")
            .orderBy(col("cts").desc, col("o_orderkey"))))
        .filter(col("hrn") <= 5)
      halves // merge: re-rank the ≤10-row union per key
        .withColumn("rn", row_number().over(
          Window.partitionBy("pr").orderBy(col("cts").desc, col("o_orderkey"))))
        .filter(col("rn") <= 5)
        .select(col("pr").as("o_orderpriority"), col("rn"),
          col("o_orderkey"), col("cts"), (!col("is_snap")).as("from_delta"))
        .orderBy("o_orderpriority", "rn")
    },
    // oracle: full recompute over ALL orders — the merged view must
    // equal the from-scratch top-5 exactly
    Some("""WITH k AS (
      |  SELECT o_orderpriority AS pr, o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cts,
      |    o_orderdate >= DATE '1997-07-01' AS from_delta
      |  FROM orders),
      |r AS (
      |  SELECT pr, o_orderkey, cts, from_delta,
      |    CAST(row_number() OVER (PARTITION BY pr
      |      ORDER BY cts DESC, o_orderkey) AS INTEGER) AS rn
      |  FROM k)
      |SELECT pr AS o_orderpriority, rn, o_orderkey, cts, from_delta
      |FROM r WHERE rn <= 5
      |ORDER BY o_orderpriority, rn""".stripMargin))

  /** Session view maintenance under late data. Events are split
    * 90/10 by a salted hash of event_id (NOT by time — late events
    * must land anywhere on the timeline to exercise the bridge /
    * extend / new-session cases). The stored view is the snapshot
    * half's gap-sessionization (6-hour gap, exact integer
    * microseconds); the refresh semi-joins the stored sessions down
    * to users with late events, island-merges their session hulls
    * with the late points, and passes every other user's sessions
    * through untouched. `was_affected` carries that attribution.
    */
  val q269 = Q(
    "q269_session_view_maintenance",
    (s, dir) => {
      val gapUs = 21600000000L // 6 hours, exact integer microseconds
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
        .withColumn("is_snap",
          pmod(Portable.md5Long(
            concat(lit("late:"), col("event_id").cast("string"))), lit(10)) < 9)
      // the stored view: sessionize the snapshot half once
      val wo = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      // the artifact: built once, read twice below
      val stored = Pins.pin(ev.filter(col("is_snap"))
        .withColumn("nf", when(lag("us", 1).over(wo).isNull ||
          col("us") - lag("us", 1).over(wo) > gapUs, 1).otherwise(0))
        .withColumn("sid", sum("nf").over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("us").as("s_start"), max("us").as("s_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "s_start", "s_end", "n_events"))
      val late = ev.filter(!col("is_snap"))
        .select(col("user_id"), col("us").as("s_start"),
          col("us").as("s_end"), lit(1L).as("n_events"))
      // refresh path: island-merge hulls + points for affected users ONLY
      val merged = mergeSessions(stored, late, gapUs)
        .withColumn("was_affected", lit(true))
      val untouched = stored.join(late.select("user_id").distinct(),
          Seq("user_id"), "left_anti")
        .select(col("user_id"), col("s_start"), col("s_end"),
          col("n_events"), lit(false).as("was_affected"))
      merged.unionByName(untouched).orderBy("user_id", "s_start")
    },
    // oracle: full resessionization of snapshot ∪ late from raw events
    Some(s"""WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id,
      |    (${Portable.md5LongSql("concat('late:', CAST(event_id AS VARCHAR))")}
      |      % 10 < 9) AS is_snap
      |  FROM events),
      |au AS (SELECT DISTINCT user_id FROM e WHERE NOT is_snap),
      |f AS (
      |  SELECT user_id, us, event_id,
      |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 21600000000
      |      THEN 1 ELSE 0 END AS nf
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sid AS (
      |  SELECT user_id, us,
      |    sum(nf) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM f),
      |g AS (
      |  SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM sid GROUP BY 1, 2)
      |SELECT g.user_id, s_start, s_end, n_events,
      |  (g.user_id IN (SELECT user_id FROM au)) AS was_affected
      |FROM g ORDER BY user_id, s_start""".stripMargin))

  /** EXACT-distinct view maintenance via Spark's bitmap aggregates —
    * the missing corner of the IVM family: q255 maintains distinct
    * counts APPROXIMATELY (HLL registers merge by max), this one
    * maintains them EXACTLY with the other classic mergeable state,
    * per-(key, bucket) RoaringBitmap-style bitsets
    * (bitmap_bucket_number / bitmap_bit_position /
    * bitmap_construct_agg / bitmap_or_agg — all codegen'd Catalyst
    * aggregates). Distinct customers per order priority: the snapshot
    * half and the delta half each build their own bitmap state
    * independently; the refresh OR-merges per (key, bucket) — set
    * union, so merged == full recompute EXACTLY, which the oracle
    * (count(DISTINCT) over everything) proves per key. State is
    * Θ(keys × buckets × 4 KB) with buckets = ⌈id-domain/32768⌉,
    * independent of fact-row count — and unlike the HLL the same
    * state answers DELETES (bit clear) and intersections.
    */
  val q279 = Q(
    "q279_bitmap_distinct_view_maintenance",
    (s, dir) => {
      val cut = to_date(lit("1997-07-01"))
      val keyed = Tables.t(s, dir, "orders")
        .select(col("o_orderpriority").as("pr"), col("o_custkey").as("ck"),
          (col("o_orderdate") < cut).as("is_snap"))
      // per-half bitmap state: one bitmap per (key, half, id-bucket)
      // read 3×: both half counts + the merge
      val state = Pins.pin(keyed
        .groupBy(col("pr"), col("is_snap"),
          expr("bitmap_bucket_number(ck)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(ck))").as("bm")))
      def halfCount(snap: Boolean) = state
        .filter(col("is_snap") === snap)
        .groupBy("pr")
        .agg(sum(expr("bitmap_count(bm)")).cast("long")
          .as(if (snap) "n_snap" else "n_delta"))
      // the refresh: OR per (key, bucket) — set union, hence exact
      val merged = state
        .groupBy("pr", "bkt")
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy("pr")
        .agg(sum(expr("bitmap_count(bm)")).cast("long").as("n_merged"),
          count(lit(1)).as("n_state_buckets"))
      halfCount(snap = true)
        .join(halfCount(snap = false), Seq("pr"), "full_outer")
        .join(merged, Seq("pr"), "full_outer")
        .select(col("pr"), coalesce(col("n_snap"), lit(0L)).as("n_snap"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          col("n_merged"), col("n_state_buckets"))
        .orderBy("pr")
    },
    // the oracle recomputes every count from scratch — hash equality
    // IS the merged-equals-recomputed proof; bucket cardinality is
    // the count of distinct floorDiv(ck−1, 32768) cells hit (Spark's
    // bucket numbering is that floor division plus a constant shift;
    // DuckDB's // truncates toward zero, so the floor() form is
    // spelled out — ck = 0 lands in its own bucket)
    Some("""WITH k AS (
      |  SELECT o_orderpriority AS pr, o_custkey AS ck,
      |         o_orderdate < DATE '1997-07-01' AS is_snap
      |  FROM orders)
      |SELECT pr,
      |  CAST(count(DISTINCT CASE WHEN is_snap THEN ck END) AS BIGINT) AS n_snap,
      |  CAST(count(DISTINCT CASE WHEN NOT is_snap THEN ck END) AS BIGINT) AS n_delta,
      |  CAST(count(DISTINCT ck) AS BIGINT) AS n_merged,
      |  CAST(count(DISTINCT CAST(floor((ck - 1) / 32768.0) AS BIGINT)) AS BIGINT)
      |    AS n_state_buckets
      |FROM k
      |GROUP BY pr
      |ORDER BY pr""".stripMargin))

  val all: Vector[Q] = Vector(q267, q269, q279)
}
