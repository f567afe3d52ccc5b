package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import graft.functions.{Portable => P}
import graft.streaming.EventStreams
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event time and streaming (SURVEY.md §2.9): tumbling, sliding and
  * session windows, as-of joins, event dedup, typed stateful
  * sessionization, the Structured Streaming twins of the batch
  * queries (each checked against the batch oracle), streaming
  * sketches, and incremental view maintenance over late events.
  */
object Events {

  /* SURVEY.md §2.9 — event-time windows (T1-T3), as-of join (J9), and
    * stateful-style dedup (T5), all in their batch form so the DuckDB
    * oracle can check them. The same groupBy(window(...)) /
    * session_window expressions run unchanged under Structured Streaming
    * with a watermark — see graft.streaming and the streaming twins below.
    *
    * Window starts are emitted as epoch seconds (unix_timestamp floors
    * to the second, matching DuckDB floor(epoch(...))) to keep raw
    * timestamp encodings out of the comparison.
    */

  /** Tumbling 5-minute event-time window aggregate (T1). */
  val q34 = Q(
    "q34_tumbling_window",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), P.moneySum(col("value")).as("sum_value"))
        .select(
          unix_timestamp(col("window.start")).as("wstart"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("wstart", "event_type")
    },
    Some(s"""SELECT CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT) AS wstart,
      |  event_type, count(*) AS n, ${P.moneySumSql("value")} AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY wstart, event_type""".stripMargin))

  /** Sliding 10-minute window, 5-minute slide (T2): each event lands
    * in exactly two windows; the oracle reproduces that with an
    * offset cross join.
    */
  val q35 = Q(
    "q35_sliding_window",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), P.moneySum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("wstart"), col("n"), col("sum_value"))
        .orderBy("wstart")
    },
    Some(s"""SELECT (CAST(floor(epoch(ts) / 300) AS BIGINT) - o) * 300 AS wstart,
      |  count(*) AS n, ${P.moneySumSql("value")} AS sum_value
      |FROM events CROSS JOIN (VALUES (0), (1)) t(o)
      |GROUP BY 1
      |ORDER BY wstart""".stripMargin))

  /** Session windows with a 30-minute gap per user (T3). The oracle
    * is the classic gaps-and-islands rewrite; a new session starts
    * when the gap is >= the timeout (Spark sessions are half-open:
    * [first, last+gap)).
    */
  val q36 = Q(
    "q36_session_window",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), P.moneySum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          unix_timestamp(col("session_window.start")).as("sstart"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "sstart")
    },
    Some(s"""WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT user_id, ts, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |)
      |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sstart,
      |  count(*) AS n_events, ${P.moneySumSql("value")} AS sum_value
      |FROM numbered
      |GROUP BY user_id, sid
      |ORDER BY user_id, sstart""".stripMargin))

  /** As-of join (J9): each purchase picks up the latest preceding
    * click of the same user — expressed as last(..., ignoreNulls)
    * over an ordered per-user window (one shuffle on user_id, no
    * range join explosion at scale).
    */
  val q37 = Q(
    "q37_asof_last_click",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("click_val",
          last(when(col("event_type") === "click", col("value")), ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ets"),
          col("click_val").as("last_click_value"),
          unix_timestamp(col("click_ts")).as("last_click_epoch"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ets,
      |  last_click_value,
      |  CAST(floor(epoch(last_click_ts)) AS BIGINT) AS last_click_epoch
      |FROM (
      |  SELECT event_id, user_id, ts, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
      |      OVER w AS last_click_value,
      |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      |      OVER w AS last_click_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin))

  /** Keep-first dedup per (user, event_type) — the batch form of
    * streaming dropDuplicates-within-watermark (T5).
    */
  val q38 = Q(
    "q38_event_dedup_first",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(
          col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("first_epoch"))
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, event_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) AS first_epoch
      |FROM (
      |  SELECT user_id, event_type, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin))

  /** As-of join with TOLERANCE (vs q37's unbounded as-of): each
    * purchase matches the user's latest strictly-earlier click only
    * if it happened within the last hour — the bounded-staleness
    * semantics trades/sensor pipelines need. One window over one
    * shuffle; the strictly-before frame is ROWS ... 1 PRECEDING.
    */
  val q92 = Q(
    "q92_asof_tolerance",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("lc", last(
          when(col("event_type") === "click", col("us")), ignoreNulls = true)
          .over(Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("us") - col("lc") <= 3600000000L, col("lc")).as("click_us"))
        .orderBy("purchase_id")
    },
    Some("""SELECT event_id AS purchase_id, user_id,
      |  CASE WHEN us - lc <= 3600000000 THEN lc END AS click_us
      |FROM (
      |  SELECT event_id, user_id, event_type, us,
      |    last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
      |  FROM (
      |    SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
      |    FROM events WHERE event_type IN ('click', 'purchase')))
      |WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin))

  /* SURVEY.md §2.9 streaming stretch goal: the tumbling-window
    * aggregate executed through Structured Streaming (file source →
    * watermark → windowed state → memory sink). Its oracle is the same
    * batch SQL as q34 — the unified-model guarantee that the streaming
    * result equals the batch result over the same data is exactly what
    * the check verifies.
    */

  val q56 = Q(
    "q56_stream_tumbling_counts",
    (s, dir) =>
      EventStreams.tumblingCounts(s, dir)
        .orderBy("wstart", "event_type"),
    // the batch tumbling oracle IS the streaming oracle — unified model
    q34.oracle)

  /** Sliding windows (T2) through the streaming engine: overlapping
    * windows mean every event feeds two state rows; the watermark
    * bounds that state. Shares q35's batch oracle.
    */
  val q80 = Q(
    "q80_stream_sliding_counts",
    (s, dir) =>
      EventStreams.slidingCounts(s, dir)
        .orderBy("wstart"),
    q35.oracle)

  /** Stream-static enrichment join through the streaming engine: the
    * stream joins a broadcast static dimension inside each
    * micro-batch before the windowed aggregation. The oracle rebuilds
    * the same static side with range() and replays the tumbling
    * window as epoch math.
    */
  val q91 = Q(
    "q91_stream_enriched_counts",
    (s, dir) =>
      EventStreams.enrichedTumblingCounts(s, dir)
        .orderBy("wstart", "segment"),
    Some(s"""SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS wstart,
      |  CAST(seg_user % 3 AS INTEGER) AS segment,
      |  count(*) AS n, ${graft.functions.Portable.moneySumSql("value")} AS sum_value
      |FROM events
      |JOIN (SELECT unnest(range(0, 100)) AS seg_user) segs
      |  ON user_id = seg_user
      |GROUP BY 1, 2
      |ORDER BY wstart, segment""".stripMargin))

  /** Stream-stream interval join (T6): purchases ⋈ errors within 30
    * minutes per user, both sides watermarked so join state is
    * evictable. The oracle is the equivalent batch range self-join —
    * the unified-model guarantee again.
    */
  val q124 = Q(
    "q124_stream_stream_join",
    (s, dir) =>
      EventStreams.purchaseErrorJoin(s, dir)
        .orderBy("p_id", "e_id"),
    Some("""SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id
      |FROM events p JOIN events e
      |  ON p.event_type = 'purchase' AND e.event_type = 'error'
      | AND e.user_id = p.user_id
      | AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE
      |ORDER BY p_id, e_id""".stripMargin))

  /** Event row for the typed sessionizer (top-level so Spark can
    * derive its Encoder).
    */
  final case class SessEvent(user_id: Long, us: Long, value: Double)

  /** Typed sessionization through KeyValueGroupedDataset.flatMapGroups
    * — the batch form of a flatMapGroupsWithState streaming handler
    * (identical per-key logic; in batch each key's full history
    * arrives at once, so state never carries across calls). Produces
    * EXACTLY the q36 session_window result, and shares its oracle:
    * three implementations (declarative session_window, custom typed
    * state logic, gaps-and-islands SQL) pinned to one answer.
    */
  val q57 = Q(
    "q57_stateful_sessionize",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
        .as[SessEvent]
      val sessions = ev.groupByKey(_.user_id).flatMapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(_.us)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        var start = 0
        var i = 1
        def emit(from: Int, until: Int): Unit = {
          val slice = evs.slice(from, until)
          out += ((uid, slice.head.us / 1000000L, slice.length.toLong, slice.map(_.value).sum))
        }
        while (i < evs.length) {
          if (evs(i).us - evs(i - 1).us >= 1800000000L) { emit(start, i); start = i }
          i += 1
        }
        if (evs.nonEmpty) emit(start, evs.length)
        out
      }
      sessions.toDF("user_id", "sstart", "n_events", "sum_value")
        .withColumn("sum_value", round(col("sum_value"), 2))
        .orderBy("user_id", "sstart")
    },
    // same answer as q36 (session_window) — shared oracle
    q36.oracle)

  /** FORWARD as-of: each purchase joined to the FIRST error at or
    * after it for the same user (q37/q92 cover the backward
    * direction). One merged per-user window pass — first_value
    * IGNORE NULLS over the following frame — instead of a join:
    * the union-and-window form both engines share exactly.
    */
  val q171 = Q(
    "q171_asof_forward",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "error"))
        .withColumn("next_error_id",
          first(when(col("event_type") === "error", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("next_error_id"))
        .orderBy("p_id")
    },
    Some("""SELECT p_id, user_id, next_error_id FROM (
      |  SELECT event_id AS p_id, user_id, event_type,
      |    first_value(CASE WHEN event_type = 'error' THEN event_id END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS next_error_id
      |  FROM events WHERE event_type IN ('purchase', 'error'))
      |WHERE event_type = 'purchase'
      |ORDER BY p_id""".stripMargin))

  /** Heavy hitters over the STREAM: a count-min sketch aggregated
    * through Structured Streaming (complete mode — the sketch buffer
    * is the streaming state, merged across micro-batches), then
    * audited against the exact batch top-10 panel exactly like q199.
    * This is the production shape for "what's trending" at 100 TB/day:
    * constant state per key-space regardless of throughput, and the
    * audit proves the streamed sketch equals a batch sketch would.
    * CMS cell adds are commutative integer sums, so micro-batch
    * arrival order cannot change the estimate.
    */
  val q218 = Q(
    "q218_stream_heavy_hitters",
    (s, dir) => {
      val eps = 0.001
      val row = EventStreams.cmsOverStream(s, dir).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("cms")))
      val n = row.getAs[Long]("n")
      val bound = math.ceil(eps * n).toLong
      val exact = Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("k")).limit(10)
      val panel = exact.collect().toSeq.map { r =>
        val k = r.getString(0); val c = r.getAs[Long]("cnt")
        val est = cms.estimateCount(k)
        (k, c, est >= c && est <= c + bound)
      }
      import s.implicits._
      panel.toDF("k", "cnt", "est_ok").orderBy(col("cnt").desc, col("k"))
    },
    Some("""SELECT k, count(*) AS cnt, TRUE AS est_ok
      |FROM (SELECT json_extract_string(props, '$.k') AS k FROM events)
      |GROUP BY 1 ORDER BY cnt DESC, k LIMIT 10""".stripMargin))

  /** Streaming approx-distinct parity: an HLL sketch aggregated
    * through the streaming engine (complete mode, register-max merge
    * across micro-batches) must estimate EXACTLY what the same
    * sketch over the batch frame estimates — HLL registers are
    * per-bucket maxima, so arrival order is provably irrelevant, and
    * any difference is an engine regression, not sketch noise. The
    * output panel carries the exact distinct count, both estimates,
    * their equality, and a 5%-relative-error audit of the sketch
    * itself; the oracle pins the exact count and the audit flags.
    */
  val q230 = Q(
    "q230_stream_distinct_parity",
    (s, dir) => {
      val streamRow = EventStreams.hllOverStream(s, dir).head()
      val streamEst = streamRow.getAs[Long]("est")
      val batch = Tables.events(s, dir)
        .select(concat(col("user_id").cast("string"), lit(":"),
          col("event_type")).as("k"))
      val batchEst = batch
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("est"))
        .head().getAs[Long]("est")
      val exact = batch.distinct().count()
      import s.implicits._
      Seq((exact, streamEst == batchEst,
        math.abs(streamEst - exact).toDouble / exact <= 0.05))
        .toDF("n_exact", "stream_eq_batch", "within_5pct")
    },
    Some("""SELECT count(DISTINCT concat(CAST(user_id AS VARCHAR), ':', event_type))
      |  AS n_exact, TRUE AS stream_eq_batch, TRUE AS within_5pct
      |FROM events""".stripMargin))

  /* Incremental view maintenance of two state shapes beside the
    * family's others (q241 algebraic sums, q255 HLL distinct sketches,
    * q260 holistic-median histograms, q262/q264 graph labels):
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

  val all: Vector[Q] =
    Vector(q34, q35, q36, q37, q38, q92, q56, q80, q91, q124, q57, q171,
      q218, q230, q267, q269, q279)
}
