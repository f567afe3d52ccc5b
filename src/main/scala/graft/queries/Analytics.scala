package graft.queries

import graft.{Q, Tables}
import graft.functions.{Dist, Portable}
import graft.functions.{Portable => P}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioural and business analytics over orders and events:
  * transitions, funnels, cohorts, attribution, reconciliation, rolling
  * actives, RFM, seasonality, trends, A/B lift, time-series folds and
  * resampling. `weekCoverSql` is the oracle's week spine.
  */
object Analytics {

  /** Weekly cohort retention over the event stream: users grouped by
    * first-seen week, counted at each later active week offset. Week
    * indexing is integer epoch-day math (Monday-anchored), not
    * date_trunc — identical in every engine and timezone.
    */
  val q72 = Q(
    "q72_cohort_retention",
    (s, dir) => {
      // cohort week as a window min over the same user partition the
      // distinct already shuffled to — no self-join, one shuffle total
      Tables.events(s, dir)
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), to_date(lit("1970-01-05"))) / 7).as("w"))
        .distinct()
        .withColumn("cw", min("w").over(Window.partitionBy("user_id")))
        .groupBy(col("cw"), (col("w") - col("cw")).as("off"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cw", "off")
    },
    Some("""WITH wk AS (
      |  SELECT DISTINCT user_id,
      |    CAST((CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS BIGINT) AS w
      |  FROM events),
      |coh AS (SELECT user_id, min(w) AS cw FROM wk GROUP BY 1)
      |SELECT cw, w - cw AS off, count(DISTINCT wk.user_id) AS n_users
      |FROM wk JOIN coh USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cw, off""".stripMargin))

  /** Ordered conversion funnel signup → view → click → purchase: each
    * stage's timestamp is the earliest qualifying event AFTER the
    * previous stage, computed as four chained per-user window minima
    * (one shuffle on user_id, no self-joins), then one global rollup.
    */
  val q79 = Q(
    "q79_event_funnel",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
      def nextStage(tpe: String, after: String) =
        min(when(col("event_type") === tpe && col("ts") > col(after), col("ts"))).over(w)
      Tables.events(s, dir)
        .select("user_id", "event_type", "ts")
        .withColumn("s", min(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("v", nextStage("view", "s"))
        .withColumn("c", nextStage("click", "v"))
        .withColumn("p", nextStage("purchase", "c"))
        .agg(
          countDistinct("user_id").as("n_users"),
          countDistinct(when(col("s").isNotNull, col("user_id"))).as("n_signup"),
          countDistinct(when(col("v").isNotNull, col("user_id"))).as("n_view"),
          countDistinct(when(col("c").isNotNull, col("user_id"))).as("n_click"),
          countDistinct(when(col("p").isNotNull, col("user_id"))).as("n_purchase"))
    },
    Some("""SELECT count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT CASE WHEN s IS NOT NULL THEN user_id END) AS n_signup,
      |  count(DISTINCT CASE WHEN v IS NOT NULL THEN user_id END) AS n_view,
      |  count(DISTINCT CASE WHEN c IS NOT NULL THEN user_id END) AS n_click,
      |  count(DISTINCT CASE WHEN p IS NOT NULL THEN user_id END) AS n_purchase
      |FROM (
      |  SELECT user_id, s, v, c,
      |    min(CASE WHEN event_type = 'purchase' AND ts > c THEN ts END)
      |      OVER (PARTITION BY user_id) AS p
      |  FROM (
      |    SELECT user_id, event_type, ts, s, v,
      |      min(CASE WHEN event_type = 'click' AND ts > v THEN ts END)
      |        OVER (PARTITION BY user_id) AS c
      |    FROM (
      |      SELECT user_id, event_type, ts, s,
      |        min(CASE WHEN event_type = 'view' AND ts > s THEN ts END)
      |          OVER (PARTITION BY user_id) AS v
      |      FROM (
      |        SELECT user_id, event_type, ts,
      |          min(CASE WHEN event_type = 'signup' THEN ts END)
      |            OVER (PARTITION BY user_id) AS s
      |        FROM events))))""".stripMargin))

  /** Forward-fill over event time: values failing a validity gate
    * become NULL and are filled with the user's last valid value —
    * `last(ignoreNulls) OVER (ROWS UNBOUNDED PRECEDING)` — the
    * standard gap-repair step before feature extraction. One shuffle
    * on the entity key; the filled value is carried verbatim (no
    * arithmetic), so no rounding is needed for oracle parity.
    */
  val q85 = Q(
    "q85_forward_fill",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("value") >= 0.2, col("value")).as("v"))
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(
          Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "v", "filled")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
      |  CASE WHEN value >= 0.2 THEN value END AS v,
      |  last_value(CASE WHEN value >= 0.2 THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events
      |ORDER BY event_id""".stripMargin))

  /* Behavioral and evaluation analytics over orders and events, each
    * reusing the scale utilities (per-user windows, Dist.globalCumsumBy,
    * Dist.globalRank) instead of single-partition shortcuts.
    */

  /** First-order transition matrix over per-user event sequences:
    * (from_type → to_type) counts with share-per-source. The lag
    * window partitions by user — thousands of small partitions, the
    * shape that scales — and the matrix is |types|² rows regardless
    * of corpus size.
    */
  val q152 = Q(
    "q152_event_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val bySrc = Window.partitionBy("from_type")
      trans
        .withColumn("share", round(col("n") / sum("n").over(bySrc), 5))
        .orderBy("from_type", "to_type")
    },
    Some("""WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |trans AS (
      |  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(n / sum(n) OVER (PARTITION BY from_type), 5) AS share
      |FROM trans ORDER BY from_type, to_type""".stripMargin))

  /** Weighted median: the order price at which the quantity-weighted
    * CDF crosses half the total weight, per order status. The CDF is
    * a Dist.globalCumsumBy range-bucketed cumsum — no single-partition
    * window — grouped to distinct (status, price) points first so the
    * cumsum's total order is unique. Integer weights keep every
    * comparison exact.
    */
  val q153 = Q(
    "q153_weighted_median",
    (s, dir) => {
      val g = Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      // one cumsum per status: statuses are few, so the range
      // bucketing runs once with (st, p) as the total order and the
      // per-status totals broadcast back
      val cum = Dist.globalCumsumBy(g, Seq(col("st"), col("p")), Seq("w"), 32)
      // the cumsum is GLOBAL over (st, p); subtracting each status's
      // exclusive prefix (total weight of statuses ordered before it)
      // turns it into a per-status CDF — the offsets table is
      // O(#groups) rows, windowed trivially and broadcast back
      val wSt = Window.orderBy("st")
        .rowsBetween(Window.unboundedPreceding, -1)
      // totals come from the cumsum's (checkpointed) frame, not a
      // second lineitem⋈orders scan+aggregate
      val tot = cum.groupBy("st").agg(sum("w").as("tw"))
        .withColumn("off", coalesce(sum("tw").over(wSt), lit(0L)))
        .select(col("st").as("st2"), col("tw"), col("off"))
      cum.join(broadcast(tot), col("st") === col("st2"))
        .filter((col("w_cum") - col("off")) * 2 >= col("tw"))
        .groupBy(col("st").as("o_orderstatus"))
        .agg(min("p").as("weighted_median_price"))
        .orderBy("o_orderstatus")
    },
    Some("""WITH g AS (
      |  SELECT o_orderstatus AS st, o_totalprice AS p,
      |    CAST(sum(l_quantity) AS BIGINT) AS w
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT st, p, w,
      |    sum(w) OVER (PARTITION BY st ORDER BY p) AS cw,
      |    sum(w) OVER (PARTITION BY st) AS tw
      |  FROM g)
      |SELECT st AS o_orderstatus, min(p) AS weighted_median_price
      |FROM c WHERE cw * 2 >= tw
      |GROUP BY st ORDER BY o_orderstatus""".stripMargin))

  /** Score-decile lift table (the model-eval report): customers
    * ranked by account balance, cut into 10 equal-depth bins WITHOUT
    * ntile's single-partition window — Dist.globalRank supplies the
    * total order, the bin is integer rank math. Outcome proxy:
    * customer placed an above-median-priced order.
    */
  val q154 = Q(
    "q154_decile_lift",
    (s, dir) => {
      val buyers = Tables.t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey")).distinct()
        .withColumn("pos", lit(1L))
      val scored = Tables.t(s, dir, "customer")
        .join(buyers, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("pos"), lit(0L)).as("pos"))
      val ranked = Dist.globalRank(
        scored, Seq(col("c_acctbal").desc, col("c_custkey")), "r", 16)
      // N = max rank, read off globalRank's pinned frame — a separate
      // scored.count() would re-execute the customer⋈orders join
      val n = ranked.agg(max("r")).head.getLong(0)
      ranked
        .withColumn("decile", floor(((col("r") - 1) * 10) / n).cast("int") + 1)
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"),
          sum("pos").as("n_pos"),
          round(avg("pos"), 5).as("rate"))
        .orderBy("decile")
    },
    Some("""WITH buyers AS (
      |  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000),
      |scored AS (
      |  SELECT c_custkey, c_acctbal,
      |    CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS pos
      |  FROM customer LEFT JOIN buyers ON c_custkey = o_custkey),
      |ranked AS (
      |  SELECT pos,
      |    row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS r,
      |    count(*) OVER () AS n
      |  FROM scored)
      |SELECT CAST(floor((r - 1) * 10 / n) AS INTEGER) + 1 AS decile,
      |  count(*) AS n_cust, CAST(sum(pos) AS BIGINT) AS n_pos,
      |  round(avg(pos), 5) AS rate
      |FROM ranked GROUP BY 1 ORDER BY decile""".stripMargin))

  /** 2-D histogram (heat-map binning): order count and value by
    * (price bucket × order year) — width_bucket on one axis, calendar
    * on the other. One aggregate, grid-sized output.
    */
  val q155 = Q(
    "q155_histogram_2d",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .select(
          // equi-width buckets of 50k over [0, 500k) — plain floor
          // math (DuckDB has no width_bucket), clamped at the top
          least(floor(col("o_totalprice") / 50000) + 1, lit(10L)).as("price_bin"),
          year(col("o_orderdate")).as("yr"),
          col("o_totalprice"))
        .groupBy("price_bin", "yr")
        .agg(count(lit(1)).as("n"), P.moneySum(col("o_totalprice")).as("total"))
        .orderBy("price_bin", "yr")
    },
    Some(s"""SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT) + 1, 10)
      |    AS price_bin,
      |  CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  count(*) AS n, ${P.moneySumSql("o_totalprice")} AS total
      |FROM orders
      |GROUP BY 1, 2 ORDER BY price_bin, yr""".stripMargin))

  /** Group-mean imputation — the feature-prep op for missing values:
    * negative account balances are treated as sentinel-missing and
    * replaced by their nation's mean over the VALID values. The means
    * table is one aggregate broadcast back; rows keep a flag so
    * downstream can weight imputed features differently.
    */
  val q156 = Q(
    "q156_impute_group_mean",
    (s, dir) => {
      val c = Tables.t(s, dir, "customer")
        .withColumn("bal", when(col("c_acctbal") >= 0, col("c_acctbal")))
      val means = c.groupBy(col("c_nationkey").as("nk"))
        .agg(P.moneyAvg(col("bal")).as("mu"))
      c.join(broadcast(means), col("c_nationkey") === col("nk"))
        .select(
          col("c_custkey"),
          col("bal").isNull.as("imputed"),
          round(coalesce(col("bal"), col("mu")), 4).as("bal_filled"))
        .orderBy("c_custkey")
    },
    Some(s"""WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS bal
      |  FROM customer),
      |means AS (
      |  SELECT c_nationkey, ${P.moneyAvgSql("bal")} AS mu
      |  FROM c GROUP BY 1)
      |SELECT c_custkey, bal IS NULL AS imputed,
      |  round(coalesce(bal, mu), 4) AS bal_filled
      |FROM c JOIN means USING (c_nationkey)
      |ORDER BY c_custkey""".stripMargin))

  /** First-touch attribution: each purchase is credited to the FIRST
    * preceding non-purchase event by the same user (unbounded
    * running first_value per user — the as-of family's attribution
    * variant), then credited purchases roll up by source type.
    */
  val q157 = Q(
    "q157_first_touch_attribution",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("touch",
          first(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("first_touch"))
        .agg(count(lit(1)).as("n_purchases"),
          P.moneySum(col("value")).as("credited_value"))
        .orderBy("first_touch")
    },
    Some(s"""WITH touched AS (
      |  SELECT event_type, value,
      |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
      |  FROM events)
      |SELECT coalesce(touch, 'none') AS first_touch,
      |  count(*) AS n_purchases, ${P.moneySumSql("value")} AS credited_value
      |FROM touched WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY first_touch""".stripMargin))

  /** Fact-reconciliation report: o_totalprice against the order's
    * lineitem extended-price sum — the cross-table consistency check
    * a warehouse runs between a header table and its detail table.
    * One join + one aggregate; the verdict buckets the relative gap.
    */
  val q158 = Q(
    "q158_order_reconciliation",
    (s, dir) => {
      val detail = Tables.t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice")).as("detail_total"))
      Tables.t(s, dir, "orders")
        .join(detail, col("o_orderkey") === col("l_orderkey"), "left")
        .select(
          when(col("detail_total").isNull, "no_lineitems")
            .when(abs(col("detail_total") - col("o_totalprice"))
              / col("o_totalprice") <= 0.5, "within_50pct")
            .otherwise("diverged").as("verdict"))
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("verdict")
    },
    Some("""WITH detail AS (
      |  SELECT l_orderkey, sum(l_extendedprice) AS detail_total
      |  FROM lineitem GROUP BY 1)
      |SELECT CASE
      |    WHEN detail_total IS NULL THEN 'no_lineitems'
      |    WHEN abs(detail_total - o_totalprice) / o_totalprice <= 0.5
      |      THEN 'within_50pct'
      |    ELSE 'diverged' END AS verdict,
      |  count(*) AS n_orders
      |FROM orders LEFT JOIN detail ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY verdict""".stripMargin))

  /** DuckDB CTEs of q159's exact rolling window: `act(user_id, day)`,
    * each user's distinct epoch days, and `cov(user_id, d)`, the 7
    * report days each activity day covers.
    */
  private[queries] def weekCoverSql: String =
    """act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      |  FROM events),
      |cov AS (
      |  SELECT user_id, unnest(generate_series(day, day + 6)) AS d
      |  FROM act)""".stripMargin

  /** Rolling 7-day active users (WAU per day) — the distinct-count-
    * over-sliding-window op a dashboard needs, WITHOUT a distinct
    * window aggregate (Spark has none) and WITHOUT a range join (a
    * nested loop at scale): each deduped (user, day) activity row
    * explodes to the 7 report days it covers, then one equi-grouped
    * count-distinct per day — shuffle volume is exactly 7× the
    * deduped activity, the fixed fan-out a sliding window costs.
    * Report days are restricted to days with actual activity via a
    * broadcast-able semi join. Epoch-day integer math keeps the
    * window arithmetic engine-identical.
    */
  val q159 = Q(
    "q159_rolling_wau",
    (s, dir) => {
      val act = Tables.events(s, dir)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).as("day"))
        .distinct()
      val days = act.select(col("day").as("d0")).distinct()
      act.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .join(days, col("d") === col("d0"), "left_semi")
        .groupBy("d")
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy("d")
    },
    Some(s"""WITH $weekCoverSql
      |SELECT d, count(DISTINCT user_id) AS wau
      |FROM cov WHERE d IN (SELECT day FROM act)
      |GROUP BY d ORDER BY d""".stripMargin))

  /** RFM segmentation: per customer, recency (days since last
    * order), frequency (order count), monetary (total spend), each
    * cut at its corpus median into Hi/Lo — eight segment cells with
    * counts. The three medians are exact singletons computed once and
    * broadcast; the boundary values sit on real data points so the
    * Hi/Lo comparison is exact, not float-fuzzy.
    *
    * The medians are Dist.globalRank selections, NOT `median()`: the
    * monetary column is continuous, so the histogram trick that
    * bounds q19/q125's percentile buffers doesn't apply, and
    * `median()` over one global group would buffer every customer in
    * a single aggregation buffer. Rank-selecting the two middle
    * values and averaging them reproduces median()'s interpolation
    * (identical middle operands; when they differ they are ≥ one cent
    * apart, so the threshold sits strictly between data points and no
    * Hi/Lo verdict can flip on representation). All THREE metrics go
    * through ONE rank pass — stacked as (metric, value) with ranks
    * offset by metric block — because globalRank's fixed costs
    * (range partition, checkpoint pin, offsets round-trip) dominate
    * at bench scale and don't triple-pay when batched.
    */
  val q161 = Q(
    "q161_rfm_segments",
    (s, dir) => {
      val o = Tables.t(s, dir, "orders")
      val asOf = o.agg(max(unix_timestamp(col("o_orderdate"))).as("t"))
      val rfm = o.groupBy("o_custkey")
        .agg(
          max(unix_timestamp(col("o_orderdate"))).as("last_t"),
          count(lit(1)).as("f"),
          P.moneySum(col("o_totalprice")).as("m"))
        .crossJoin(broadcast(asOf))
        .select(col("o_custkey"),
          floor((col("t") - col("last_t")) / 86400).as("r"),
          col("f"), col("m"))
      // value at ranks ⌊(n+1)/2⌋ and ⌈(n+1)/2⌉ (equal when n is odd)
      // per metric block, averaged — ties among equal values are
      // rank-order irrelevant because the selected VALUE is the same
      val stacked = rfm.select(explode(array(
          struct(lit(0).as("g"), col("r").cast("double").as("v")),
          struct(lit(1).as("g"), col("f").cast("double").as("v")),
          struct(lit(2).as("g"), col("m").as("v")))).as("x"))
        .select(col("x.g").as("g"), col("x.v").as("v"))
      val ranked = graft.functions.Dist.globalRank(
        stacked, Seq(col("g"), col("v")), "rk", 8)
      val n = ranked.agg(max("rk")).head().getLong(0) / 3
      val lo = (n + 1) / 2
      val hi = n / 2 + 1
      val med = ranked
        .filter(col("rk") - col("g") * n === lo ||
          col("rk") - col("g") * n === hi)
        .groupBy("g").agg((sum("v") / count(lit(1))).as("mv"))
        .agg(
          max(when(col("g") === 0, col("mv"))).as("mr"),
          max(when(col("g") === 1, col("mv"))).as("mf"),
          max(when(col("g") === 2, col("mv"))).as("mm"))
      rfm.crossJoin(broadcast(med))
        .groupBy(
          when(col("r") <= col("mr"), "recentHi").otherwise("recentLo").as("recency"),
          when(col("f") > col("mf"), "freqHi").otherwise("freqLo").as("frequency"),
          when(col("m") > col("mm"), "monHi").otherwise("monLo").as("monetary"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("recency", "frequency", "monetary")
    },
    Some(s"""WITH rfm AS (
      |  SELECT o_custkey,
      |    CAST(floor(((SELECT max(epoch(o_orderdate)) FROM orders)
      |      - max(epoch(o_orderdate))) / 86400) AS BIGINT) AS r,
      |    count(*) AS f,
      |    ${P.moneySumSql("o_totalprice")} AS m
      |  FROM orders GROUP BY 1),
      |med AS (SELECT median(r) AS mr, median(f) AS mf, median(m) AS mm FROM rfm)
      |SELECT
      |  CASE WHEN r <= mr THEN 'recentHi' ELSE 'recentLo' END AS recency,
      |  CASE WHEN f > mf THEN 'freqHi' ELSE 'freqLo' END AS frequency,
      |  CASE WHEN m > mm THEN 'monHi' ELSE 'monLo' END AS monetary,
      |  count(*) AS n_customers
      |FROM rfm CROSS JOIN med
      |GROUP BY 1, 2, 3
      |ORDER BY recency, frequency, monetary""".stripMargin))

  /** Revenue anomaly days: daily totals more than 2 corpus standard
    * deviations from the mean. The daily series is O(days); its
    * mean/std is one tiny aggregate broadcast back — monitoring-alert
    * shape. The z-score is rounded before the threshold compare so
    * the cut is reproducible cross-engine.
    */
  val q165 = Q(
    "q165_anomaly_days",
    (s, dir) => {
      val daily = Tables.t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(P.moneySum(col("o_totalprice")).as("rev"))
      val stats = daily.agg(avg("rev").as("mu"), stddev_samp("rev").as("sd"))
      daily.crossJoin(broadcast(stats))
        .withColumn("z", round((col("rev") - col("mu")) / col("sd"), 4))
        .filter(abs(col("z")) > 2)
        .select(col("day"), col("rev"), col("z"))
        .orderBy("day")
    },
    Some(s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, ${P.moneySumSql("o_totalprice")} AS rev
      |  FROM orders GROUP BY 1),
      |stats AS (SELECT avg(rev) AS mu, stddev_samp(rev) AS sd FROM daily)
      |SELECT day, rev,
      |  round((rev - mu) / sd, 4) AS z
      |FROM daily CROSS JOIN stats
      |WHERE abs(round((rev - mu) / sd, 4)) > 2
      |ORDER BY day""".stripMargin))

  /** Sessionized conversion: the share of 30-minute sessions
    * containing a view that also convert (a purchase AFTER the first
    * view, same session). Sessions are gaps-and-islands per user
    * (cumulative new-session flags over the user window — q57's SQL
    * twin), so the whole query is two per-user window passes and one
    * aggregate; no session ever crosses users, the partition key.
    */
  val q166 = Q(
    "q166_sessionized_conversion",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("t"))
        .withColumn("new_sess",
          when(col("t") - lag("t", 1).over(w) >= 1800 ||
            lag("t", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("sid", sum("new_sess").over(ws))
      sess.groupBy("user_id", "sid")
        .agg(
          min(when(col("event_type") === "view", col("t"))).as("first_view"),
          max(when(col("event_type") === "purchase", col("t"))).as("last_purchase"))
        .filter(col("first_view").isNotNull)
        .agg(
          count(lit(1)).as("sessions_with_view"),
          sum(when(col("last_purchase") > col("first_view"), 1L).otherwise(0L))
            .as("converted"),
          round(avg(when(col("last_purchase") > col("first_view"), 1.0)
            .otherwise(0.0)), 5).as("conversion_rate"))
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |    ts
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, t, ts,
      |    CASE WHEN t - lag(t) OVER w >= 1800 OR lag(t) OVER w IS NULL
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_type, t,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |per AS (
      |  SELECT user_id, sid,
      |    min(CASE WHEN event_type = 'view' THEN t END) AS first_view,
      |    max(CASE WHEN event_type = 'purchase' THEN t END) AS last_purchase
      |  FROM sess GROUP BY 1, 2)
      |SELECT count(*) AS sessions_with_view,
      |  CAST(sum(CASE WHEN last_purchase > first_view THEN 1 ELSE 0 END)
      |    AS BIGINT) AS converted,
      |  round(avg(CASE WHEN last_purchase > first_view THEN 1.0 ELSE 0.0 END), 5)
      |    AS conversion_rate
      |FROM per WHERE first_view IS NOT NULL""".stripMargin))

  /** Gini coefficient of customer lifetime spend — the inequality
    * scalar a marketplace report carries. Needs every customer's
    * ascending spend rank: Dist.globalRank again (range-bucketed, no
    * single-partition window), then the rank-weighted closed form
    * G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Spend is rounded to cents
    * BEFORE ranking so rank order (and thus the weighted sum) is
    * identical cross-engine.
    */
  val q167 = Q(
    "q167_spend_gini",
    (s, dir) => {
      val spend = Tables.t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(P.moneySum(col("o_totalprice")).as("x"))
      val ranked = Dist.globalRank(
        spend, Seq(col("x"), col("o_custkey")), "i", 16)
      ranked.agg(
        count(lit(1)).as("n_customers"),
        round(
          (lit(2.0) * sum(col("i") * col("x"))) /
            (count(lit(1)) * sum(col("x"))) -
            (count(lit(1)) + 1).cast("double") / count(lit(1)),
          6).as("gini"))
    },
    Some(s"""WITH spend AS (
      |  SELECT o_custkey, ${P.moneySumSql("o_totalprice")} AS x
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend)
      |SELECT count(*) AS n_customers,
      |  round(2.0 * sum(i * x) / (count(*) * sum(x))
      |    - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini
      |FROM ranked""".stripMargin))

  /** Day-of-week seasonality index: average daily revenue per weekday
    * relative to the overall daily average. Weekday comes from
    * explicit epoch-day modulo (1970-01-01 was a Thursday) — calendar
    * functions disagree across engines on week start, integer math
    * doesn't.
    */
  val q172 = Q(
    "q172_weekday_seasonality",
    (s, dir) => {
      // daily revenue in decimal (exact); the weekday/overall averages
      // then re-sum the exact daily totals in decimal too, so both
      // engines divide the same numerator — see Portable.moneyAvg
      val daily = Tables.t(s, dir, "orders")
        .groupBy(floor(unix_timestamp(col("o_orderdate")) / 86400).as("day"))
        .agg(P.moneySum(col("o_totalprice")).as("rev"))
      val overall = daily.agg(P.moneyAvg(col("rev")).as("mu"))
      daily
        .withColumn("dow", pmod(col("day") + 4, lit(7))) // 0 = Sunday
        .groupBy("dow")
        .agg(count(lit(1)).as("n_days"), P.moneyAvg(col("rev")).as("avg_rev"))
        .crossJoin(broadcast(overall))
        .select(col("dow"), col("n_days"), col("avg_rev"),
          round(col("avg_rev") / col("mu"), 5).as("index"))
        .orderBy("dow")
    },
    Some(s"""WITH daily AS (
      |  SELECT CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
      |    ${P.moneySumSql("o_totalprice")} AS rev
      |  FROM orders GROUP BY 1),
      |o AS (SELECT ${P.moneyAvgSql("rev")} AS mu FROM daily)
      |SELECT (day + 4) % 7 AS dow, count(*) AS n_days,
      |  ${P.moneyAvgSql("rev")} AS avg_rev,
      |  round(${P.moneyAvgSql("rev")} / mu, 5) AS index
      |FROM daily CROSS JOIN o
      |GROUP BY 1, mu ORDER BY dow""".stripMargin))

  /** Conversion-latency distribution: minutes from each user's signup
    * to their first purchase — min/median/p90 over per-user
    * latencies. Two tiny aggregates after a per-user rollup; the
    * latencies are exact integer minutes so the quantiles interpolate
    * identically cross-engine.
    */
  val q173 = Q(
    "q173_time_to_convert",
    (s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", unix_timestamp(col("ts"))))
            .as("s0"),
          min(when(col("event_type") === "purchase", unix_timestamp(col("ts"))))
            .as("p0"))
        .filter(col("s0").isNotNull && col("p0").isNotNull &&
          col("p0") >= col("s0"))
        .select(floor((col("p0") - col("s0")) / 60).as("mins"))
      // histogram-fed quantiles (q125 pattern): the latency domain is
      // bounded by the observation window in minutes, not by the user
      // count, so the global percentile buffer stays constant-size at
      // any corpus scale
      per.groupBy("mins").agg(count(lit(1)).as("f"))
        .agg(
          sum("f").as("n_users"),
          min("mins").as("min_mins"),
          round(expr("percentile(mins, 0.5, f)"), 1).as("median_mins"),
          round(expr("percentile(mins, 0.9, f)"), 1).as("p90_mins"))
    },
    Some("""WITH per AS (
      |  SELECT CAST(floor((p0 - s0) / 60) AS BIGINT) AS mins FROM (
      |    SELECT
      |      min(CASE WHEN event_type = 'signup'
      |        THEN floor(epoch(ts)) END) AS s0,
      |      min(CASE WHEN event_type = 'purchase'
      |        THEN floor(epoch(ts)) END) AS p0
      |    FROM events GROUP BY user_id)
      |  WHERE s0 IS NOT NULL AND p0 IS NOT NULL AND p0 >= s0)
      |SELECT count(*) AS n_users, min(mins) AS min_mins,
      |  round(median(mins), 1) AS median_mins,
      |  round(quantile_cont(mins, 0.9), 1) AS p90_mins
      |FROM per""".stripMargin))

  /** Hierarchy percent-of-parent: each nation's revenue share within
    * its region and the region's share of the grand total — the
    * drill-down ratio pair every BI rollup carries. Both windows run
    * over the nation-level AGGREGATE (O(nations) rows), so the
    * "global" window is free; the heavy lifting happened in the
    * broadcast-dim join + groupBy.
    */
  val q176 = Q(
    "q176_hierarchy_shares",
    (s, dir) => {
      val nat = Tables.t(s, dir, "orders")
        .join(broadcast(Tables.t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(P.moneySum(col("o_totalprice")).as("rev"))
      val wRegion = Window.partitionBy("r_name")
      val wAll = Window.partitionBy()
      nat
        .withColumn("share_of_region",
          round(col("rev") / sum("rev").over(wRegion), 6))
        .withColumn("region_share",
          round(sum("rev").over(wRegion) / sum("rev").over(wAll), 6))
        .select(col("r_name"), col("n_name"), col("rev"),
          col("share_of_region"), col("region_share"))
        .orderBy("r_name", "n_name")
    },
    Some(s"""WITH nat AS (
      |  SELECT r_name, n_name, ${P.moneySumSql("o_totalprice")} AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, rev,
      |  round(rev / sum(rev) OVER (PARTITION BY r_name), 6) AS share_of_region,
      |  round(sum(rev) OVER (PARTITION BY r_name) / sum(rev) OVER (), 6)
      |    AS region_share
      |FROM nat ORDER BY r_name, n_name""".stripMargin))

  /** Exponentially-weighted moving average of each customer's order
    * values — the time-series smoother behind drift monitors and
    * spend forecasting. EWMA is a sequential recurrence
    * (sₙ = 0.2·xₙ + 0.8·sₙ₋₁), the one shape windows can't express,
    * so each key's history is folded IN ORDER with one array
    * aggregate: parallel across keys, sequential only within a key,
    * array length bounded by per-customer activity (never corpus
    * size). Both engines seed with the first element and fold
    * identical doubles in identical order, so the unrounded result is
    * bit-equal — rounding an EWMA is the half-boundary trap README
    * documents for quotients.
    */
  val q178 = Q(
    "q178_ewma_order_values",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .select(col("o_custkey"), struct(
          col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice")).as("r"))
        .groupBy("o_custkey")
        .agg(array_sort(collect_list(col("r"))).as("rs"),
          count(lit(1)).as("n_orders"))
        .withColumn("xs", transform(col("rs"), r => r.getField("o_totalprice")))
        .withColumn("ewma", aggregate(
          expr("slice(xs, 2, size(xs) - 1)"), col("xs")(0),
          (acc, x) => acc * lit(0.8) + x * lit(0.2)))
        .filter(col("n_orders") >= 5)
        .select(col("o_custkey"), col("n_orders"), col("ewma"))
        .orderBy("o_custkey")
    },
    Some("""WITH s AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    list(CAST(o_totalprice AS DOUBLE)
      |         ORDER BY o_orderdate, o_orderkey) AS xs
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey, n_orders,
      |  list_reduce(xs, (acc, x) -> acc * 0.8 + x * 0.2) AS ewma
      |FROM s WHERE n_orders >= 5
      |ORDER BY o_custkey""".stripMargin))

  /** Per-nation revenue trend: the OLS slope of monthly revenue over
    * a month index. Slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — pure
    * distributive aggregates, so it scales as one partial+final pass.
    * Every accumulator is EXACT: x is an int month index, y a 2-dp
    * money sum carried in decimal, x·y exact in decimal(28,2) — so
    * the only float op is the final division of identical exact
    * operands, and the cross-engine result is bit-equal with no
    * fold-order exposure (the README money-sum discipline applied to
    * a second-moment statistic).
    */
  val q179 = Q(
    "q179_revenue_trend_slope",
    (s, dir) => {
      val monthly = Tables.t(s, dir, "orders")
        .join(broadcast(Tables.t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("xm"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      monthly
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_months"),
          sum(col("xm")).as("sx"),
          sum(col("rev")).as("sy"),
          sum((col("xm") * col("rev")).cast("decimal(28,4)")).as("sxy"),
          sum(col("xm") * col("xm")).as("sxx"))
        .select(col("n_name"), col("n_months"),
          ((col("n_months") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n_months") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"))
        .orderBy("n_name")
    },
    Some("""WITH monthly AS (
      |  SELECT n_name,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS xm,
      |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, count(*) AS n_months,
      |  CAST(count(*) * sum(CAST(xm * rev AS DECIMAL(28,4))) - sum(xm) * sum(rev) AS DOUBLE) /
      |  CAST(count(*) * sum(xm * xm) - sum(xm) * sum(xm) AS DOUBLE) AS slope
      |FROM monthly
      |GROUP BY 1
      |ORDER BY n_name""".stripMargin))

  /** Peak concurrent sessions per day by sweep line: sessionized
    * events become ±1 boundary deltas, the running concurrency is a
    * GLOBAL cumulative sum over (t, delta) — [[Dist.globalCumsumBy]]
    * range-bucketed two-phase cumsum, never a single-partition
    * window — and the daily report is one max per day bucket.
    * Boundaries are pre-aggregated to distinct (t, delta) keys so the
    * cumsum's total order is unique (the Dist contract). Ends sort
    * before starts at the same second (delta −1 < +1 ≡ half-open
    * intervals). Concurrency is sampled at boundary events — the
    * standard sweep-line output; days without boundaries don't
    * report.
    */
  val q214 = Q(
    "q214_concurrency_sweep",
    (s, dir) => {
      val sess = Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(
          unix_timestamp(col("session_window.start")).as("sstart"),
          unix_timestamp(col("session_window.end")).as("send"))
      val bounds = sess.select(col("sstart").as("t"), lit(1L).as("d"))
        .unionAll(sess.select(col("send").as("t"), lit(-1L).as("d")))
        .groupBy("t", "d").agg(sum("d").as("delta"))
      val run = Dist.globalCumsumBy(
        bounds, Seq(col("t"), col("d")), Seq("delta"), 32)
      run
        .groupBy(floor(col("t") / 86400).cast("long").as("day"))
        .agg(max("delta_cum").cast("long").as("peak_concurrency"))
        .orderBy("day")
    },
    Some("""WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |sess AS (
      |  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS sstart,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS send
      |  FROM numbered GROUP BY user_id, sid),
      |bounds AS (
      |  SELECT t, d, sum(d) AS delta FROM (
      |    SELECT sstart AS t, CAST(1 AS BIGINT) AS d FROM sess
      |    UNION ALL SELECT send, CAST(-1 AS BIGINT) FROM sess)
      |  GROUP BY t, d),
      |run AS (
      |  SELECT t, sum(delta) OVER (ORDER BY t, d
      |    ROWS UNBOUNDED PRECEDING) AS conc
      |  FROM bounds)
      |SELECT CAST(floor(t / 86400) AS BIGINT) AS day,
      |  CAST(max(conc) AS BIGINT) AS peak_concurrency
      |FROM run GROUP BY 1 ORDER BY day""".stripMargin))

  /* Experimentation analytics: A/B lift with a Welch z-statistic over
    * hash-assigned arms, and expanding-window time-series CV folds.
    * Each is one or two aggregations over the fact table — the
    * per-group frames they window over are bounded by arm/band/year
    * cardinality, never by corpus size.
    */

  /** A/B experiment readout: users are split into two arms by the
    * portable 60-bit md5 of their id (deterministic, balanced,
    * reproducible across engines and cluster sizes — the way a real
    * experiment assigns by identity hash, not RNG), the metric is
    * per-user purchase value, and the output is one row with arm
    * means, relative lift, and a Welch z-score. All sums accumulate
    * in decimal (exact, fold-order-free); the variance identity
    * Σx² − (Σx)²/n runs in double FROM those exact decimals, so both
    * engines do identical IEEE arithmetic. Scale: one groupBy user,
    * one groupBy arm (2 rows), nothing else.
    */
  val q222 = Q(
    "q222_ab_lift_ztest",
    (s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)).cast("decimal(18,4)")).cast("decimal(18,4)")
          .as("x"))
        .withColumn("arm", P.md5Long(col("user_id").cast("string")) % 2)
      val arms = perUser.groupBy("arm").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      val a = arms.filter(col("arm") === 0)
        .select(col("n").as("na"), col("sx").as("sxa"), col("sxx").as("sxxa"))
      val b = arms.filter(col("arm") === 1)
        .select(col("n").as("nb"), col("sx").as("sxb"), col("sxx").as("sxxb"))
      a.crossJoin(broadcast(b))
        .select(
          col("na"), col("nb"),
          round(col("sxa").cast("double") / col("na"), 6).as("mean_a"),
          round(col("sxb").cast("double") / col("nb"), 6).as("mean_b"),
          round((col("sxb").cast("double") / col("nb") -
            col("sxa").cast("double") / col("na")) /
            (col("sxa").cast("double") / col("na")) * 100, 6).as("lift_pct"),
          round(
            (col("sxb").cast("double") / col("nb") -
              col("sxa").cast("double") / col("na")) /
              sqrt(
                ((col("sxxa").cast("double") -
                  col("sxa").cast("double") * col("sxa").cast("double") / col("na")) /
                  (col("na") - 1)) / col("na") +
                ((col("sxxb").cast("double") -
                  col("sxb").cast("double") * col("sxb").cast("double") / col("nb")) /
                  (col("nb") - 1)) / col("nb")), 6).as("z_score"))
    },
    Some(s"""WITH per_user AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value
      |                       ELSE 0.0 END AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x,
      |    ${P.md5LongSql("CAST(user_id AS VARCHAR)")} % 2 AS arm
      |  FROM events GROUP BY user_id),
      |arms AS (
      |  SELECT arm, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
      |  FROM per_user GROUP BY arm),
      |a AS (SELECT n AS na, sx AS sxa, sxx AS sxxa FROM arms WHERE arm = 0),
      |b AS (SELECT n AS nb, sx AS sxb, sxx AS sxxb FROM arms WHERE arm = 1)
      |SELECT na, nb,
      |  round(CAST(sxa AS DOUBLE) / na, 6) AS mean_a,
      |  round(CAST(sxb AS DOUBLE) / nb, 6) AS mean_b,
      |  round((CAST(sxb AS DOUBLE) / nb - CAST(sxa AS DOUBLE) / na)
      |        / (CAST(sxa AS DOUBLE) / na) * 100, 6) AS lift_pct,
      |  round((CAST(sxb AS DOUBLE) / nb - CAST(sxa AS DOUBLE) / na)
      |        / sqrt(
      |            ((CAST(sxxa AS DOUBLE)
      |              - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE) / na) / (na - 1)) / na
      |          + ((CAST(sxxb AS DOUBLE)
      |              - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE) / nb) / (nb - 1)) / nb),
      |        6) AS z_score
      |FROM a, b""".stripMargin))

  /** Expanding-window time-series CV folds: each order year is a
    * test fold whose training window is every EARLIER year — the
    * backtest split a forecasting pipeline needs, with leakage
    * impossible by construction (train strictly precedes test).
    * Revenue accumulates per year in exact decimal and the expanding
    * sums run over the ≤#years aggregated frame, so no
    * data-proportional window and no double fold-order. Output: one
    * row per test year with train/test order counts and revenue.
    */
  val q225 = Q(
    "q225_time_series_folds",
    (s, dir) => {
      val byYear = Tables.t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("int").as("test_year"))
        .agg(count(lit(1)).as("test_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      val w = Window.orderBy("test_year")
        .rowsBetween(Window.unboundedPreceding, -1)
      byYear
        .withColumn("train_orders",
          coalesce(sum("test_orders").over(w), lit(0L)).cast("long"))
        .withColumn("train_revenue",
          round(coalesce(sum("rev").over(w), lit(0).cast("decimal(18,4)")), 2)
            .cast("double"))
        .select(col("test_year"), col("train_orders"), col("train_revenue"),
          col("test_orders"),
          round(col("rev"), 2).cast("double").as("test_revenue"))
        .orderBy("test_year")
    },
    Some("""WITH by_year AS (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS test_year,
      |    count(*) AS test_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT test_year,
      |  CAST(coalesce(sum(test_orders) OVER (ORDER BY test_year
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS train_orders,
      |  CAST(round(coalesce(sum(rev) OVER (ORDER BY test_year
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    CAST(0 AS DECIMAL(18,4))), 2) AS DOUBLE) AS train_revenue,
      |  test_orders,
      |  CAST(round(rev, 2) AS DOUBLE) AS test_revenue
      |FROM by_year
      |ORDER BY test_year""".stripMargin))

  /** Time-series resample with linear interpolation (round 8) — the
    * gap-fill a metrics warehouse runs when a sparse series must land
    * on a dense calendar: q71 zero-fills and q85 forward-fills
    * (LOCF); THIS interpolates, which is what dashboards and feature
    * pipelines actually want between sparse observations. A sparse
    * series is derived deterministically (daily nation revenue, days
    * with daynum % 3 == 0 withheld), resampled onto a LITERAL
    * two-year spine, and each gap day gets
    * (prev·(m−k) + next·k) div m  (k = days since prev observation,
    * m = gap length) from one backward and one forward IGNORE NULLS
    * window — edges fall back to the nearest observed value. The
    * interpolation runs in INTEGER CENTS with a nonnegative
    * numerator, so the floor division is engine-identical; the float
    * form was abandoned after the gate caught it — money deltas are
    * 2-dp rationals, so the double quotient lands on exact .xx5 ties
    * SYSTEMATICALLY, and Spark's round (shortest-decimal HALF_UP)
    * disagrees with DuckDB's (binary-value) on every such tie. One
    * double division by 100 at the output is a single IEEE op, bit-
    * identical in both engines. Scale shape: the
    * windows run over the RESAMPLED series — partitioned by nation
    * and bounded by calendar length, never fact-sized; the fact
    * table is touched once by the daily aggregate.
    */
  val q261 = Q(
    "q261_resample_interpolate",
    (s, dir) => {
      import s.implicits._
      val dim = Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
        .filter(col("n_name").isin("NATION_0", "NATION_1", "NATION_2"))
      val daily = Tables.t(s, dir, "orders")
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderdate").between(
          to_date(lit("1996-01-01")), to_date(lit("1997-12-31"))))
        .groupBy(col("n_name"), col("o_orderdate").as("day"))
        .agg((sum(col("o_totalprice").cast("decimal(18,4)")) * 100)
          .cast("long").as("cts")) // exact integer cents
      val observed = daily
        .filter(pmod(datediff(col("day"), to_date(lit("1996-01-01"))),
          lit(3)) =!= 0)
      val spine = dim.select("n_name").distinct()
        .crossJoin(Seq(1).toDF("one").select(explode(expr(
          "sequence(DATE'1996-01-01', DATE'1997-12-31', interval 1 day)"))
          .as("day")))
      val w = Window.partitionBy("n_name").orderBy("day")
      val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val dn = datediff(col("day"), to_date(lit("1996-01-01")))
      spine.join(observed, Seq("n_name", "day"), "left")
        .withColumn("dn", dn.cast("long"))
        .withColumn("pv", last(col("cts"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("cts").isNotNull, col("dn")),
          ignoreNulls = true).over(back))
        .withColumn("nv", first(col("cts"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("cts").isNotNull, col("dn")),
          ignoreNulls = true).over(fwd))
        .withColumn("icts",
          when(col("cts").isNotNull, col("cts"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(expr(
              "(pv * (nd - dn) + nv * (dn - pd)) div (nd - pd)")))
        .select(col("n_name"), col("day"),
          col("cts").isNotNull.as("observed"),
          (col("icts").cast("double") / 100.0).as("value"))
        .orderBy("n_name", "day")
    },
    Some("""WITH dim AS (
      |  SELECT c_custkey, n_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2')),
      |daily AS (
      |  SELECT n_name, o_orderdate AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS BIGINT)
      |      AS cts
      |  FROM orders JOIN dim ON o_custkey = c_custkey
      |  WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      |  GROUP BY 1, 2),
      |observed AS (
      |  SELECT * FROM daily
      |  WHERE datediff('day', DATE '1996-01-01', day) % 3 <> 0),
      |spine AS (
      |  SELECT n_name, CAST(d AS DATE) AS day
      |  FROM (SELECT DISTINCT n_name FROM dim)
      |  CROSS JOIN (SELECT unnest(generate_series(DATE '1996-01-01',
      |    DATE '1997-12-31', INTERVAL 1 DAY)) AS d)),
      |f AS (
      |  SELECT s.n_name, s.day, o.cts,
      |    CAST(datediff('day', DATE '1996-01-01', s.day) AS BIGINT) AS dn,
      |    last_value(o.cts IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN o.cts IS NOT NULL THEN
      |        CAST(datediff('day', DATE '1996-01-01', s.day) AS BIGINT)
      |      END IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |    first_value(o.cts IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN o.cts IS NOT NULL THEN
      |        CAST(datediff('day', DATE '1996-01-01', s.day) AS BIGINT)
      |      END IGNORE NULLS) OVER (
      |      PARTITION BY s.n_name ORDER BY s.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM spine s LEFT JOIN observed o
      |    ON s.n_name = o.n_name AND s.day = o.day)
      |SELECT n_name, day, cts IS NOT NULL AS observed,
      |  CAST(CASE WHEN cts IS NOT NULL THEN cts
      |            WHEN pv IS NULL THEN nv
      |            WHEN nv IS NULL THEN pv
      |            ELSE (pv * (nd - dn) + nv * (dn - pd)) // (nd - pd)
      |       END AS DOUBLE) / 100.0 AS value
      |FROM f ORDER BY n_name, day""".stripMargin))

  val all: Vector[Q] =
    Vector(q72, q79, q85, q152, q153, q154, q155, q156, q157, q158, q159,
      q161, q165, q166, q167, q172, q173, q176, q178, q179, q214, q222,
      q225, q261)
}
