package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Dist
import org.apache.spark.sql.functions._

/** Analytics additions, third batch: sweep-line interval concurrency
  * and market-basket association rules.
  */
object Analytics3 {

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

  /** Association rules over co-purchase pairs: support, confidence
    * and lift for every pair with support ≥ 2, top-10 by lift. All
    * inputs are exact integer counts; each ratio is ONE double
    * division (rounded), so ranking is reproducible. The pair space
    * is q160's orderkey-blocked join — Σ basketᵢ², never n².
    */
  val q215 = Q(
    "q215_association_rules",
    (s, dir) => {
      // pin the distinct basket items ONCE (r10): the frame feeds the
      // order count, the per-item supports, and BOTH sides of the
      // within-order self-join — unpinned, the fact-table distinct
      // (the query's dominant shuffle) re-ran four times
      val li = Pins.pin(Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct())
      val nOrders = li.select("o").distinct().count()
      val item = li.groupBy(col("p")).agg(count(lit(1)).as("n_item"))
      val pairs = graft.graph.Baskets.pairCounts(li, "part_a", "part_b", "n_pair")
        .filter(col("n_pair") >= 2)
      // no forced broadcast: the item-count table is #parts rows —
      // dimension-sized today, but at 1000× it outgrows broadcast
      // comfort; AQE picks broadcast while it fits and falls back to
      // a key-partitioned join when it doesn't
      pairs
        .join(item.select(col("p").as("part_a"), col("n_item").as("n_a")), "part_a")
        .join(item.select(col("p").as("part_b"), col("n_item").as("n_b")), "part_b")
        .withColumn("confidence", round(col("n_pair").cast("double") / col("n_a"), 6))
        .withColumn("lift", round(
          (col("n_pair") * lit(nOrders)).cast("double") / (col("n_a") * col("n_b")), 6))
        .select("part_a", "part_b", "n_pair", "confidence", "lift")
        .orderBy(col("lift").desc, col("part_a"), col("part_b"))
        .limit(10)
    },
    Some("""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
      |item AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_pair
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT part_a, part_b, n_pair,
      |  round(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
      |  round(CAST(n_pair * n_orders AS DOUBLE) / (ia.n_item * ib.n_item), 6)
      |    AS lift
      |FROM pairs
      |JOIN item ia ON ia.pk = part_a
      |JOIN item ib ON ib.pk = part_b
      |CROSS JOIN n
      |ORDER BY lift DESC, part_a, part_b LIMIT 10""".stripMargin))

  val all: Vector[Q] = Vector(q214, q215)
}
