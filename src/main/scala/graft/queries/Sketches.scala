package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import graft.functions.{Portable => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketches doing the jobs they exist for: count-min heavy hitters
  * and join-size estimates, a hybrid skew join on the heaviest keys,
  * join-order selection from sketches, and HyperLogLog rolling,
  * overlap and view-maintenance counts, each audited against the exact
  * answer in its output. The count-min helpers (`cms…`) live here.
  */
object Sketches {

  /** Count-min-sketch heavy hitters, self-audited (the q60 sketch
    * pattern): the exact top-20 token panel is recomputed alongside a
    * CMS over the full token stream, and each panel row carries a
    * verdict that the sketch estimate sits inside the CMS guarantee
    * band [exact, exact + eps·N]. The sketch is the 100 TB shape —
    * mergeable, map-side-combining, constant size — while the exact
    * top-20 is one (token) shuffle; only the 20-row panel and the one
    * sketch row ever reach the driver. CMS adds are commutative
    * integer cell sums, so the estimate is fold-order-free.
    * Reference scope: SURVEY §2.13 L4 (frequency analysis) — the
    * reference delegates all frequency work to full GROUP BYs.
    */
  val q199 = Q(
    "q199_heavy_hitters_cms",
    (s, dir) => {
      val eps = 0.001
      val toks = Tables.docs(s, dir)
        .select(explode(Portable.tokens(col("text"))).as("token"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)
      // one row: (sketch bytes, total occurrences) — bounded collect
      val row = toks.agg(
        expr(s"count_min_sketch(token, ${eps}d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n")).head()
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("cms")))
      val n = row.getAs[Long]("n")
      val bound = math.ceil(eps * n).toLong
      val panel = exact.collect().toSeq.map { r =>
        val t = r.getAs[String]("token"); val c = r.getAs[Long]("cnt")
        val est = cms.estimateCount(t)
        (t, c, est >= c && est <= c + bound)
      }
      import s.implicits._
      panel.toDF("token", "cnt", "est_ok")
        .orderBy(col("cnt").desc, col("token"))
    },
    Some(s"""WITH toks AS (
      |  SELECT unnest(${Portable.tokensSql("text")}) AS token FROM documents)
      |SELECT token, count(*) AS cnt, TRUE AS est_ok
      |FROM toks GROUP BY 1
      |ORDER BY cnt DESC, token LIMIT 20""".stripMargin))

  /** Count-min counters of `(seed, k)` rows: the portable md5 cell of
    * "cms:<seed>:<k>" in 1024 cells, counted per (seed, cell) as `out`.
    */
  private def cmsCounts(seeded: DataFrame, out: String): DataFrame =
    seeded
      .select(col("seed"),
        pmod(P.md5Long(concat_ws(":", lit("cms"), col("seed").cast("string"),
          col("k").cast("string"))), lit(1024)).as("cell"))
      .groupBy("seed", "cell").agg(count(lit(1)).as(out))

  /** The join-size estimate of two sketches: the minimum over seeds of
    * the counters' inner product, one row `est`.
    */
  private def cmsJoinSize(ca: DataFrame, cb: DataFrame, est: String): DataFrame =
    ca.join(cb, Seq("seed", "cell"))
      .groupBy("seed").agg(sum(col("ca") * col("cb")).as("est_d"))
      .agg(min("est_d").as(est))

  /** DuckDB twin of [[cmsCounts]] over query `src`'s column `key`. */
  private def cmsCountsSql(src: String, key: String, out: String): String =
    s"""SELECT seed,
       |  ${P.md5LongSql(s"concat('cms:', seed, ':', $key)")} % 1024 AS cell,
       |  count(*) AS $out
       |FROM ($src) CROSS JOIN (SELECT unnest(range(4)) AS seed) seeds
       |GROUP BY 1, 2""".stripMargin

  /** Count-min-sketch join cardinality estimation. A distributed
    * optimizer deciding join order / broadcast eligibility needs
    * |A ⋈ B| BEFORE running the join; per-key histograms are
    * Θ(distinct keys) and unshippable at warehouse scale, but a
    * count-min sketch is 4×1024 counters per side REGARDLESS of
    * table size, mergeable map-side, and its inner product
    * min_d Σ_w a[d][w]·b[d][w] upper-bounds the true join size
    * (Cormode & Muthukrishnan 2005). This operator sketches both
    * sides of three TPC-H joins (portable md5-derived cells, pure
    * integer arithmetic throughout), estimates each join size from
    * the sketches alone, and audits against the exact size — which
    * is itself computed scale-safely as Σ_k cnt_A(k)·cnt_B(k) over
    * the per-key aggregates, never by materializing the join.
    * Guarantee in the output: est ≥ exact always (one-sided error).
    */
  val q245 = Q(
    "q245_join_size_sketch",
    (s, dir) => {
      import s.implicits._
      def sketch(df: DataFrame, key: String, out: String): DataFrame =
        // spread before the 4x explode: the md5 cell per exploded row
        // dominates and the key projection shuffles for ~nothing
        // (Tables.docs rule; the sf0.1 scans are one split)
        cmsCounts(df.select(col(key).cast("long").as("k"))
          .repartition(df.sparkSession.sparkContext.defaultParallelism)
          .select(explode(sequence(lit(0), lit(3))).as("seed"), col("k")), out)
      def exact(a: DataFrame, ka: String, b: DataFrame, kb: String): DataFrame = {
        val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("ca"))
        val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cb"))
        ca.join(cb, "k").agg(sum(col("ca") * col("cb")).as("exact"))
      }
      def one(name: String, a: DataFrame, ka: String,
              b: DataFrame, kb: String): DataFrame = {
        cmsJoinSize(sketch(a, ka, "ca"), sketch(b, kb, "cb"), "est").crossJoin(exact(a, ka, b, kb))
          .select(lit(name).as("join_name"), col("est"), col("exact"),
            round((col("est") - col("exact")).cast("double") /
              col("exact"), 4).as("rel_err"))
      }
      val o = Tables.t(s, dir, "orders")
      val c = Tables.t(s, dir, "customer")
      val li = Tables.t(s, dir, "lineitem")
      val p = Tables.t(s, dir, "part")
      val su = Tables.t(s, dir, "supplier")
      one("lineitem_part", li, "l_partkey", p, "p_partkey")
        .unionByName(one("lineitem_supplier", li, "l_suppkey", su, "s_suppkey"))
        .unionByName(one("orders_customer", o, "o_custkey", c, "c_custkey"))
        .orderBy("join_name")
    },
    Some {
      def oneSql(name: String, ta: String, ka: String,
                 tb: String, kb: String): String =
        s"""SELECT '$name' AS join_name, est, exact,
           |  round(CAST(est - exact AS DOUBLE) / exact, 4) AS rel_err
           |FROM (
           |  SELECT CAST(min(est_d) AS BIGINT) AS est FROM (
           |    SELECT sa.seed, CAST(sum(sa.ca * sb.cb) AS BIGINT) AS est_d
           |    FROM (${cmsCountsSql(s"SELECT * FROM $ta", ka, "ca")}) sa
           |    JOIN (${cmsCountsSql(s"SELECT * FROM $tb", kb, "cb")}) sb
           |      ON sa.seed = sb.seed AND sa.cell = sb.cell
           |    GROUP BY 1))
           |CROSS JOIN (
           |  SELECT CAST(sum(ca * cb) AS BIGINT) AS exact FROM
           |    (SELECT $ka AS k, count(*) AS ca FROM $ta GROUP BY 1) xa
           |    JOIN (SELECT $kb AS k, count(*) AS cb FROM $tb GROUP BY 1) xb
           |    USING (k))""".stripMargin
      s"""${oneSql("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")}
         |UNION ALL
         |${oneSql("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
         |UNION ALL
         |${oneSql("orders_customer", "orders", "o_custkey", "customer", "c_custkey")}
         |ORDER BY join_name""".stripMargin
    })

  /** Hybrid hot/cold skew join. AQE's skew handling splits oversized
    * SHUFFLE partitions, but when a handful of keys each carry far
    * more fact rows than the rest, the scale-robust plan is
    * key-level routing: detect the hot keys as the TOP-K heaviest
    * (K = 100, count-desc with key tie-break — one per-key count pass
    * ending in a TakeOrdered, so the hot frame is ≤ K rows BY
    * CONSTRUCTION at any corpus size; round 7 used an absolute
    * `cnt ≥ 20` cut, which under TPC-H's ~15-orders-per-customer
    * density admitted 10–15% of all keys and grew linearly with the
    * key space — ADVICE r7 #2), broadcast ONLY
    * those keys' dimension rows to the hot fact rows, and let the
    * long tail keep the plain shuffle join — no salting replication
    * cost on 99% of the data, no straggler reducer on the hot 1%.
    * Output keeps per-route attribution (`hot`/`cold` row and money
    * totals per market segment) so the routing is auditable, and the
    * oracle is the PLAIN join with the same routing label — layout
    * and routing must never change answers. Complements
    * [[graft.functions.Skew.saltedJoin]] (which replicates the dim
    * across all salts) and q76's salted aggregate.
    */
  val q246 = Q(
    "q246_hybrid_skew_join",
    (s, dir) => {
      val o = Tables.t(s, dir, "orders")
        .select("o_custkey", "o_totalprice")
      val c = Tables.t(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
      val hot = o.groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("o_custkey"))
        .limit(100)
        .select(col("o_custkey").as("hk"))
      val factHot = o.join(broadcast(hot),
        col("o_custkey") === col("hk"), "left_semi")
      val factCold = o.join(broadcast(hot),
        col("o_custkey") === col("hk"), "left_anti")
      val dimHot = c.join(hot, col("c_custkey") === col("hk"), "left_semi")
      val routed = factHot
        .join(broadcast(dimHot), col("o_custkey") === col("c_custkey"))
        .withColumn("route", lit("hot"))
        .unionByName(
          factCold.join(c, col("o_custkey") === col("c_custkey"))
            .withColumn("route", lit("cold")))
      routed.groupBy("c_mktsegment", "route")
        .agg(count(lit(1)).as("n_orders"),
          P.moneySum(col("o_totalprice")).as("spend"))
        .orderBy("c_mktsegment", "route")
    },
    Some(s"""WITH hot AS (
      |  SELECT o_custkey AS hk FROM (
      |    SELECT o_custkey, count(*) AS cnt FROM orders
      |    GROUP BY 1 ORDER BY cnt DESC, o_custkey LIMIT 100))
      |SELECT c_mktsegment,
      |  CASE WHEN o_custkey IN (SELECT hk FROM hot)
      |       THEN 'hot' ELSE 'cold' END AS route,
      |  count(*) AS n_orders,
      |  ${P.moneySumSql("o_totalprice")} AS spend
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2
      |ORDER BY c_mktsegment, route""".stripMargin))

  /* Sketches doing the jobs they exist for at
    * 100 TB — driving the optimizer (join-order selection from
    * count-min sketches), answering windowed distincts from mergeable
    * daily HLL sketches without rescanning events, and estimating
    * pairwise set overlaps from per-source sketches without pairwise
    * scans. Each output audits the sketch against an exact value
    * computed scale-safely (the q60 pattern: the oracle pins the exact
    * side and the sketch must land inside a bound that a broken sketch
    * fails).
    */

  /** Sketch-driven star-join ORDER selection — what a distributed CBO
    * does with shipped statistics. Three filtered dimensions hang off
    * lineitem (part p_size<15, supplier s_nationkey<10, orders
    * priority<'4'); the cost of a left-deep order D1>D2>D3 is the sum
    * of intermediate sizes |li⋈D1| + |li⋈D1⋈D2|. Estimates come ONLY
    * from constant-size count-min sketches (4×1024 counters per side,
    * q245's cells) + the fact count: est|li⋈D| by CMS inner product,
    * the second hop by independence est₁·est(D2)/N — computed in pure
    * integer arithmetic via the split-multiply identity
    * ⌊e₁e₂/N⌋ = (e₁ div N)·e₂ + (e₂ div N)·(e₁ mod N)
    *          + ((e₁ mod N)·(e₂ mod N)) div N,
    * whose every intermediate is bounded by max(e₁e₂/N, N²) — the
    * naive (e₁·e₂) div N overflowed 2⁶³ at sf10 (round-8 gate run),
    * where CMS estimates reach ~10¹² each; the identity stays
    * BIGINT-exact at any scale where the ANSWER fits. The exact audit
    * never materializes a join: per-row membership flags from three
    * key semi-joins, then ONE aggregate yields all 3 single and 3
    * pairwise intermediate sizes. Output: all 6 orders with estimated
    * and exact cost and both rank columns — the plan choice AND
    * whether the sketches ranked it right.
    */
  val q250 = Q(
    "q250_join_order_from_sketches",
    (s, dir) => {
      import s.implicits._
      val li = Pins.pin(Tables.t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          col("l_orderkey").as("ok"))
        // spread before the pin: the pin inherits the scan's split
        // count (ONE at sf0.1 — single row group) and feeds 3
        // md5-dense sketch passes + the flag pass (Tables.docs rule)
        .repartition(s.sparkContext.defaultParallelism)) // feeds 3 sketches + the flag pass
      val pKeys = Tables.t(s, dir, "part").filter(col("p_size") < 15)
        .select(col("p_partkey").as("dk"))
      val sKeys = Tables.t(s, dir, "supplier").filter(col("s_nationkey") < 10)
        .select(col("s_suppkey").as("dk"))
      val oKeys = Tables.t(s, dir, "orders")
        .filter(col("o_orderpriority") < "4")
        .select(col("o_orderkey").as("dk"))
      def sketch(df: DataFrame, key: String, out: String): DataFrame =
        cmsCounts(df.select(explode(sequence(lit(0), lit(3))).as("seed"),
          col(key).cast("long").as("k")), out)
      def est(dim: DataFrame, name: String): DataFrame =
        cmsJoinSize(sketch(li, name, "ca"), sketch(dim, "dk", "cb"), s"est_$name")
      // ONE pass over the fact computes every exact intermediate size
      val flags = li
        .join(pKeys.withColumn("fp", lit(1L)), col("pk") === pKeys("dk"), "left")
        .drop("dk")
        .join(sKeys.withColumn("fs", lit(1L)), col("sk") === sKeys("dk"), "left")
        .drop("dk")
        .join(oKeys.withColumn("fo", lit(1L)), col("ok") === oKeys("dk"), "left")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("fp"), lit(0L))).as("cp"),
          sum(coalesce(col("fs"), lit(0L))).as("cs"),
          sum(coalesce(col("fo"), lit(0L))).as("co"),
          sum(coalesce(col("fp") * col("fs"), lit(0L))).as("cps"),
          sum(coalesce(col("fp") * col("fo"), lit(0L))).as("cpo"),
          sum(coalesce(col("fs") * col("fo"), lit(0L))).as("cso"))
      val stats = Pins.pin(flags
        .crossJoin(est(pKeys, "pk")).crossJoin(est(sKeys, "sk"))
        .crossJoin(est(oKeys, "ok"))) // 1 row
      val perms = Seq(
        ("part>supplier>orders", "p", "s"), ("part>orders>supplier", "p", "o"),
        ("supplier>part>orders", "s", "p"), ("supplier>orders>part", "s", "o"),
        ("orders>part>supplier", "o", "p"), ("orders>supplier>part", "o", "s"))
        .toDF("join_order", "d1", "d2")
      val costed = stats.crossJoin(broadcast(perms))
        .withColumn("e1", expr(
          "CASE d1 WHEN 'p' THEN est_pk WHEN 's' THEN est_sk ELSE est_ok END"))
        .withColumn("e2", expr(
          "CASE d2 WHEN 'p' THEN est_pk WHEN 's' THEN est_sk ELSE est_ok END"))
        .withColumn("est_cost", expr(
          """e1 + (e1 div n) * e2 + (e2 div n) * (e1 % n) +
             ((e1 % n) * (e2 % n)) div n"""))
        .withColumn("exact_cost", expr("""
          CASE d1 WHEN 'p' THEN cp WHEN 's' THEN cs ELSE co END +
          CASE WHEN d1 = 'p' AND d2 = 's' OR d1 = 's' AND d2 = 'p' THEN cps
               WHEN d1 = 'p' AND d2 = 'o' OR d1 = 'o' AND d2 = 'p' THEN cpo
               ELSE cso END"""))
      costed
        .withColumn("est_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("est_cost"), col("join_order"))))
        .withColumn("exact_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("exact_cost"), col("join_order"))))
        .select(col("join_order"), col("est_cost"), col("exact_cost"),
          col("est_rank"), col("exact_rank"))
        .orderBy("est_rank")
    },
    Some {
      def estSql(dimSrc: String, liKey: String): String =
        s"""SELECT CAST(min(e) AS BIGINT) FROM (
           |  SELECT sa.seed, sum(sa.ca * sb.cb) AS e
           |  FROM (${cmsCountsSql("SELECT * FROM lineitem", liKey, "ca")}) sa
           |  JOIN (${cmsCountsSql(dimSrc, "dk", "cb")}) sb
           |    ON sa.seed = sb.seed AND sa.cell = sb.cell
           |  GROUP BY 1)""".stripMargin
      s"""WITH stats AS (
         |  SELECT count(*) AS n,
         |    CAST(sum(fp) AS BIGINT) AS cp, CAST(sum(fs) AS BIGINT) AS cs,
         |    CAST(sum(fo) AS BIGINT) AS co,
         |    CAST(sum(fp * fs) AS BIGINT) AS cps,
         |    CAST(sum(fp * fo) AS BIGINT) AS cpo,
         |    CAST(sum(fs * fo) AS BIGINT) AS cso,
         |    (${estSql("SELECT p_partkey AS dk FROM part WHERE p_size < 15", "l_partkey")}) AS est_pk,
         |    (${estSql("SELECT s_suppkey AS dk FROM supplier WHERE s_nationkey < 10", "l_suppkey")}) AS est_sk,
         |    (${estSql("SELECT o_orderkey AS dk FROM orders WHERE o_orderpriority < '4'", "l_orderkey")}) AS est_ok
         |  FROM (
         |    SELECT
         |      CASE WHEN l_partkey IN (SELECT p_partkey FROM part
         |        WHERE p_size < 15) THEN 1 ELSE 0 END AS fp,
         |      CASE WHEN l_suppkey IN (SELECT s_suppkey FROM supplier
         |        WHERE s_nationkey < 10) THEN 1 ELSE 0 END AS fs,
         |      CASE WHEN l_orderkey IN (SELECT o_orderkey FROM orders
         |        WHERE o_orderpriority < '4') THEN 1 ELSE 0 END AS fo
         |    FROM lineitem)),
         |perms(join_order, d1, d2) AS (VALUES
         |  ('part>supplier>orders', 'p', 's'), ('part>orders>supplier', 'p', 'o'),
         |  ('supplier>part>orders', 's', 'p'), ('supplier>orders>part', 's', 'o'),
         |  ('orders>part>supplier', 'o', 'p'), ('orders>supplier>part', 'o', 's')),
         |costed AS (
         |  SELECT join_order,
         |    e1 + (e1 // n) * e2 + (e2 // n) * (e1 % n) +
         |      ((e1 % n) * (e2 % n)) // n AS est_cost,
         |    CASE d1 WHEN 'p' THEN cp WHEN 's' THEN cs ELSE co END +
         |    CASE WHEN (d1 = 'p' AND d2 = 's') OR (d1 = 's' AND d2 = 'p') THEN cps
         |         WHEN (d1 = 'p' AND d2 = 'o') OR (d1 = 'o' AND d2 = 'p') THEN cpo
         |         ELSE cso END AS exact_cost
         |  FROM (
         |    SELECT *,
         |      CASE d1 WHEN 'p' THEN est_pk WHEN 's' THEN est_sk
         |        ELSE est_ok END AS e1,
         |      CASE d2 WHEN 'p' THEN est_pk WHEN 's' THEN est_sk
         |        ELSE est_ok END AS e2
         |    FROM stats CROSS JOIN perms))
         |SELECT join_order, est_cost, exact_cost,
         |  CAST(row_number() OVER (ORDER BY est_cost, join_order) AS INTEGER)
         |    AS est_rank,
         |  CAST(row_number() OVER (ORDER BY exact_cost, join_order) AS INTEGER)
         |    AS exact_rank
         |FROM costed
         |ORDER BY est_rank""".stripMargin
    })

  /** Rolling 7-day distinct users answered from MERGEABLE daily HLL
    * sketches — the materialized-sketch pattern: the event stream is
    * scanned ONCE into one DataSketches HLL per day (lgK=12, ≤4 KB
    * each), and every 7-day window is then a union of ≤7 stored
    * sketches over the ≤#days-row sketch frame — no re-scan per
    * window, no (user × covered-day) explosion. The exact side IS
    * that explosion (q159's rolling WAU), which is the audit: the
    * sketch estimate must land within max(5%, 3) of exact on every
    * day, a bound a broken sketch or merge fails but lgK=12 (≤1.6%
    * rel. std. error) clears with margin. At 100 TB the daily
    * sketches are the stored artifact; any window length is answered
    * from them in seconds.
    */
  val q251 = Q(
    "q251_rolling_distinct_hll",
    (s, dir) => {
      // one events scan feeds sketch + exact
      val act = Pins.pin(Tables.events(s, dir)
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day")))
      val daily = Pins.pin(act.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))) // ≤#days rows
      val days = daily.select(col("day").as("d"))
      val est = daily.join(days,
          daily("day").between(col("d") - 6, col("d")))
        .groupBy("d")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("est"))
      val exact = act.distinct()
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("d"))
        .join(days.select(col("d").as("d0")), col("d") === col("d0"), "left_semi")
        .groupBy("d").agg(countDistinct(col("user_id")).as("exact_wau"))
      exact.join(est, "d")
        .select(col("d").as("day"), col("exact_wau"),
          (abs(round(col("est")) - col("exact_wau")) <=
            greatest(round(col("exact_wau") * 0.05), lit(3.0))).as("est_ok"))
        .orderBy("day")
    },
    Some(s"""WITH ${Analytics.weekCoverSql}
      |SELECT d AS day, count(DISTINCT user_id) AS exact_wau, TRUE AS est_ok
      |FROM cov WHERE d IN (SELECT day FROM act)
      |GROUP BY d ORDER BY day""".stripMargin))

  /** Pairwise vocabulary overlap across sources from per-source HLL
    * sketches + inclusion-exclusion — audience-overlap mechanics
    * applied to corpus curation ("which sources share a vocabulary"
    * drives mixture and dedup decisions). The corpus is scanned ONCE
    * into 20 per-source token sketches; all 190 pairwise
    * intersections are then |A|+|B|−|A∪B| with the union estimated
    * by the SCALAR hll_union over the 20-row sketch frame crossed
    * with itself — pair count is sources², never corpus². The exact
    * audit inverts the pair scan: distinct (token, source) self-joined
    * on token gives every pair's true intersection in Σ(sources-per-
    * token)² ≤ 400·|vocab| work. est_ok bounds the inclusion-
    * exclusion estimate by 5% of |A|+|B| (three compounding sketch
    * errors at ≤1.6% rel. std. error each clear it; a broken sketch
    * or union does not).
    */
  val q252 = Q(
    "q252_vocab_overlap_hll",
    (s, dir) => {
      val st = Pins.pin(Tables.t(s, dir, "documents")
        .select(col("source"), explode(P.tokenSet(col("text"))).as("tok"))
        .distinct()) // one corpus scan feeds sketches + exact
      val per = st.groupBy("source")
        .agg(expr("hll_sketch_agg(tok, 12)").as("sk"),
          count(lit(1)).as("vocab"))
      val pairs = per.select(col("source").as("src_a"), col("sk").as("ska"),
          col("vocab").as("vocab_a"))
        .crossJoin(per.select(col("source").as("src_b"), col("sk").as("skb"),
          col("vocab").as("vocab_b")))
        .filter(col("src_a") < col("src_b"))
        .withColumn("est_i",
          col("vocab_a") + col("vocab_b") -
            expr("hll_sketch_estimate(hll_union(ska, skb, true))"))
      val exact = st.select(col("source").as("src_a"), col("tok"))
        .join(st.select(col("source").as("src_b"), col("tok")), "tok")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter_exact"))
      pairs.join(exact, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("vocab_a"), col("vocab_b"),
          coalesce(col("inter_exact"), lit(0L)).as("inter_exact"),
          (abs(round(col("est_i")) - coalesce(col("inter_exact"), lit(0L))) <=
            round((col("vocab_a") + col("vocab_b")) * 0.05)).as("est_ok"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""WITH st AS (
      |  SELECT DISTINCT source, unnest(${P.tokenSetSql("text")}) AS tok
      |  FROM documents),
      |per AS (SELECT source, count(*) AS vocab FROM st GROUP BY source),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter_exact
      |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT pa.source AS src_a, pb.source AS src_b,
      |  pa.vocab AS vocab_a, pb.vocab AS vocab_b,
      |  coalesce(i.inter_exact, 0) AS inter_exact, TRUE AS est_ok
      |FROM per pa JOIN per pb ON pa.source < pb.source
      |LEFT JOIN inter i ON i.src_a = pa.source AND i.src_b = pb.source
      |ORDER BY src_a, src_b""".stripMargin))

  /** HLL-merge incremental view maintenance (VERDICT r7 #6) —
    * distinct-count rollups are the materialized view every warehouse
    * actually struggles with, because COUNT(DISTINCT) is not
    * algebraic: q241's sum/count delta-merge cannot maintain it, and
    * a 100 TB deployment cannot re-scan the fact table per refresh.
    * The scale answer is to store a MERGEABLE sketch as the view
    * column: each (nation, year, half) partition keeps one
    * DataSketches HLL (lgK=12, ≤4 KB), and a refresh merges the
    * snapshot partition's stored sketch with the delta partition's
    * new sketch via `hll_union_agg` — Θ(keys), never Θ(fact). The
    * 1997-01-01 cut splits orders into snapshot/delta halves exactly
    * like q241.
    *
    * The audit (REVISED r11): the original pin claimed
    * union(snapshot, delta) estimates EXACTLY what one sketch over
    * the full fact estimates, on the register-max argument. That is
    * NOT a DataSketches invariant: once keys leave sparse/coupon
    * mode (~> a few hundred distincts) the ESTIMATOR path becomes
    * topology-sensitive — measured on the r11 sf1 fixtures with
    * stock Spark SQL only (no engine code): one hll_sketch_agg over
    * a key's fact rows gave 4648 where union-of-half-sketches gave
    * 4621 (≈0.6% apart; 173 of 175 keys differed, bit-stable across
    * runs). Below that size both paths are coupon-exact and DO
    * match, which is why sf0.01 gates (and r10's fixture generation)
    * were green — topology luck, not a law. The honest cross-engine
    * pin is therefore BOTH constructions against the exact distinct
    * count: `est_merged_ok` (the IVM refresh path) and `est_full_ok`
    * (the from-scratch recompute), each within max(8%, 3) of exact.
    * lgK=12's rel. std. error is 1.625%; an ALWAYS-ON per-key
    * assertion over 175 keys needs ~5σ — the round-8 sf10 gate
    * proved 5% (3.1σ) too tight exactly as the binomial math
    * predicts; 8% = 4.9σ puts the per-run false-alarm probability
    * near 1e-4 while a broken sketch or merge still fails by orders
    * of magnitude. The TIGHT cross-path agreement (≤2% at fixed
    * topology) is pinned in SketchOpsSpec where a tolerance compare
    * is possible; a hash gate cannot express it. `n_parts` keeps
    * snapshot-only and delta-only keys visible (years < 1997 never
    * gain a delta sketch; the merge must preserve them untouched).
    */
  val q255 = Q(
    "q255_hll_view_maintenance",
    (s, dir) => {
      val cut = to_date(lit("1997-07-01"))
      val dim = Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      // one fact scan feeds sketches + exact
      val keyed = Pins.pin(Tables.t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), year(col("o_orderdate")).as("o_year"),
          col("o_custkey"), (col("o_orderdate") < cut).as("is_snap")))
      val parts = keyed.groupBy("n_name", "o_year", "is_snap")
        .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
      val merged = parts.groupBy("n_name", "o_year")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))")
            .as("est_merged"),
          count(lit(1)).cast("int").as("n_parts"))
      val recomputed = keyed.groupBy("n_name", "o_year")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 12))")
            .as("est_full"),
          countDistinct(col("o_custkey")).as("exact_customers"))
      def band(est: org.apache.spark.sql.Column) =
        abs(est - col("exact_customers")) <=
          greatest(round(col("exact_customers") * 0.08), lit(3.0))
      merged.join(recomputed, Seq("n_name", "o_year"))
        .select(col("n_name"), col("o_year"), col("exact_customers"),
          col("n_parts"),
          band(col("est_merged")).as("est_merged_ok"),
          band(col("est_full")).as("est_full_ok"))
        .orderBy("n_name", "o_year")
    },
    Some("""WITH dim AS (
      |  SELECT c_custkey, n_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |k AS (
      |  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    o_custkey, o_orderdate < DATE '1997-07-01' AS is_snap
      |  FROM orders JOIN dim ON o_custkey = c_custkey)
      |SELECT n_name, o_year,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  CAST(count(DISTINCT is_snap) AS INTEGER) AS n_parts,
      |  TRUE AS est_merged_ok, TRUE AS est_full_ok
      |FROM k GROUP BY 1, 2
      |ORDER BY n_name, o_year""".stripMargin))

  val all: Vector[Q] =
    Vector(q199, q245, q246, q250, q251, q252, q255)
}
