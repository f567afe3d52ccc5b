package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable => P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-7 third wave: warehouse-internals operators — the machinery
  * a 100 TB deployment runs around its queries rather than inside
  * them. Zone-map pruning quantifies what sort-clustered layout buys
  * a scan before anyone rewrites files; count-min join-size sketches
  * are the constant-size statistics a distributed optimizer trades
  * instead of shuffling per-key histograms; and the hybrid hot/cold
  * join is the skew mitigation that broadcasts ONLY the hot keys'
  * dimension rows while the long tail keeps the plain shuffle join.
  */
object WarehouseOps {

  /** Zone-map (data-skipping) pruning audit. Columnar warehouses
    * skip file/rowgroup "zones" whose [min, max] interval misses the
    * predicate; how much a layout actually skips is a property of
    * the DATA ORDER, so the decision to pay for re-clustering needs
    * this audit first. Rows are assigned to 64 equal-size zones two
    * ways — `clustered` (zones = contiguous runs of the
    * l_shipdate total order, via [[Dist.globalRank]]'s range-bucketed
    * rank, never a partition-less window) and `shuffled` (zone =
    * portable hash, the write-order baseline) — then each of three
    * date predicates is answered from the 64-row zone map alone:
    * zones touched, rows those zones force the scan to read, rows
    * that actually qualify, and the skipped fraction. Zone ids come
    * from pure integer arithmetic ((rank-1)*64 div n). Scale shape:
    * one rank pass + one agg per layout produces a 128-row zone map;
    * predicates join the MAP (broadcast), not the fact table; the
    * qualifying counts are one conditional scan. The output is the
    * number that justifies (or refuses) a Z-order/sort rewrite like
    * [[graft.layout.ZOrder]].
    */
  val q242 = Q(
    "q242_zone_map_pruning_audit",
    (s, dir) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      val tot = li.agg(count(lit(1)).as("n_total"))
      val clustered = Dist.globalRank(li,
          Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
          "rnk", 32)
        .crossJoin(broadcast(tot))
        .select(lit("clustered").as("layout"),
          expr("(rnk - 1) * 64 div n_total").as("zone"), col("l_shipdate"))
      val shuffled = li.select(lit("shuffled").as("layout"),
        pmod(P.md5Long(concat_ws(":", lit("zm"),
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"))), lit(64)).as("zone"),
        col("l_shipdate"))
      val zm = clustered.unionByName(shuffled)
        .groupBy("layout", "zone")
        .agg(min("l_shipdate").as("zlo"), max("l_shipdate").as("zhi"),
          count(lit(1)).as("zcnt"))
      val preds = broadcast(Seq(
        ("p1_quarter", "1997-01-01", "1997-03-31"),
        ("p2_month", "1998-06-01", "1998-06-30"),
        ("p3_wide", "1995-07-01", "2000-12-31"))
        .toDF("pred", "lo", "hi")
        .select(col("pred"), to_date(col("lo")).as("lo"),
          to_date(col("hi")).as("hi")))
      val touched = zm.join(preds,
          col("zlo") <= col("hi") && col("zhi") >= col("lo"))
        .groupBy("layout", "pred")
        .agg(count(lit(1)).as("zones_touched"),
          sum(col("zcnt")).as("rows_scanned"))
      val qual = li.join(preds,
          col("l_shipdate") >= col("lo") && col("l_shipdate") <= col("hi"))
        .groupBy("pred").agg(count(lit(1)).as("rows_qual"))
      touched.join(qual, "pred").crossJoin(broadcast(tot))
        .select(col("layout"), col("pred"), col("zones_touched"),
          col("rows_scanned"), col("rows_qual"),
          round(lit(1.0) - col("rows_scanned").cast("double") /
            col("n_total"), 4).as("skip_pct"))
        .orderBy("layout", "pred")
    },
    Some(s"""WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem),
      |tot AS (SELECT count(*) AS n_total FROM li),
      |assigned AS (
      |  SELECT 'clustered' AS layout,
      |    (rnk - 1) * 64 // (SELECT n_total FROM tot) AS zone, l_shipdate
      |  FROM (SELECT l_shipdate, row_number() OVER (
      |          ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rnk
      |        FROM li)
      |  UNION ALL
      |  SELECT 'shuffled',
      |    ${P.md5LongSql("concat('zm:', l_orderkey, ':', l_linenumber)")} % 64,
      |    l_shipdate
      |  FROM li),
      |zm AS (
      |  SELECT layout, zone, min(l_shipdate) AS zlo, max(l_shipdate) AS zhi,
      |    count(*) AS zcnt
      |  FROM assigned GROUP BY 1, 2),
      |preds(pred, lo, hi) AS (VALUES
      |  ('p1_quarter', DATE '1997-01-01', DATE '1997-03-31'),
      |  ('p2_month', DATE '1998-06-01', DATE '1998-06-30'),
      |  ('p3_wide', DATE '1995-07-01', DATE '2000-12-31')),
      |touched AS (
      |  SELECT layout, pred, count(*) AS zones_touched,
      |    CAST(sum(zcnt) AS BIGINT) AS rows_scanned
      |  FROM zm JOIN preds ON zlo <= hi AND zhi >= lo
      |  GROUP BY 1, 2),
      |qual AS (
      |  SELECT pred, count(*) AS rows_qual
      |  FROM li JOIN preds ON l_shipdate >= lo AND l_shipdate <= hi
      |  GROUP BY 1)
      |SELECT layout, pred, zones_touched, rows_scanned, rows_qual,
      |  round(CAST(1 AS DOUBLE) - CAST(rows_scanned AS DOUBLE) /
      |    (SELECT n_total FROM tot), 4) AS skip_pct
      |FROM touched JOIN qual USING (pred)
      |ORDER BY layout, pred""".stripMargin))

  /** Right-to-be-forgotten cascade delete, with the audit a release
    * gate actually signs off on. A deletion request names ROOT
    * entities (here a deterministic ~1% customer cohort); the
    * engine's job is the transitive closure — the cohort's orders,
    * those orders' line items — plus proof the sweep left no
    * dangling references. At 100 TB the deletion list is itself a
    * big table, so every step is a key semi-join (shuffle-partitioned
    * by the join key, broadcastable only when the cohort is small —
    * Spark's planner decides per run), never a collected driver
    * list; the deleted-orders key set feeds two downstream steps and
    * is checkpointed once. The output is one row per table: rows
    * before / deleted / after, plus `orphans_before` — children whose
    * parent key is missing from the parent table BEFORE the sweep
    * (a pre-existing referential-integrity defect the sweep would
    * otherwise silently inherit).
    */
  val q243 = Q(
    "q243_cascade_delete_audit",
    (s, dir) => {
      val c = Tables.t(s, dir, "customer").select("c_custkey")
      val o = Tables.t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = Tables.t(s, dir, "lineitem").select("l_orderkey")
      val forget = c.filter(pmod(P.md5Long(concat(lit("forget:"),
          col("c_custkey").cast("string"))), lit(97)) === 0)
        .select(col("c_custkey").as("fk"))
      val delOrders = Pins.pin(o.join(forget, col("o_custkey") === col("fk"), "left_semi")
        .select(col("o_orderkey").as("dok")))
      def n(df: DataFrame, as: String): DataFrame =
        df.agg(count(lit(1)).as(as))
      val stats = Pins.pin(n(c, "c_before")
        .crossJoin(n(forget, "c_del"))
        .crossJoin(n(o, "o_before"))
        .crossJoin(n(delOrders, "o_del"))
        .crossJoin(n(li, "l_before"))
        .crossJoin(n(li.join(delOrders,
          col("l_orderkey") === col("dok"), "left_semi"), "l_del"))
        .crossJoin(n(o.join(c, col("o_custkey") === col("c_custkey"),
          "left_anti"), "o_orphans"))
        .crossJoin(n(li.join(o, col("l_orderkey") === col("o_orderkey"),
          "left_anti"), "l_orphans"))) // 1 row
      stats.select(lit("1_customer").as("table_name"),
          col("c_before").as("rows_before"), col("c_del").as("rows_deleted"),
          (col("c_before") - col("c_del")).as("rows_after"),
          lit(0L).as("orphans_before"))
        .unionByName(stats.select(lit("2_orders").as("table_name"),
          col("o_before").as("rows_before"), col("o_del").as("rows_deleted"),
          (col("o_before") - col("o_del")).as("rows_after"),
          col("o_orphans").as("orphans_before")))
        .unionByName(stats.select(lit("3_lineitem").as("table_name"),
          col("l_before").as("rows_before"), col("l_del").as("rows_deleted"),
          (col("l_before") - col("l_del")).as("rows_after"),
          col("l_orphans").as("orphans_before")))
        .orderBy("table_name")
    },
    Some(s"""WITH forget AS (
      |  SELECT c_custkey FROM customer
      |  WHERE ${P.md5LongSql("concat('forget:', c_custkey)")} % 97 = 0),
      |delo AS (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM forget))
      |SELECT '1_customer' AS table_name,
      |  (SELECT count(*) FROM customer) AS rows_before,
      |  (SELECT count(*) FROM forget) AS rows_deleted,
      |  (SELECT count(*) FROM customer) - (SELECT count(*) FROM forget)
      |    AS rows_after,
      |  CAST(0 AS BIGINT) AS orphans_before
      |UNION ALL
      |SELECT '2_orders',
      |  (SELECT count(*) FROM orders),
      |  (SELECT count(*) FROM delo),
      |  (SELECT count(*) FROM orders) - (SELECT count(*) FROM delo),
      |  (SELECT count(*) FROM orders
      |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
      |UNION ALL
      |SELECT '3_lineitem',
      |  (SELECT count(*) FROM lineitem),
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      |  (SELECT count(*) FROM lineitem) -
      |    (SELECT count(*) FROM lineitem
      |     WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      |ORDER BY table_name""".stripMargin))

  /** Count-min counters of `(seed, k)` rows: the portable md5 cell of
    * "cms:<seed>:<k>" in 1024 cells, counted per (seed, cell) as `out`.
    */
  private[queries] def cmsCounts(seeded: DataFrame, out: String): DataFrame =
    seeded
      .select(col("seed"),
        pmod(P.md5Long(concat_ws(":", lit("cms"), col("seed").cast("string"),
          col("k").cast("string"))), lit(1024)).as("cell"))
      .groupBy("seed", "cell").agg(count(lit(1)).as(out))

  /** The join-size estimate of two sketches: the minimum over seeds of
    * the counters' inner product, one row `est`.
    */
  private[queries] def cmsJoinSize(ca: DataFrame, cb: DataFrame, est: String): DataFrame =
    ca.join(cb, Seq("seed", "cell"))
      .groupBy("seed").agg(sum(col("ca") * col("cb")).as("est_d"))
      .agg(min("est_d").as(est))

  /** DuckDB twin of [[cmsCounts]] over query `src`'s column `key`. */
  private[queries] def cmsCountsSql(src: String, key: String, out: String): String =
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

  /** Shard-rebalance audit: modulo vs rendezvous (HRW) hashing when
    * a corpus grows from 8 to 9 shards. At 100 TB "moving a doc"
    * means rewriting bytes, so the rebalance cost IS the moved
    * fraction: modulo placement (`h % N`) remaps ~(N-1)/N ≈ 8/9 of
    * all documents on a single shard-count change, while rendezvous
    * hashing (each doc goes to argmax over shards of
    * hash(shard, doc)) provably moves exactly the docs the NEW shard
    * wins ≈ 1/9 — the operator emits both, plus the post-rebalance
    * largest-shard share, so the placement policy decision reads off
    * one result. Scale shape: HRW scores are a 9-way explode (linear,
    * constant factor = shard count), the argmax is one grouped
    * lexicographic max (struct max — deterministic even under hash
    * ties), and no doc text ever moves through the audit.
    */
  val q259 = Q(
    "q259_shard_rebalance_audit",
    (s, dir) => {
      val docs = Tables.docs(s, dir).select("doc_id")
      def audit(assign: DataFrame, method: String): DataFrame = {
        val moved = assign.agg(count(lit(1)).as("n_docs"),
          sum((col("olds") =!= col("news")).cast("long")).as("n_moved"))
        val skew = assign.groupBy("news").agg(count(lit(1)).as("c"))
          .agg(max("c").as("maxc"), sum("c").as("tot"))
        // integer basis points, never a round()ed double quotient
        // over a data-sized denominator (ADVICE r8 #2 — the .xxxx5
        // Spark-HALF_UP vs DuckDB-binary tie class)
        moved.crossJoin(skew)
          .select(lit(method).as("method"), col("n_docs"), col("n_moved"),
            expr("n_moved * 10000 div n_docs").as("moved_bps"),
            expr("maxc * 10000 div tot").as("max_shard_bps"))
      }
      val h = P.md5Long(concat(lit("shard:"), col("doc_id").cast("string")))
      val modA = docs.select(pmod(h, lit(8)).as("olds"),
        pmod(h, lit(9)).as("news"))
      val hrwA = docs
        .select(col("doc_id"), explode(sequence(lit(0), lit(8))).as("sh"))
        .select(col("doc_id"), col("sh"),
          P.md5Long(concat_ws(":", lit("hrw"), col("sh").cast("string"),
            col("doc_id").cast("string"))).as("hw"))
        .groupBy("doc_id")
        .agg(
          max(when(col("sh") < 8, struct(col("hw"), col("sh"))))
            .getField("sh").as("olds"),
          max(struct(col("hw"), col("sh"))).getField("sh").as("news"))
      audit(modA, "a_mod").unionByName(audit(hrwA, "b_hrw"))
        .orderBy("method")
    },
    Some(s"""WITH h AS (
      |  SELECT doc_id, ${P.md5LongSql("concat('shard:', doc_id)")} AS hv
      |  FROM documents),
      |mod_assign AS (SELECT hv % 8 AS olds, hv % 9 AS news FROM h),
      |hrw AS (
      |  SELECT doc_id, s,
      |    ${P.md5LongSql("concat('hrw:', s, ':', doc_id)")} AS hw
      |  FROM documents CROSS JOIN (SELECT unnest(range(9)) AS s) ss),
      |hrw_assign AS (
      |  SELECT doc_id,
      |    max(CASE WHEN s < 8 THEN struct_pack(h := hw, s := s) END).s AS olds,
      |    max(struct_pack(h := hw, s := s)).s AS news
      |  FROM hrw GROUP BY doc_id),
      |audits AS (
      |  SELECT 'a_mod' AS method,
      |    (SELECT count(*) FROM mod_assign) AS n_docs,
      |    (SELECT count(*) FROM mod_assign WHERE olds <> news) AS n_moved,
      |    (SELECT max(c) FROM (SELECT count(*) AS c FROM mod_assign
      |       GROUP BY news)) AS maxc
      |  UNION ALL
      |  SELECT 'b_hrw',
      |    (SELECT count(*) FROM hrw_assign),
      |    (SELECT count(*) FROM hrw_assign WHERE olds <> news),
      |    (SELECT max(c) FROM (SELECT count(*) AS c FROM hrw_assign
      |       GROUP BY news)))
      |SELECT method, n_docs, n_moved,
      |  n_moved * 10000 // n_docs AS moved_bps,
      |  maxc * 10000 // n_docs AS max_shard_bps
      |FROM audits ORDER BY method""".stripMargin))

  val all: Vector[Q] = Vector(q242, q243, q245, q246, q259)
}
