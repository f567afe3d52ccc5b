package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable}
import graft.functions.{Portable => P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage and warehouse layout: bucketed co-located joins,
  * incremental view maintenance of sums and medians, zone maps and
  * Bloom shard indexes, cascade deletes, shard balance and
  * rebalancing (modulo, rendezvous, consistent hashing), seeded
  * shuffles and content-defined chunking.
  */
object Storage {

  /** Output-shard balance audit: the hash-sharded layout a 100 TB
    * write job would use (content-independent md5 of the stable id →
    * 16 shards), with the skew ratios that decide whether the plan
    * needs salting. Per-shard sums are exact integers; the global
    * max/avg ratio is a 16-row window — constant-size regardless of
    * data.
    */
  val q203 = Q(
    "q203_shard_balance",
    (s, dir) => {
      val w = Window.partitionBy(lit(1))
      Tables.docs(s, dir)
        .withColumn("shard",
          pmod(Portable.md5Long(concat(lit("shard:"), col("doc_id").cast("string"))), lit(16)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        .withColumn("skew_docs",
          round(col("n_docs") / (sum("n_docs").over(w) / lit(16.0)), 6))
        .withColumn("skew_chars",
          round(col("sum_chars") / (sum("sum_chars").over(w) / lit(16.0)), 6))
        .select("shard", "n_docs", "sum_chars", "skew_docs", "skew_chars")
        .orderBy("shard")
    },
    Some(s"""WITH sh AS (
      |  SELECT ${Portable.md5LongSql("concat('shard:', CAST(doc_id AS VARCHAR))")} % 16
      |      AS shard, n_chars
      |  FROM documents),
      |agg AS (SELECT shard, count(*) AS n_docs,
      |          CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |        FROM sh GROUP BY 1)
      |SELECT shard, n_docs, sum_chars,
      |  round(n_docs / (sum(n_docs) OVER () / 16.0), 6) AS skew_docs,
      |  round(sum_chars / (sum(sum_chars) OVER () / 16.0), 6) AS skew_chars
      |FROM agg ORDER BY shard""".stripMargin))

  /* Storage-layout operators: bucketed (SMB) table write + the
    * co-located join that bucketing buys. At warehouse scale the
    * fact⋈fact shuffle is usually THE dominant cost of a recurring
    * join; writing both sides bucketed by the join key once turns
    * every subsequent join into a zero-exchange merge of co-located
    * buckets (PlanSpec pins the no-Exchange plan).
    */

  /** Drop + clear a managed table so a crashed prior JVM's leftover
    * warehouse directory cannot fail the CREATE (the in-memory
    * catalog forgets tables across JVMs; the directory survives).
    */
  private def reset(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + "/" + table)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Bucketed co-located join: lineitem and orders are written as
    * managed tables bucketed 8-ways on the order key (sorted within
    * buckets), then joined WITHOUT any shuffle — Spark matches the
    * two sides' bucket specs and plans a merge join over co-located
    * buckets. The write is part of the operator (it is the cost a
    * warehouse pays ONCE to make every recurring join exchange-free);
    * the revenue aggregate follows q04's exact-decimal money
    * convention. Oracle: the same join over the raw parquet — layout
    * must never change answers.
    */
  val q229 = Q(
    "q229_bucketed_colocated_join",
    (s, dir) => {
      reset(s, "b_lineitem")
      reset(s, "b_orders")
      Tables.t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
      Tables.t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_orders")
      s.table("b_lineitem")
        .join(s.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
      |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1
      |ORDER BY o_orderpriority""".stripMargin))

  /** Incremental view maintenance for an algebraic aggregate
    * snapshot. The recurring cost that kills daily warehouse jobs is
    * re-aggregating the FULL fact table for a materialized rollup
    * when only a day of rows arrived; the scale answer is the
    * delta-merge: keep the snapshot's per-key sufficient statistics
    * (exact decimal sum + count — both algebraic, so merge = add),
    * aggregate ONLY the delta, and full-outer combine on the key
    * space. Each maintenance run is then Θ(delta) + Θ(keys), never
    * Θ(fact). Here the cut date splits orders into "snapshot" (<
    * 1997) and "delta" (≥ 1997) halves, both sides keep decimal
    * sufficient statistics until ONE final round→double, and the
    * output carries per-key snapshot/delta attribution so
    * delta-only and snapshot-only keys are visibly preserved by the
    * merge. StorageSpec pins the IVM invariant: merge ==
    * full recompute, key for key.
    */
  val q241 = Q(
    "q241_incremental_view_maintenance",
    (s, dir) => {
      val cut = to_date(lit("1997-01-01"))
      val dim = Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"),
          count(lit(1)).as("n"))
      val orders = Tables.t(s, dir, "orders")
      val snap = agg(orders.filter(col("o_orderdate") < cut))
        .select(col("n_name"), col("o_year"),
          col("rev").as("s_rev"), col("n").as("s_n"))
      val delta = agg(orders.filter(col("o_orderdate") >= cut))
        .select(col("n_name"), col("o_year"),
          col("rev").as("d_rev"), col("n").as("d_n"))
      snap.join(delta, Seq("n_name", "o_year"), "full_outer")
        .select(col("n_name"), col("o_year"),
          round(coalesce(col("s_rev"), lit(0)) + coalesce(col("d_rev"), lit(0)), 2)
            .cast("double").as("revenue"),
          (coalesce(col("s_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_orders"),
          coalesce(col("s_n"), lit(0L)).as("n_snapshot"),
          coalesce(col("d_n"), lit(0L)).as("n_delta"))
        .orderBy("n_name", "o_year")
    },
    Some("""WITH dim AS (
      |  SELECT c_custkey, n_name
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |snap AS (
      |  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s_rev, count(*) AS s_n
      |  FROM orders JOIN dim ON o_custkey = c_custkey
      |  WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1, 2),
      |delta AS (
      |  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS d_rev, count(*) AS d_n
      |  FROM orders JOIN dim ON o_custkey = c_custkey
      |  WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1, 2)
      |SELECT n_name, o_year,
      |  CAST(round(coalesce(s_rev, 0) + coalesce(d_rev, 0), 2) AS DOUBLE) AS revenue,
      |  CAST(coalesce(s_n, 0) + coalesce(d_n, 0) AS BIGINT) AS n_orders,
      |  CAST(coalesce(s_n, 0) AS BIGINT) AS n_snapshot,
      |  CAST(coalesce(d_n, 0) AS BIGINT) AS n_delta
      |FROM snap FULL OUTER JOIN delta USING (n_name, o_year)
      |ORDER BY n_name, o_year""".stripMargin))

  /** Histogram-merge quantile view maintenance — the THIRD
    * incremental-maintenance class, completing the trilogy: q241
    * maintains ALGEBRAIC aggregates (sum/count merge by addition),
    * q255 maintains DISTINCT counts (HLL sketches merge by register
    * max), and this maintains a HOLISTIC aggregate (the median),
    * which admits NO exact merge — the scale answer is to store an
    * algebraic SUMMARY with a declared error bound: per-partition
    * equi-width histograms (bin = ⌊price/2000⌋, counts merge by
    * addition), from which any refresh answers the median to within
    * one bin width without touching the fact table. The mid-year cut
    * splits orders into snapshot/delta halves (q255's layout). The
    * estimator mirrors the exact interpolation at bin resolution: it
    * averages the midpoints of the bins holding BOTH middle order
    * statistics (ranks ⌈n/2⌉ and ⌊n/2⌋+1), so the error against the
    * EXACT interpolated median is bounded by half a bin width — a
    * single-bin estimator has NO such bound when the two middle
    * values straddle sparse bins (observed at sf0.001: 2874 off on a
    * 2000-wide bin). `within_bin` pins the declared ±1000 bound in
    * the result. `n_bins` exposes
    * the stored artifact's size — a few hundred rows per key at ANY
    * corpus scale, which is the whole point.
    *
    * Arithmetic (ADVICE r8 #1): everything runs in INTEGER CENTS.
    * The exact reference median is NOT percentile()+round(2) — with
    * an even group count the interpolated median is the midpoint of
    * two 2-dp values, a systematic .xx5 tie where Spark's
    * shortest-decimal HALF_UP rounding and DuckDB's binary-double
    * rounding diverge (the q261 flake class). Instead the two middle
    * order statistics clo/chi are taken rank-based from a
    * (pr, cents) histogram (the blo/bhi pattern one level finer) and
    * the median is emitted as ONE IEEE division (clo+chi)/200.0 —
    * exact integers in, one deterministic double op out.
    */
  val q260 = Q(
    "q260_quantile_view_maintenance",
    (s, dir) => {
      val cut = to_date(lit("1997-07-01"))
      val keyed = Pins.pin(Tables.t(s, dir, "orders")
        .select(col("o_orderpriority").as("pr"),
          (col("o_totalprice").cast("decimal(18,4)") * 100)
            .cast("long").as("cts"), // exact integer cents
          (col("o_orderdate") < cut).as("is_snap"))) // one fact scan feeds histogram + exact
      val halves = keyed
        .select(col("pr"), col("is_snap"),
          expr("cts div 200000").as("bin")) // 2000-dollar bins, exact
        .groupBy("pr", "is_snap", "bin")
        .agg(count(lit(1)).as("c")) // the stored per-half artifact
      val merged = halves.groupBy("pr", "bin").agg(sum(col("c")).as("c"))
      // n / n_bins as window columns over the SAME (pr, bin) sort the
      // running cum needs — one exchange serves all three, instead of
      // a separate tot aggregate joined back
      val w = org.apache.spark.sql.expressions.Window.partitionBy("pr")
      val cum = merged
        .withColumn("cum", sum("c").over(w.orderBy("bin")))
        .withColumn("n", sum("c").over(w))
        .withColumn("n_bins", count(lit(1)).over(w))
      // Locate the two middle-rank bins and the rank mass below each,
      // in ONE aggregate (VERDICT r9 #4: the previous exact pass
      // cum-summed every (pr, cts) group under a 5-partition window —
      // a full per-key sort that doubled the query when it landed in
      // r9; the first rework of this round still chained five tiny
      // join stages whose fixed costs dominated). Both `bin` and
      // `cum - c` increase with bin, so min(when(cum >= r, ...)) picks
      // the target bin AND its below-mass in the same pass. The exact
      // scan then touches Θ(rows in ≤2 bins per key): bins partition
      // cts ranges monotonically, so the (r - below)-th smallest value
      // INSIDE bin blo is exactly the overall r-th order statistic.
      val marks = cum.groupBy("pr").agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("bin"))).as("blo"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("cum") - col("c")))
          .as("below_lo"),
        min(when(col("cum") >= expr("n div 2 + 1"), col("bin"))).as("bhi"),
        min(when(col("cum") >= expr("n div 2 + 1"), col("cum") - col("c")))
          .as("below_hi"),
        max("n").as("n"), max("n_bins").as("n_bins"))
      val targets = marks.select(col("pr"), col("blo").as("bin"),
          (expr("(n + 1) div 2") - col("below_lo")).as("r"), lit("lo").as("which"))
        .unionByName(marks.select(col("pr"), col("bhi").as("bin"),
          (expr("n div 2 + 1") - col("below_hi")).as("r"), lit("hi").as("which")))
      val inBin = keyed
        .withColumn("bin", expr("cts div 200000"))
        .join(broadcast(targets), Seq("pr", "bin")) // ≤10 target bins
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy("pr", "which").orderBy("cts")
      val stat = inBin.groupBy("pr", "which", "r", "cts")
        .agg(count(lit(1)).as("vc"))
        .withColumn("vcum", sum("vc").over(wv))
        .filter(col("vcum") >= col("r"))
        .groupBy("pr", "which").agg(min("cts").as("v"))
      val exact = stat.groupBy("pr").agg(
        (sum(when(col("which") === "lo", col("v"))) +
          sum(when(col("which") === "hi", col("v")))).cast("double")
          .divide(lit(200.0)).as("exact_median"))
      marks.join(exact, "pr")
        .select(col("pr").as("o_orderpriority"), col("exact_median"),
          ((col("blo") + col("bhi") + 1.0) * 1000).as("est_median"),
          (abs((col("blo") + col("bhi") + 1.0) * 1000 - col("exact_median"))
            <= 1000).as("within_bin"),
          col("n_bins"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH k AS (
      |  SELECT o_orderpriority AS pr,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cts
      |  FROM orders),
      |hist AS (
      |  SELECT pr, cts // 200000 AS bin, count(*) AS c
      |  FROM k GROUP BY 1, 2),
      |tot AS (
      |  SELECT pr, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_bins
      |  FROM hist GROUP BY 1),
      |cum AS (
      |  SELECT pr, bin, sum(c) OVER (PARTITION BY pr ORDER BY bin) AS cum
      |  FROM hist),
      |lo AS (
      |  SELECT pr, min(bin) AS blo
      |  FROM cum JOIN tot USING (pr) WHERE cum >= (n + 1) // 2
      |  GROUP BY pr),
      |hi AS (
      |  SELECT pr, min(bin) AS bhi
      |  FROM cum JOIN tot USING (pr) WHERE cum >= n // 2 + 1
      |  GROUP BY pr),
      |vg AS (SELECT pr, cts, count(*) AS vc FROM k GROUP BY 1, 2),
      |vcum AS (
      |  SELECT pr, cts, sum(vc) OVER (PARTITION BY pr ORDER BY cts) AS vcum
      |  FROM vg),
      |clo AS (
      |  SELECT pr, min(cts) AS clo
      |  FROM vcum JOIN tot USING (pr) WHERE vcum >= (n + 1) // 2
      |  GROUP BY pr),
      |chi AS (
      |  SELECT pr, min(cts) AS chi
      |  FROM vcum JOIN tot USING (pr) WHERE vcum >= n // 2 + 1
      |  GROUP BY pr),
      |ex AS (
      |  SELECT pr, CAST(clo + chi AS DOUBLE) / 200.0 AS exact_median
      |  FROM clo JOIN chi USING (pr))
      |SELECT pr AS o_orderpriority, exact_median,
      |  CAST((blo + bhi + 1.0) * 1000 AS DOUBLE) AS est_median,
      |  abs((blo + bhi + 1.0) * 1000 - exact_median) <= 1000 AS within_bin,
      |  n_bins
      |FROM lo JOIN hi USING (pr) JOIN ex USING (pr) JOIN tot USING (pr)
      |ORDER BY o_orderpriority""".stripMargin))

  /* Warehouse internals — the machinery a 100 TB deployment runs
    * around its queries rather than inside them. Zone-map pruning
    * quantifies what sort-clustered layout buys a scan before anyone
    * rewrites files.
    */

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

  /* Content-defined chunking (CDC) storage dedup — the rsync/LBFS/
    * FastCDC idea at word granularity. Fixed-stride chunking (q74)
    * breaks under insertion: one added word shifts every later chunk
    * boundary in the document, so a near-copy shares almost no chunks
    * with its original. CDC instead cuts where the CONTENT says so — a
    * token whose hash lands in 1/8 of the hash space terminates a chunk
    * — so an edit perturbs only the chunk containing it and the two
    * documents still share every other chunk. Expected chunk length is
    * the mask reciprocal (8 words).
    *
    * Scale design: boundary detection, chunk slicing and chunk hashing
    * are all row-local higher-order expressions — NO token-level rows
    * ever shuffle (the q74 family's property, kept). The only exchange
    * is the groupBy on (lang, 60-bit chunk hash): fixed-width keys,
    * never chunk text. Dedup ratios are emitted in integer basis
    * points (the README gate rule: no float quotients near round
    * boundaries).
    */

  /** SQL expression: ascending 1-based CDC boundary positions of the
    * token array `toks` (content cuts at md5long60(token) % 8 == 0,
    * doc end appended as the closing sentinel).
    */
  private[graft] def cdcBoundsExpr(toks: String): String =
    s"""array_distinct(concat(
       |  filter(transform($toks, (t, i) -> IF(md5long60(t) % 8 = 0, i + 1, 0)),
       |         p -> p > 0),
       |  array(size($toks))))""".stripMargin

  /** SQL expression: the CDC chunks of `toks` given boundary array
    * `bnds`, as array<struct<h: chunk hash, nc: chunk chars>> —
    * factored out so CorpusOps5Spec can pin shift-resistance on
    * synthetic edits with the exact production kernel.
    */
  private[graft] def cdcChunksExpr(toks: String, bnds: String): String =
    s"""transform(
       |  transform($bnds, (b, j) ->
       |    slice($toks, IF(j = 0, 1, element_at($bnds, j) + 1),
       |          b - IF(j = 0, 0, element_at($bnds, j)))),
       |  s -> struct(md5long60(array_join(s, ' ')) AS h,
       |              length(array_join(s, ' ')) AS nc))""".stripMargin

  /** Per-language chunk-store dedup report: documents are CDC-chunked,
    * chunks are hashed, and each language's chunk store is measured —
    * total vs distinct chunks and the redundant characters a
    * content-addressed store would not re-write. A chunk's boundary
    * token is its LAST token (`md5long60(token) % 8 == 0` cuts after
    * it); the document tail closes the final chunk.
    */
  val q266 = Q(
    "q266_cdc_chunk_dedup",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("lang"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        // ascending boundary positions (1-based), with the doc end
        // appended as the closing sentinel (array_distinct keeps the
        // first occurrence, so an end token that is ALSO a content
        // boundary is not doubled)
        .withColumn("bnds", expr(cdcBoundsExpr("toks")))
        // chunk j spans (bnds[j-1]+1 .. bnds[j]); element_at is
        // 1-based, so with j 0-based element_at(bnds, j) IS the
        // previous boundary
        .withColumn("c", explode(expr(cdcChunksExpr("toks", "bnds"))))
        .groupBy(col("lang"), col("c.h").as("h"))
        .agg(count(lit(1)).as("copies"), min(col("c.nc")).as("nc"))
        .groupBy("lang")
        .agg(
          sum(col("copies")).as("n_chunks"),
          count(lit(1)).as("n_distinct"),
          sum(col("copies") - 1).as("dup_chunks"),
          sum(col("copies") * col("nc")).cast("long").as("chunk_chars"),
          sum((col("copies") - 1) * col("nc")).cast("long").as("dup_chars"))
        .withColumn("dedup_bp",
          expr("dup_chars * 10000 div chunk_chars")) // integer basis points
        .orderBy("lang")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n FROM (
      |    SELECT doc_id, lang, ${Portable.tokensSql("text")} AS toks
      |    FROM documents)
      |  WHERE len(toks) >= 1),
      |tok AS (
      |  SELECT doc_id, lang, i, toks[i] AS tk,
      |    CASE WHEN ${Portable.md5LongSql("toks[i]")} % 8 = 0
      |      THEN 1 ELSE 0 END AS b
      |  FROM t, unnest(range(1, n + 1)) g(i)),
      |ch AS (
      |  SELECT doc_id, lang, i, tk,
      |    1 + coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cno
      |  FROM tok),
      |cj AS (
      |  SELECT lang, string_agg(tk, ' ' ORDER BY i) AS ctext
      |  FROM ch GROUP BY doc_id, lang, cno),
      |ck AS (
      |  SELECT lang, ${Portable.md5LongSql("ctext")} AS h,
      |    CAST(length(ctext) AS BIGINT) AS nc
      |  FROM cj),
      |g AS (SELECT lang, h, count(*) AS copies, min(nc) AS nc
      |      FROM ck GROUP BY 1, 2)
      |SELECT lang,
      |  CAST(sum(copies) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  CAST(sum(copies - 1) AS BIGINT) AS dup_chunks,
      |  CAST(sum(copies * nc) AS BIGINT) AS chunk_chars,
      |  CAST(sum((copies - 1) * nc) AS BIGINT) AS dup_chars,
      |  CAST(sum((copies - 1) * nc) * 10000 // sum(copies * nc) AS BIGINT)
      |    AS dedup_bp
      |FROM g GROUP BY lang
      |ORDER BY lang""".stripMargin))

  /* Scan-pruning indexes beyond zone maps. Zone maps (q242) prune predicates
    * CORRELATED with the layout order — ranges over a sort key. They
    * are useless for point lookups on an uncorrelated column: when
    * shards are laid out by doc_id, every shard's (min, max) envelope
    * of a CONTENT HASH spans nearly the whole 60-bit range, so a
    * content-addressed lookup ("is this exact text already stored?" —
    * the dedup-store hot path) keeps every shard. The classic answer is
    * a per-shard Bloom filter; this one is built from PORTABLE hash
    * bits (bit = h % 4096 — a k=1 Bloom filter both engines compute
    * bit-identically), so the whole index, probe evaluation and
    * false-positive behavior are oracle-checkable.
    *
    * Scale design: the index is Θ(shards × 4096 bits) REGARDLESS of
    * corpus size — built in one scan whose map-side distinct collapses
    * duplicate (shard, bit) pairs before the wire; probes broadcast
    * against the bit table; nothing rescans documents at lookup time.
    * No false negatives is structural (every stored hash set its bit),
    * and the audit pins it per probe.
    */

  /** Per-shard hash-bit (Bloom) index vs zone maps for 20
    * content-hash point lookups over 16 doc_id-ranged shards.
    * `zone_kept` ≈ all 16 (the envelope never excludes), `bloom_kept`
    * collapses toward 1 + false positives; `true_shard_kept` pins the
    * no-false-negative contract row by row.
    */
  val q270 = Q(
    "q270_bloom_shard_index",
    (s, dir) => {
      val hashed = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.md5Long(col("text")).as("h"))
      // 16 layout shards by doc_id range (the zone-map-friendly order)
      val mx = hashed.agg(max("doc_id").as("mx"))
      val sharded = Pins.pin(hashed.crossJoin(broadcast(mx))
        .select(col("doc_id"), col("h"),
          least(floor(col("doc_id") * 16 / (col("mx") + 1)), lit(15L))
            .cast("long").as("shard"))) // one scan feeds index build + probes
      val zones = sharded.groupBy("shard")
        .agg(min("h").as("zlo"), max("h").as("zhi"))
      val bloom = sharded // map-side distinct: <= shards x 4096 rows survive
        .select(col("shard"), (col("h") % 4096).as("bit")).distinct()
      val probes = sharded.filter(col("doc_id") < 20)
        .select(col("doc_id").as("probe_id"), col("h").as("hp"),
          col("shard").as("true_shard"))
      val zoneKept = probes.join(broadcast(zones),
          col("hp") >= col("zlo") && col("hp") <= col("zhi"))
        .groupBy("probe_id").agg(count(lit(1)).as("zone_kept"))
      val bloomHits = probes.join(broadcast(bloom),
          col("hp") % 4096 === col("bit"))
      val bloomKept = bloomHits.groupBy("probe_id")
        .agg(count(lit(1)).as("bloom_kept"),
          max(col("shard") === col("true_shard")).as("true_shard_kept"))
      probes.select("probe_id")
        .join(zoneKept, Seq("probe_id"), "left")
        .join(bloomKept, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("zone_kept"), lit(0L)).as("zone_kept"),
          coalesce(col("bloom_kept"), lit(0L)).as("bloom_kept"),
          coalesce(col("true_shard_kept"), lit(false)).as("true_shard_kept"))
        .orderBy("probe_id")
    },
    Some(s"""WITH hashed AS (
      |  SELECT doc_id, ${Portable.md5LongSql("text")} AS h FROM documents),
      |mx AS (SELECT max(doc_id) AS mx FROM hashed),
      |sharded AS (
      |  SELECT doc_id, h,
      |    least(CAST(floor(doc_id * 16 / (mx + 1)) AS BIGINT), 15) AS shard
      |  FROM hashed CROSS JOIN mx),
      |zones AS (
      |  SELECT shard, min(h) AS zlo, max(h) AS zhi FROM sharded GROUP BY 1),
      |bloom AS (
      |  SELECT DISTINCT shard, h % 4096 AS bit FROM sharded),
      |probes AS (
      |  SELECT doc_id AS probe_id, h AS hp, shard AS true_shard
      |  FROM sharded WHERE doc_id < 20),
      |zk AS (
      |  SELECT probe_id, count(*) AS zone_kept
      |  FROM probes JOIN zones ON hp >= zlo AND hp <= zhi GROUP BY 1),
      |bk AS (
      |  SELECT probe_id, count(*) AS bloom_kept,
      |    max(shard = true_shard) AS true_shard_kept
      |  FROM probes JOIN bloom ON hp % 4096 = bit GROUP BY 1)
      |SELECT p.probe_id,
      |  CAST(coalesce(zone_kept, 0) AS BIGINT) AS zone_kept,
      |  CAST(coalesce(bloom_kept, 0) AS BIGINT) AS bloom_kept,
      |  coalesce(true_shard_kept, false) AS true_shard_kept
      |FROM probes p
      |LEFT JOIN zk ON p.probe_id = zk.probe_id
      |LEFT JOIN bk ON p.probe_id = bk.probe_id
      |ORDER BY p.probe_id""".stripMargin))

  /* Shard management — the two ops a 100 TB corpus store runs
    * between releases:
    *
    *   - q280: the SEEDED GLOBAL SHUFFLE that training exports need
    *     (decorrelate document order from ingest order, reproducibly)
    *     plus the audit that proves it worked — shard sizes balanced
    *     AND every source interleaved into every shard at its global
    *     rate. Assignment is pure per-row hash arithmetic (top bits of
    *     a seeded 60-bit hash): no global sort, no NTILE over a
    *     single-partition window, nothing ordered corpus-wide — the
    *     0-shuffle layout step, with balance delivered by hash
    *     uniformity and MEASURED in the output rather than assumed.
    *
    *   - q281: consistent-hashing vs modulo when a shard is ADDED
    *     (16 → 17). Modulo reassigns almost every key (any key with
    *     ck%16 ≠ ck%17 moves — ~16/17 of them); a hash ring with 8
    *     virtual nodes per shard moves only the keys whose ring
    *     successor became the new shard (E[moved] = 1/17). The op
    *     emits both movement rates in integer basis points — the
    *     rebalance-cost estimate a storage planner reads before
    *     scaling the shard count.
    *
    * Scale: q280 is one scan + two bounded aggregates (shards ×
    * sources). q281 joins keys against a CONSTANT-size broadcast ring
    * (136 points) — Θ(keys · |ring|) row-ops, linear in keys; ring
    * point hashes are fixed strings, so cross-engine determinism is a
    * property of the fixed ring, not of the data.
    */

  /** Seeded pseudo-shuffle into 16 shards + interleave audit. Shard =
    * top 4 bits of md5₆₀("shuf1:" ⊕ doc_id). Per shard: row count,
    * size share in basis points, and the worst per-source deviation
    * of the shard's source mix from the global mix (both mixes in
    * integer basis points — exact integer division, no float ever).
    * A deviation near 0 bp says every shard is a faithful sample of
    * the corpus; a shard stuck at one source means the "shuffle"
    * preserved ingest locality and a training epoch would see
    * correlated batches.
    */
  val q280 = Q(
    "q280_seeded_shard_shuffle",
    (s, dir) => {
      // pinned: the audit reads the assignment along four branches
      // (total, global mix, shard sizes, shard × source cells)
      val sharded = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          shiftright(P.md5Long(concat(lit("shuf1:"),
            col("doc_id").cast("string"))), 56).as("shard")))
      val total = sharded.count()
      // all shares in integer basis points via `div` — exact integer
      // division in both engines, no float ever
      val bySrc = sharded.groupBy("source").agg(count(lit(1)).as("n_src"))
        .withColumn("bp_global", expr(s"n_src * 10000 div $total"))
      val byShardSrc = sharded.groupBy("shard", "source")
        .agg(count(lit(1)).as("n_ss"))
      val byShard = sharded.groupBy("shard").agg(count(lit(1)).as("n_docs"))
      // full shard × source spine: a source ABSENT from a shard is a
      // deviation of its whole global share, not a skipped row
      byShard.crossJoin(bySrc.select("source", "bp_global"))
        .join(byShardSrc, Seq("shard", "source"), "left")
        .na.fill(0L, Seq("n_ss"))
        .withColumn("bp_in_shard", expr("n_ss * 10000 div n_docs"))
        .groupBy("shard", "n_docs")
        .agg(max(abs(col("bp_in_shard") - col("bp_global"))).as("max_src_dev_bp"))
        .select(col("shard"), col("n_docs"),
          expr(s"n_docs * 10000 div $total").as("share_bp"),
          col("max_src_dev_bp"))
        .orderBy("shard")
    },
    Some(s"""WITH sharded AS (
      |  SELECT doc_id, source,
      |    ${P.md5LongSql("concat('shuf1:', CAST(doc_id AS VARCHAR))")} >> 56
      |      AS shard
      |  FROM documents),
      |tot AS (SELECT count(*) AS n FROM sharded),
      |by_src AS (
      |  SELECT source, count(*) * 10000 // (SELECT n FROM tot) AS bp_global
      |  FROM sharded GROUP BY 1),
      |by_shard AS (SELECT shard, count(*) AS n_docs FROM sharded GROUP BY 1),
      |by_ss AS (
      |  SELECT shard, source, count(*) AS n_ss FROM sharded GROUP BY 1, 2),
      |spine AS (
      |  SELECT s.shard, s.n_docs, by_src.source, by_src.bp_global,
      |    coalesce(n_ss, 0) AS n_ss
      |  FROM by_shard s CROSS JOIN by_src
      |  LEFT JOIN by_ss ON by_ss.shard = s.shard AND by_ss.source = by_src.source)
      |SELECT shard, n_docs,
      |  CAST(n_docs * 10000 // (SELECT n FROM tot) AS BIGINT) AS share_bp,
      |  CAST(max(abs(n_ss * 10000 // n_docs - bp_global)) AS BIGINT)
      |    AS max_src_dev_bp
      |FROM spine
      |GROUP BY 1, 2
      |ORDER BY shard""".stripMargin))

  /** Rebalance cost of adding shard 16 to a 16-shard layout, modulo
    * vs consistent hashing (8 virtual nodes per shard; successor =
    * smallest ring point ≥ key hash, wrapping to the ring minimum).
    * One summary row: key count, keys moved under each scheme, both
    * in integer basis points.
    */
  val q281 = Q(
    "q281_consistent_hash_rebalance",
    (s, dir) => {
      // r14 (guide §2.5, the q206 rule): each key fans out to 8·shards
      // ring points and aggregates back — ~256 rows of compute per
      // 16 input bytes — and the single-row-group sf-small file pins
      // that to one task. Repartition the key projection first;
      // cluster-derived count, not a constant.
      val keys = Tables.t(s, dir, "customer")
        .select(col("c_custkey").as("ck"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ck"),
          P.md5Long(concat(lit("key:"), col("ck"))).as("hk"))
      def ring(shards: Int) = broadcast(
        s.range(shards.toLong * 8).select(
          expr("id div 8").as("shard"),
          P.md5Long(concat(lit("ring:"), expr("cast(id div 8 as string)"),
            lit(":"), expr("cast(id % 8 as string)"))).as("ph")))
      def assign(shards: Int, outCol: String) = keys
        .crossJoin(ring(shards))
        .groupBy("ck", "hk")
        .agg(
          expr("min_by(shard, ph) FILTER (WHERE ph >= hk)").as("succ"),
          expr("min_by(shard, ph)").as("wrap"))
        .select(col("ck"), coalesce(col("succ"), col("wrap")).as(outCol))
      assign(16, "ch_old").join(assign(17, "ch_new"), "ck")
        .select(col("ck"), col("ch_old"), col("ch_new"),
          (pmod(col("ck"), lit(16)) =!= pmod(col("ck"), lit(17))).as("mod_moved"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("mod_moved"), 1L).otherwise(0L)).as("moved_mod"),
          sum(when(col("ch_old") =!= col("ch_new"), 1L).otherwise(0L)).as("moved_ch"))
        .select(col("n_keys"),
          col("moved_mod"), expr("moved_mod * 10000 div n_keys").as("moved_mod_bp"),
          col("moved_ch"), expr("moved_ch * 10000 div n_keys").as("moved_ch_bp"))
    },
    Some {
      def ringSql(shards: Int) =
        s"""SELECT v // 8 AS shard,
           |  ${P.md5LongSql("concat('ring:', CAST(v // 8 AS VARCHAR), ':', CAST(v % 8 AS VARCHAR))")} AS ph
           |FROM (SELECT unnest(range(0, ${shards * 8})) AS v)""".stripMargin
      s"""WITH keys AS (
         |  SELECT c_custkey AS ck,
         |    ${P.md5LongSql("concat('key:', CAST(c_custkey AS VARCHAR))")} AS hk
         |  FROM customer),
         |ring_old AS (${ringSql(16)}),
         |ring_new AS (${ringSql(17)}),
         |a_old AS (
         |  SELECT ck, coalesce(
         |    min_by(shard, ph) FILTER (WHERE ph >= hk), min_by(shard, ph))
         |    AS ch_old
         |  FROM keys CROSS JOIN ring_old GROUP BY ck, hk),
         |a_new AS (
         |  SELECT ck, coalesce(
         |    min_by(shard, ph) FILTER (WHERE ph >= hk), min_by(shard, ph))
         |    AS ch_new
         |  FROM keys CROSS JOIN ring_new GROUP BY ck, hk),
         |j AS (
         |  SELECT a_old.ck AS ck, ch_old, ch_new,
         |    (a_old.ck % 16) <> (a_old.ck % 17) AS mod_moved
         |  FROM a_old JOIN a_new ON a_old.ck = a_new.ck)
         |SELECT count(*) AS n_keys,
         |  CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
         |  CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS moved_mod_bp,
         |  CAST(sum(CASE WHEN ch_old <> ch_new THEN 1 ELSE 0 END) AS BIGINT) AS moved_ch,
         |  CAST(sum(CASE WHEN ch_old <> ch_new THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS moved_ch_bp
         |FROM j""".stripMargin
    })

  /** Reshard-cost audit, 16 → 17 shards, per source: the fraction of
    * documents that MOVE under (a) a consistent-hash ring with 8
    * virtual nodes per shard (a doc lands on the clockwise successor
    * of its 60-bit hash; only docs whose successor becomes one of the
    * new shard's vnodes move — ~8/136 expected) vs (b) naive modulo
    * placement (everything whose hash changes residue — ~16/17
    * expected). All arithmetic is exact 60-bit integers; the ring is
    * a 136-row broadcast, both generations assigned in ONE aggregate
    * over the doc × ring-point frame (gen-1 argmin via a null-safe
    * min over the 128 old points, gen-2 over all 136).
    */
  val q290 = Q(
    "q290_reshard_audit",
    (s, dir) => {
      val s2 = s
      import s2.implicits._
      val mod60 = 1L << 60
      // ring: shards 0..16 × vnodes 0..7; shard 16 exists only in
      // generation 2
      val ring = (0 to 16).flatMap(sh => (0 to 7).map(v => (sh, v))).toDF("sh", "v")
        .select(col("sh").cast("long").as("shard"),
          Portable.md5Long(concat(lit("node:"), col("sh").cast("string"),
            lit(":"), col("v").cast("string"))).as("r"),
          (col("sh") < 16).as("in1"))
      val docsH = graft.Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          Portable.md5Long(concat(lit("ring:"), col("doc_id").cast("string"))).as("h"))
      val assigned = docsH.join(broadcast(ring))
        .withColumn("delta", pmod(col("r") - col("h"), lit(mod60)))
        .groupBy("doc_id", "source", "h")
        .agg(
          min(when(col("in1"),
            struct(col("delta").as("d"), col("shard").as("sh")))).as("a1"),
          min(struct(col("delta").as("d"), col("shard").as("sh"))).as("a2"))
        .select(col("source"),
          (col("a1.sh") =!= col("a2.sh")).cast("long").as("moved_ring"),
          (pmod(col("h"), lit(16L)) =!= pmod(col("h"), lit(17L)))
            .cast("long").as("moved_mod"))
      assigned.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("moved_ring").as("moved_ring"), sum("moved_mod").as("moved_mod"))
        .select(col("source"), col("n_docs"), col("moved_ring"), col("moved_mod"),
          round(col("moved_ring").cast("double") / col("n_docs"), 6).as("rate_ring"),
          round(col("moved_mod").cast("double") / col("n_docs"), 6).as("rate_mod"))
        .orderBy("source")
    },
    Some(s"""WITH ring AS (
      |  SELECT CAST(s.range AS BIGINT) AS shard,
      |    ${Portable.md5LongSql("concat('node:', CAST(s.range AS VARCHAR), ':', CAST(v.range AS VARCHAR))")} AS r,
      |    s.range < 16 AS in1
      |  FROM range(17) s CROSS JOIN range(8) v),
      |dh AS (
      |  SELECT doc_id, source,
      |    ${Portable.md5LongSql("concat('ring:', CAST(doc_id AS VARCHAR))")} AS h
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, source, h, shard, in1,
      |    ((r - h) % 1152921504606846976 + 1152921504606846976)
      |      % 1152921504606846976 AS delta
      |  FROM dh CROSS JOIN ring),
      |r1 AS (
      |  SELECT doc_id, shard AS sh1,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY delta, shard) AS rn
      |  FROM pairs WHERE in1),
      |r2 AS (
      |  SELECT doc_id, source, h, shard AS sh2,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY delta, shard) AS rn
      |  FROM pairs),
      |mv AS (
      |  SELECT r2.source,
      |    CASE WHEN r1.sh1 <> r2.sh2 THEN 1 ELSE 0 END AS moved_ring,
      |    CASE WHEN r2.h % 16 <> r2.h % 17 THEN 1 ELSE 0 END AS moved_mod
      |  FROM r2 JOIN r1 ON r1.doc_id = r2.doc_id AND r1.rn = 1 AND r2.rn = 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(moved_ring) AS BIGINT) AS moved_ring,
      |  CAST(sum(moved_mod) AS BIGINT) AS moved_mod,
      |  round(CAST(sum(moved_ring) AS DOUBLE) / count(*), 6) AS rate_ring,
      |  round(CAST(sum(moved_mod) AS DOUBLE) / count(*), 6) AS rate_mod
      |FROM mv
      |GROUP BY 1
      |ORDER BY source""".stripMargin))

  val all: Vector[Q] =
    Vector(q203, q229, q241, q260, q242, q243, q259, q266, q270, q280, q281,
      q290)
}
