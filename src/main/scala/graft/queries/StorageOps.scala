package graft.queries

import graft.{Pins, Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-layout operators: bucketed (SMB) table write + the
  * co-located join that bucketing buys. At warehouse scale the
  * fact⋈fact shuffle is usually THE dominant cost of a recurring
  * join; writing both sides bucketed by the join key once turns
  * every subsequent join into a zero-exchange merge of co-located
  * buckets (PlanSpec pins the no-Exchange plan).
  */
object StorageOps {

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

  val all: Vector[Q] = Vector(q229, q241, q260)
}
