package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 curation wave: the three governance/monitoring ops a
  * training-data warehouse runs between builds —
  *
  *   - q272 l-diversity: the privacy audit one step past q224's
  *     k-anonymity (group SIZE is not enough when every member shares
  *     the sensitive value; the audit needs the sensitive column's
  *     in-group diversity, both distinct-count and entropy forms).
  *   - q273 PSI: the population-stability index between a release's
  *     snapshot and its delta — the industry drift monitor next to
  *     q131's KS statistic, binned so the number is attributable to
  *     WHERE the distribution moved.
  *   - q274 water-filling: the closed-form token-budget allocator —
  *     given per-source availability and a total budget, the max-min
  *     fair allocation min(availᵢ, t) with Σ = B. The standard
  *     answer to "cap the big sources, fund the small ones fully"
  *     that q122's fixed per-source cap approximates by hand.
  *
  * All three aggregate the fact table once and then do their math on
  * frames bounded by GROUP cardinality (QI groups / 12 bins /
  * #sources), so the post-aggregate windows are driver-class small at
  * any corpus size. Exact integer counts feed every division; doubles
  * appear only in final rounded columns.
  */
object CurationOps10 {

  /** l-diversity audit over QI = (nation, market segment), sensitive
    * attribute = order priority. Emits per QI group: size, distinct-l,
    * entropy (nats), and the l=3 pass flags for both definitions.
    * Entropy l-diversity requires H ≥ ln(l) — strictly stronger than
    * distinct-l, and the gap between the two flags is exactly the
    * skewed-majority groups a distinct-count audit waves through.
    */
  val q272 = Q(
    "q272_l_diversity_audit",
    (s, dir) => {
      val joined = Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("sens"))
      val cells = joined.groupBy("nation", "segment", "sens")
        .agg(count(lit(1)).as("cnt"))
      cells.groupBy("nation", "segment")
        .agg(sum("cnt").as("n"),
          count(lit(1)).as("l_distinct"),
          round(-sum(col("cnt") * log(col("cnt"))).cast("double")
            / sum("cnt") + log(sum("cnt")), 6).as("entropy"))
        .select(col("nation"), col("segment"), col("n"), col("l_distinct"),
          col("entropy"),
          (col("l_distinct") >= 3).as("distinct_l3_ok"),
          (col("entropy") >= round(log(lit(3.0)), 6)).as("entropy_l3_ok"))
        .orderBy("nation", "segment")
    },
    // H = −Σ (c/n)·ln(c/n) = ln(n) − Σ c·ln(c) / n — the one-division
    // form both engines compute from exact integer counts
    Some("""WITH cells AS (
      |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |         o_orderpriority AS sens, count(*) AS cnt
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS n,
      |  count(*) AS l_distinct,
      |  round(-CAST(sum(cnt * ln(cnt)) AS DOUBLE) / sum(cnt)
      |    + ln(sum(cnt)), 6) AS entropy,
      |  count(*) >= 3 AS distinct_l3_ok,
      |  round(-CAST(sum(cnt * ln(cnt)) AS DOUBLE) / sum(cnt)
      |    + ln(sum(cnt)), 6) >= round(ln(3.0), 6) AS entropy_l3_ok
      |FROM cells
      |GROUP BY 1, 2
      |ORDER BY nation, segment""".stripMargin))

  /** Population-stability index between the pre-1997 order snapshot
    * and the 1997+ delta, over 12 fixed 50k-wide total-price bands
    * (top band open). Add-one smoothing keeps empty bands finite in
    * both engines AND on a full bin spine, so the artifact always has
    * exactly 12 attributable rows. PSI reads: <0.1 stable, 0.1–0.25
    * drifting, >0.25 action. Per-band contributions are emitted so
    * the total attributes to the bands that moved.
    */
  val q273 = Q(
    "q273_psi_release_drift",
    (s, dir) => {
      val s2 = s
      import s2.implicits._
      val cut = to_date(lit("1997-01-01"))
      val binned = Tables.t(s, dir, "orders")
        .select(least(floor(col("o_totalprice") / 50000), lit(11)).cast("long").as("bin"),
          (col("o_orderdate") < cut).as("is_base"))
        .groupBy("bin")
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
          sum(when(col("is_base"), 0L).otherwise(1L)).as("n_new"))
      val spine = (0L to 11L).toDF("bin")
      val totals = binned.agg(sum("n_base").as("tb"), sum("n_new").as("tn"))
      spine.join(binned, Seq("bin"), "left")
        .na.fill(0L, Seq("n_base", "n_new"))
        .crossJoin(broadcast(totals))
        .select(col("bin"), col("n_base"), col("n_new"),
          ((col("n_base") + 1) / (col("tb") + 12)).as("pb"),
          ((col("n_new") + 1) / (col("tn") + 12)).as("pn"))
        .select(col("bin"), col("n_base"), col("n_new"),
          round(col("pb"), 6).as("p_base"), round(col("pn"), 6).as("p_new"),
          round((col("pn") - col("pb")) * log(col("pn") / col("pb")), 8)
            .as("psi_contrib"))
        .orderBy("bin")
    },
    Some("""WITH binned AS (
      |  SELECT CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bin,
      |    sum(CASE WHEN o_orderdate < DATE '1997-01-01' THEN 1 ELSE 0 END) AS n_base,
      |    sum(CASE WHEN o_orderdate < DATE '1997-01-01' THEN 0 ELSE 1 END) AS n_new
      |  FROM orders GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 12)) AS bin),
      |filled AS (
      |  SELECT spine.bin,
      |    CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
      |    CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
      |  FROM spine LEFT JOIN binned ON spine.bin = binned.bin),
      |t AS (SELECT sum(n_base) AS tb, sum(n_new) AS tn FROM filled),
      |p AS (SELECT bin, n_base, n_new,
      |    CAST(n_base + 1 AS DOUBLE) / (SELECT tb + 12 FROM t) AS pb,
      |    CAST(n_new + 1 AS DOUBLE) / (SELECT tn + 12 FROM t) AS pn
      |  FROM filled)
      |SELECT bin, n_base, n_new,
      |  round(pb, 6) AS p_base, round(pn, 6) AS p_new,
      |  round((pn - pb) * ln(pn / pb), 8) AS psi_contrib
      |FROM p ORDER BY bin""".stripMargin))

  /** Water-filling token-budget allocation: per-source available
    * tokens, budget B = 3/5 of the total (integer division), each
    * source funded min(availᵢ, t) where the water level t is the
    * unique threshold with Σ allocations = B. Closed form on the
    * availability-sorted list: source k is CAPPED (funded in full)
    * iff cum_{k−1} + availₖ·(n−k+1) ≤ B — the integer-exact test, so
    * the capped set is engine-independent — and
    * t = (B − Σ capped avail) / |uncapped|.
    *
    * Scale: the corpus is touched once (token-count groupBy source);
    * the waterfill itself runs on the #sources-row aggregate, where
    * the unpartitioned window is bounded by source cardinality, not
    * corpus size (same contract as q94's histogram frame).
    */
  val q274 = Q(
    "q274_token_budget_waterfill",
    (s, dir) => {
      // pin the #sources-row aggregate: it feeds BOTH the ranked
      // window chain and the broadcast totals crossJoin — unpinned,
      // the dominant corpus tokenization scan would run twice
      val avail = Pins.pin(Tables.docs(s, dir)
        .select(col("source"), size(Portable.tokens(col("text"))).as("nt"))
        .groupBy("source").agg(sum(col("nt").cast("long")).as("avail")))
      val w = Window.orderBy(col("avail"), col("source"))
      val ranked = avail
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_before",
          coalesce(sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .crossJoin(broadcast(avail.agg(
          count(lit(1)).as("nsrc"), sum("avail").as("total"))))
        .withColumn("budget", expr("total * 3 div 5"))
        .withColumn("capped",
          col("cum_before") + col("avail") * (col("nsrc") - col("rn") + 1)
            <= col("budget"))
      val waterline = ranked
        .agg(max(when(col("capped"), col("rn")).otherwise(0L)).as("kstar"),
          sum(when(col("capped"), col("avail")).otherwise(0L)).as("cap_sum"),
          max("nsrc").as("nsrc"), max("budget").as("budget"))
        .select(col("kstar"), when(col("nsrc") > col("kstar"),
          (col("budget") - col("cap_sum"))
            / (col("nsrc") - col("kstar")).cast("double")).as("t"))
      ranked.crossJoin(broadcast(waterline))
        .select(col("source"), col("avail"),
          round(when(col("capped"), col("avail").cast("double"))
            .otherwise(col("t")), 4).as("alloc"),
          col("capped"))
        .orderBy("source")
    },
    Some(s"""WITH avail AS (
      |  SELECT source, CAST(sum(len(${Portable.tokensSql("text")})) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1),
      |g AS (SELECT count(*) AS nsrc, sum(avail) AS total,
      |        (sum(avail) * 3) // 5 AS budget FROM avail),
      |ranked AS (
      |  SELECT source, avail,
      |    row_number() OVER (ORDER BY avail, source) AS rn,
      |    CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM avail),
      |capped AS (
      |  SELECT r.*, (cum_before + avail * ((SELECT nsrc FROM g) - rn + 1))
      |      <= (SELECT budget FROM g) AS capped
      |  FROM ranked r),
      |wl AS (
      |  SELECT max(CASE WHEN capped THEN rn ELSE 0 END) AS kstar,
      |    sum(CASE WHEN capped THEN avail ELSE 0 END) AS cap_sum FROM capped)
      |SELECT source, avail,
      |  round(CASE WHEN capped THEN CAST(avail AS DOUBLE)
      |    ELSE ((SELECT budget FROM g) - (SELECT cap_sum FROM wl))
      |      / CAST((SELECT nsrc FROM g) - (SELECT kstar FROM wl) AS DOUBLE)
      |    END, 4) AS alloc,
      |  capped
      |FROM capped
      |ORDER BY source""".stripMargin))

  /** Freedman–Diaconis auto-binned price histogram: bin width
    * 2·IQR/n^(1/3) — the distribution-aware binning q94/q213's fixed
    * grids approximate by hand, computed so the bin count adapts to
    * the data (Θ(n^(1/3)) bins) instead of being a magic constant.
    *
    * Exactness: everything upstream of the one bin-width division is
    * integer — prices in exact cents, the quartiles as TYPE-1 ORDER
    * STATISTICS (min cent with cumulative count ≥ ⌈q·n⌉; never an
    * interpolating percentile(), the q260 cross-engine hazard), and
    * q·n is exact in IEEE because 0.25/0.75 are dyadic. The cumsum
    * that selects the quartiles runs over the DISTINCT-cents
    * histogram via [[graft.functions.Dist.globalCumsumBy]] — the
    * bucket-partitioned two-phase cumsum, never a single-partition
    * window (at 100 TB the distinct-price table is itself big). The
    * width division 2·IQR/n^(1/3) is one double op whose ceil both
    * engines compute from identical inputs; driver sees exactly two
    * scalar rows (n+min, then the quartile pair) — bounded.
    */
  val q277 = Q(
    "q277_fd_histogram",
    (s, dir) => {
      val cents = Tables.t(s, dir, "orders")
        .select((col("o_totalprice").cast("decimal(18,4)") * 100)
          .cast("long").as("c"))
      val Array(nRow) = cents.agg(count(lit(1)).as("n"), min("c").as("mn"))
        .collect()
      val (n, mn) = (nRow.getLong(0), nRow.getLong(1))
      val hist = cents.groupBy("c").agg(count(lit(1)).as("cnt"))
      val cum = graft.functions.Dist.globalCumsumBy(
        hist, Seq(col("c")), Seq("cnt"), 32)
      val k25 = math.ceil(0.25 * n).toLong
      val k75 = math.ceil(0.75 * n).toLong
      val Array(qRow) = cum.agg(
        min(when(col("cnt_cum") >= k25, col("c"))).as("q1"),
        min(when(col("cnt_cum") >= k75, col("c"))).as("q3")).collect()
      val iqr = qRow.getLong(1) - qRow.getLong(0)
      val w = math.max(1L, math.ceil(2.0 * iqr / math.pow(n, 1.0 / 3)).toLong)
      cents.groupBy(((col("c") - mn) / w).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_rows"))
        .select(col("bin"), (lit(mn) + col("bin") * w).as("lo_cents"),
          (lit(mn) + (col("bin") + 1) * w).as("hi_cents"), col("n_rows"))
        .orderBy("bin")
    },
    // (c - mn) / w: both engines' `/` on integers would promote to
    // double — the SQL uses // and Spark casts the true division,
    // exact for these magnitudes (cents < 2^53); ⌈q·n⌉ is exact
    // because 0.25/0.75 are dyadic
    Some("""WITH cents AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |tot AS (SELECT count(*) AS n, min(c) AS mn FROM cents),
      |hist AS (SELECT c, count(*) AS cnt FROM cents GROUP BY 1),
      |cum AS (SELECT c, sum(cnt) OVER (ORDER BY c) AS cum FROM hist),
      |q AS (SELECT
      |    min(CASE WHEN cum >= ceil(0.25 * (SELECT n FROM tot)) THEN c END) AS q1,
      |    min(CASE WHEN cum >= ceil(0.75 * (SELECT n FROM tot)) THEN c END) AS q3
      |  FROM cum),
      |bw AS (SELECT greatest(1, CAST(ceil(2.0 * (q3 - q1)
      |    / pow((SELECT n FROM tot), 1.0 / 3)) AS BIGINT)) AS w FROM q)
      |SELECT bin, (SELECT mn FROM tot) + bin * (SELECT w FROM bw) AS lo_cents,
      |  (SELECT mn FROM tot) + (bin + 1) * (SELECT w FROM bw) AS hi_cents,
      |  count(*) AS n_rows
      |FROM (SELECT (c - (SELECT mn FROM tot)) // (SELECT w FROM bw) AS bin
      |      FROM cents)
      |GROUP BY 1
      |ORDER BY bin""".stripMargin))

  /** Pairwise Pearson correlation matrix over lineitem's four numeric
    * features — the data-profiling pass an ML pipeline runs before
    * feature selection. NOT the corr() builtin: the house rule for
    * cross-engine float determinism is exact integer sums first, one
    * float op last (q179's slope convention, extended to the full
    * moment matrix). Every feature is integerized through the money
    * convention (quantity as units, price in cents, discount/tax in
    * basis points), all Σx/Σx²/Σxy accumulate in DECIMAL(38,0) —
    * exact at 10¹² rows — and each of the six correlations is formed
    * from those exact moments with two double ops (a division and a
    * sqrt), then rounded. One corpus pass, one output row.
    */
  val q278 = Q(
    "q278_feature_correlations",
    (s, dir) => {
      // r14 (guide §2.5, the q206 rule): the double→decimal casts +
      // 15 decimal(38,0) moment sums cost µs/row (ProfileJobs: 1.2 s
      // pinned to the 3 tasks the 3-row-group sf0.1 file yields) vs
      // 32 B/row to shuffle — per-row compute dominates the row's
      // bytes ~20×, so repartitioning the RAW 4-double projection
      // (casts applied AFTER the exchange, where the parallelism is)
      // buys full parallelism for the whole decimal pipeline at ANY
      // scale. Cluster-derived count, not a constant. Exact decimal
      // sums are order-independent, so the result is bit-identical.
      val f = Tables.t(s, dir, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
        col("l_quantity").cast("decimal(18,4)").cast("decimal(18,0)")
          .cast("bigint").as("q"),
        (col("l_extendedprice").cast("decimal(18,4)") * 100)
          .cast("decimal(18,0)").cast("bigint").as("p"),
        (col("l_discount").cast("decimal(18,4)") * 10000)
          .cast("decimal(18,0)").cast("bigint").as("d"),
        (col("l_tax").cast("decimal(18,4)") * 10000)
          .cast("decimal(18,0)").cast("bigint").as("t"))
      val feats = Seq("q", "p", "d", "t")
      // Per-row products multiply as LONGs (exact: the money-convention
      // domain bounds every product by ~10^14 ≪ 2^63, and ANSI mode
      // raises loudly if the domain ever grows past that) and enter the
      // sum through ONE long→decimal(38,0) cast — the decimal(18,0)
      // shape multiplied at precision 37 through the BigDecimal slow
      // path on every row (ProfileJobs: the moment aggregate was
      // ~30 µs/row). The accumulators stay decimal(38,0), so the sums —
      // and the correlations derived from them — are value-identical.
      val moments =
        Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
          feats.map(a =>
            sum(col(a).cast("decimal(38,0)")).cast("decimal(38,0)").as(s"s_$a")) ++
          (for (a <- feats; b <- feats if a <= b)
            yield sum((col(a) * col(b)).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as(s"s_$a$b"))
      def corr(a: String, b: String) = {
        val (x, y) = if (a <= b) (a, b) else (b, a)
        round(
          (col("n") * col(s"s_$x$y") - col(s"s_$x") * col(s"s_$y")).cast("double")
            / sqrt((col("n") * col(s"s_$x$x") - col(s"s_$x") * col(s"s_$x")).cast("double")
              * (col("n") * col(s"s_$y$y") - col(s"s_$y") * col(s"s_$y")).cast("double")),
          6).as(s"corr_${a}_$b")
      }
      f.agg(moments.head, moments.tail: _*)
        .select(corr("q", "p"), corr("q", "d"), corr("q", "t"),
          corr("p", "d"), corr("p", "t"), corr("d", "t"))
    },
    Some {
      val defs = """SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(18,4)) AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS p,
        |    CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT) AS d,
        |    CAST(CAST(l_tax AS DECIMAL(18,4)) * 10000 AS BIGINT) AS t
        |  FROM lineitem""".stripMargin
      val pairs = Seq("q" -> "p", "q" -> "d", "q" -> "t",
        "p" -> "d", "p" -> "t", "d" -> "t")
      val corrs = pairs.map { case (a, b) =>
        // the Σab alias is stored under the alphabetically-normalized
        // pair name, same as the Spark side
        val (x, y) = if (a <= b) (a, b) else (b, a)
        s"""round(CAST(n * s_$x$y - s_$a * s_$b AS DOUBLE)
           |    / sqrt(CAST(n * s_$a$a - s_$a * s_$a AS DOUBLE)
           |         * CAST(n * s_$b$b - s_$b * s_$b AS DOUBLE)), 6)
           |    AS corr_${a}_$b""".stripMargin
      }.mkString(",\n  ")
      val sums = Seq("q", "p", "d", "t").map(a => s"sum($a) AS s_$a") ++
        (for (a <- Seq("q", "p", "d", "t"); b <- Seq("q", "p", "d", "t") if a <= b)
          yield s"sum($a * $b) AS s_$a$b")
      s"""WITH f AS ($defs),
         |m AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM f)
         |SELECT
         |  $corrs
         |FROM m""".stripMargin
    })

  val all: Vector[Q] = Vector(q272, q273, q274, q277, q278)
}
