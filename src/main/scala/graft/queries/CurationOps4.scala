package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators, fourth batch (SURVEY.md §2.13 (N)):
  * sketch-audited heavy hitters, character-class QC, bounded-round
  * community detection, curriculum scheduling, shard-balance
  * planning, stratified k-fold splitting, and per-label embedding
  * outliers.
  *
  * Scale design: each operator is a constant number of shuffles on
  * its natural key; the only driver-side work is O(k) rows (the
  * 20-token heavy-hitter panel), never data-proportional. Hashing is
  * the cross-engine [[Portable.md5Long]]; double aggregation either
  * sums integers/decimals exactly or rounds a per-row in-order fold
  * (the q49/q50 centroid pattern).
  */
object CurationOps4 {

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

  /** Character-class QC profile per language: encoding damage shows
    * up as mass outside the expected classes (mojibake, control
    * bytes, stray punctuation), so the gate is the ratio of
    * non-[a-z ] characters. All aggregates are exact integer sums
    * with one final division — no float fold-order hazard.
    */
  val q200 = Q(
    "q200_charclass_profile",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("lang"),
          length(col("text")).as("len"),
          length(regexp_replace(col("text"), "[^a-z]", "")).as("alpha"),
          length(regexp_replace(col("text"), "[^ ]", "")).as("sp"))
        .withColumn("other", col("len") - col("alpha") - col("sp"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          round(sum("alpha") / sum("len"), 6).as("alpha_ratio"),
          round(sum("sp") / sum("len"), 6).as("space_ratio"),
          sum("other").cast("long").as("other_chars"),
          (sum("other") === 0).as("clean"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
      |  round(sum(alpha) / CAST(sum(len) AS DOUBLE), 6) AS alpha_ratio,
      |  round(sum(sp) / CAST(sum(len) AS DOUBLE), 6) AS space_ratio,
      |  CAST(sum(other) AS BIGINT) AS other_chars,
      |  sum(other) = 0 AS clean
      |FROM (SELECT lang, length(text) AS len,
      |        length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha,
      |        length(regexp_replace(text, '[^ ]', '', 'g')) AS sp,
      |        length(text) - length(regexp_replace(text, '[^a-z]', '', 'g'))
      |          - length(regexp_replace(text, '[^ ]', '', 'g')) AS other
      |      FROM documents)
      |GROUP BY 1 ORDER BY lang""".stripMargin))

  /** Community detection by THREE synchronous min-label rounds over
    * the co-purchase graph (parts sharing an order). Bounded-round
    * label propagation is the deterministic, oracle-expressible core
    * of the full convergence loop (q100 runs CC to fixpoint); each
    * round is one neighbor-min aggregation + one label join, so the
    * whole query is 6 shuffles regardless of data size. The edge
    * list is Σ basketᵢ² (basket size is bounded), never n², and the
    * support-≥2 threshold — the standard density control on
    * co-occurrence graphs — prunes ~97% of the pair mass before any
    * propagation shuffle touches it (and leaves real community
    * structure instead of one giant connected blob).
    */
  val q201 = Q(
    "q201_label_propagation",
    (s, dir) => {
      val items = Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val pairs = graft.graph.Baskets.pairs(items)
        .groupBy(col("a.p").as("x"), col("b.p").as("y"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select("x", "y")
      val e2 = pairs.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
      val l0 = items.select(col("p").as("node")).distinct()
        .withColumn("lbl", col("node"))
      val l3 = (1 to 3).foldLeft(l0) { (l, _) =>
        val nmin = e2.join(l.select(col("node").as("dst"), col("lbl").as("nlbl")), "dst")
          .groupBy(col("src").as("node")).agg(min("nlbl").as("minn"))
        l.join(nmin, Seq("node"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("minn"), col("lbl"))).as("lbl"))
      }
      l3.groupBy(col("lbl").as("community")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community")).limit(20)
    },
    Some("""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (SELECT a.p AS x, b.p AS y
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |          GROUP BY 1, 2 HAVING count(*) >= 2),
      |e2 AS MATERIALIZED (SELECT x AS src, y AS dst FROM pairs
      |       UNION ALL SELECT y, x FROM pairs),
      |l0 AS MATERIALIZED (SELECT DISTINCT p AS node, p AS lbl FROM items),
      |l1 AS MATERIALIZED (SELECT v.node, LEAST(v.lbl, COALESCE(MIN(u.lbl), v.lbl)) AS lbl
      |       FROM l0 v LEFT JOIN e2 ON e2.src = v.node
      |                 LEFT JOIN l0 u ON u.node = e2.dst
      |       GROUP BY v.node, v.lbl),
      |l2 AS MATERIALIZED (SELECT v.node, LEAST(v.lbl, COALESCE(MIN(u.lbl), v.lbl)) AS lbl
      |       FROM l1 v LEFT JOIN e2 ON e2.src = v.node
      |                 LEFT JOIN l1 u ON u.node = e2.dst
      |       GROUP BY v.node, v.lbl),
      |l3 AS MATERIALIZED (SELECT v.node, LEAST(v.lbl, COALESCE(MIN(u.lbl), v.lbl)) AS lbl
      |       FROM l2 v LEFT JOIN e2 ON e2.src = v.node
      |                 LEFT JOIN l2 u ON u.node = e2.dst
      |       GROUP BY v.node, v.lbl)
      |SELECT lbl AS community, count(*) AS n_nodes
      |FROM l3 GROUP BY 1
      |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin))

  /** Curriculum schedule: documents ranked by lexical diversity
    * (distinct/total token ratio — a per-row exact division), cut
    * into deciles, grouped into the three training phases. Deciles
    * come from [[graft.functions.Dist.globalRank]] — the
    * range-bucketed two-phase rank — NOT a global ntile window,
    * which would funnel the whole corpus through one task; the
    * rank-arithmetic decile (first n % 10 deciles get the extra row)
    * reproduces ntile's bucket sizes exactly, so the DuckDB oracle
    * can still say ntile. Phase means divide an exact decimal(18,6)
    * sum once ([[Portable.moneyAvg]] rationale), so no float
    * fold-order hazard at any scale; the doc_id tiebreak makes the
    * assignment reproducible across engines and cluster sizes.
    */
  val q202 = Q(
    "q202_curriculum_phases",
    (s, dir) => {
      val base = Tables.docs(s, dir)
        .select(col("doc_id"),
          round(size(array_distinct(Portable.tokens(col("text"))))
            .cast("double") / size(Portable.tokens(col("text"))), 6).as("score"))
      val ranked = graft.functions.Dist.globalRank(
        base, Seq(col("score"), col("doc_id")), "rnk", 32)
      val n = ranked.count()
      // ntile semantics via rank arithmetic: bucket size ⌈n/10⌉ for
      // the first n%10 deciles, ⌊n/10⌋ after — identical assignment
      val big = n % 10; val small = n / 10; val cut = big * (small + 1)
      val scored = ranked.withColumn("decile", expr(
        s"""CAST(CASE WHEN rnk <= $cut THEN (rnk - 1) div ${small + 1}
           |     ELSE $big + (rnk - 1 - $cut) div $small END AS INT) + 1""".stripMargin))
      scored
        .withColumn("phase",
          when(col("decile") <= 3, "p1_easy")
            .when(col("decile") <= 7, "p2_mid").otherwise("p3_hard"))
        .groupBy("phase")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("score").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_score"),
          min("score").as("min_score"),
          max("score").as("max_score"))
        .orderBy("phase")
    },
    Some(s"""WITH scored AS (
      |  SELECT doc_id,
      |    round(CAST(len(list_distinct(${Portable.tokensSql("text")})) AS DOUBLE)
      |      / len(${Portable.tokensSql("text")}), 6) AS score
      |  FROM documents),
      |deciled AS (
      |  SELECT score, ntile(10) OVER (ORDER BY score, doc_id) AS decile
      |  FROM scored)
      |SELECT CASE WHEN decile <= 3 THEN 'p1_easy'
      |            WHEN decile <= 7 THEN 'p2_mid' ELSE 'p3_hard' END AS phase,
      |  count(*) AS n_docs,
      |  CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_score,
      |  min(score) AS min_score, max(score) AS max_score
      |FROM deciled GROUP BY 1 ORDER BY phase""".stripMargin))

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

  /** Stratified 5-fold cross-validation assignment: folds are
    * hash-assigned (stable under re-partitioning and re-runs), and
    * the per-language balance ratio (max/min fold size over the
    * 5-row language partition) is the audit a split job must emit
    * before anyone trains on it.
    */
  val q204 = Q(
    "q204_stratified_kfold",
    (s, dir) => {
      val w = Window.partitionBy("lang")
      Tables.docs(s, dir)
        .withColumn("fold",
          pmod(Portable.md5Long(concat(lit("fold:"), col("doc_id").cast("string"))), lit(5)))
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").cast("long").as("sum_chars"))
        .withColumn("balance",
          round(max("n_docs").over(w).cast("double") / min("n_docs").over(w), 6))
        .orderBy("lang", "fold")
    },
    Some(s"""WITH f AS (
      |  SELECT lang,
      |    ${Portable.md5LongSql("concat('fold:', CAST(doc_id AS VARCHAR))")} % 5 AS fold,
      |    n_chars
      |  FROM documents),
      |agg AS (SELECT lang, fold, count(*) AS n_docs,
      |          CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |        FROM f GROUP BY 1, 2)
      |SELECT lang, fold, n_docs, sum_chars,
      |  round(CAST(max(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
      |    / min(n_docs) OVER (PARTITION BY lang), 6) AS balance
      |FROM agg ORDER BY lang, fold""".stripMargin))

  /** Per-label embedding outliers: the five vectors farthest from
    * their label centroid — the "mislabeled / junk embedding" probe
    * that runs before any centroid-based dedup trusts its cells.
    * Centroids are rounded to 6 dp so both engines rank identical
    * distances (q49/q50 pattern); the distance is the codegen'd
    * in-order fold ([[V.dist2]]); the per-label top-5 is one window
    * over the label partition.
    */
  val q205 = Q(
    "q205_label_outliers",
    (s, dir) => {
      val e = Tables.emb(s, dir)
      val cent = e
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "pos0", "v")
        .groupBy(col("label"), (col("pos0") + 1).as("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("c"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cvec"))
      e.join(broadcast(cent), "label")
        .withColumn("d2", round(V.dist2("embedding", "cvec"), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy(col("d2").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
        .select("label", "vec_id", "d2", "rn")
        .orderBy("label", "rn")
    },
    Some(s"""WITH ${VectorOps.centroidsSql},
      |d AS (
      |  SELECT e.label, e.vec_id,
      |    round(${V.dist2Sql("e.embedding", "cent.cvec")}, 6) AS d2
      |  FROM embeddings e JOIN cent ON cent.clabel = e.label)
      |SELECT label, vec_id, d2, rn FROM (
      |  SELECT label, vec_id, d2, CAST(row_number() OVER (
      |      PARTITION BY label ORDER BY d2 DESC, vec_id) AS INTEGER) AS rn
      |  FROM d)
      |WHERE rn <= 5 ORDER BY label, rn""".stripMargin))

  val all: Vector[Q] =
    Vector(q199, q200, q201, q202, q203, q204, q205)
}
