package graft.queries

import graft.{Pins, Q, Tables}
import org.apache.spark.sql.functions._

/** Graph analytics, third batch (round 10): partition-quality scoring
  * and link prediction over the co-purchase graph — the two
  * read-side graph ops a dedup/curation warehouse runs AFTER the
  * clustering family (q100 CC, q201 label propagation, q221 k-core)
  * has produced a partition: "is this partition real structure?"
  * (modularity) and "which missing edges are most likely?"
  * (Adamic–Adar). The reference's delegated HiveQL surface has no
  * graph operator at all; these follow the q221 contract — the pair
  * space is the Σ basketᵢ² within-order co-purchase expansion
  * (bounded by basket size, never n²), exact integer counting, and a
  * rounded-then-ordered deterministic cut.
  */
object GraphOps3 {

  /** Newman modularity of the BRAND partition over the co-purchase
    * graph: Q_c = L_c/m − (D_c/2m)² per brand, where L_c = edges with
    * both endpoints in brand c, D_c = Σ degree over the brand's
    * nodes, m = |edges|. Attribute partitions are the cheap null
    * model a curation pipeline scores BEFORE paying for a community
    * detection pass: a near-zero Q says the attribute carries no
    * graph structure and the expensive pass is warranted.
    *
    * Scale: pairs are the q221-bounded within-order expansion; after
    * that everything aggregates to |brands| rows (m, L_c, D_c are
    * exact longs; only the final contribution divides). The brand
    * join is a plain shuffle equi-join against `part` — no broadcast
    * assumption, parts can be 10⁹ rows.
    */
  val q271 = Q(
    "q271_brand_modularity",
    (s, dir) => {
      // pin items before the self-join (both aliases otherwise re-run
      // the fact-table distinct), rotate the pin onto the pair frame.
      // The pinned pairs are ONE packed long per edge (x<<32 | y),
      // the q221 r11 convention: this was the most expensive sf10
      // registry query (95.5 s, BENCH_sf10_r10b) and the pin is
      // scanned THREE times below (m, deg, L_c) — narrower blocks cut
      // both the GC scan and the three reads; unpacking is two
      // codegen'd bit ops (part keys are dense 32-bit at every SF).
      // repartition by o BEFORE the distinct (q160's r13 shape): one
      // exchange serves the distinct and the pair self-join
      val items = Pins.pin(Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(s.sparkContext.defaultParallelism, col("o")).distinct())
      val pairs = graft.graph.Rotate.supersede(
        items.alias("a")
          .join(items.alias("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .select(graft.graph.PackedEdge.pack(col("a.p"), col("b.p")).as("e")).distinct(),
        items) // consumed 3× below (m, deg, L_c)
      val px = graft.graph.PackedEdge.x(col("e"))
      val py = col("e").bitwiseAND(lit(0xFFFFFFFFL))
      val brand = Tables.t(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_brand").as("brand"))
      val m = pairs.count()
      // degree per node = pair endpoints, both directions (q221's
      // union-of-projections shape — scans the pinned half frame
      // twice instead of pinning a doubled one)
      val dc = pairs.select(px.as("node"))
        .unionAll(pairs.select(py.as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .join(brand, "node")
        .groupBy("brand").agg(sum("deg").as("d_sum"))
      val lc = pairs.select(px.as("x"), py.as("y"))
        .join(brand.select(col("node").as("x"), col("brand").as("bx")), "x")
        .join(brand.select(col("node").as("y"), col("brand").as("by")), "y")
        .filter(col("bx") === col("by"))
        .groupBy(col("bx").as("brand")).agg(count(lit(1)).as("l_in"))
      dc.join(lc, Seq("brand"), "left")
        .select(col("brand"),
          coalesce(col("l_in"), lit(0L)).as("l_in"),
          col("d_sum"),
          round(coalesce(col("l_in"), lit(0L)) / lit(m.toDouble)
            - pow(col("d_sum") / lit(2.0 * m), 2), 8).as("q_contrib"))
        .orderBy("brand")
    },
    Some("""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (SELECT DISTINCT a.p AS x, b.p AS y
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |m AS (SELECT count(*) AS m FROM pairs),
      |deg AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
      |         SELECT x AS node FROM pairs UNION ALL SELECT y FROM pairs)
      |       GROUP BY 1),
      |dc AS (SELECT p_brand AS brand, sum(deg) AS d_sum
      |       FROM deg JOIN part ON node = p_partkey GROUP BY 1),
      |lc AS (SELECT bx.p_brand AS brand, count(*) AS l_in
      |       FROM pairs JOIN part bx ON pairs.x = bx.p_partkey
      |                  JOIN part by_ ON pairs.y = by_.p_partkey
      |       WHERE bx.p_brand = by_.p_brand GROUP BY 1)
      |SELECT dc.brand, coalesce(l_in, 0) AS l_in, CAST(d_sum AS BIGINT) AS d_sum,
      |  round(coalesce(l_in, 0) / (SELECT CAST(m AS DOUBLE) FROM m)
      |    - pow(d_sum / (2.0 * (SELECT m FROM m)), 2), 8) AS q_contrib
      |FROM dc LEFT JOIN lc USING (brand)
      |ORDER BY brand""".stripMargin))

  /** Adamic–Adar link scores on the bipartite order→part graph: for
    * parts x,y sharing at least one order, AA(x,y) = Σ over common
    * orders of 1/ln(basket size) — frequent common neighbors count
    * less. The top-20 scored pairs are the missing-edge candidates a
    * recommender (or a dedup-cluster "should these merge?" triager)
    * reads first.
    *
    * Scale: the weight attaches to the ORDER row before the within-
    * order expansion, so the join carries one value; pair volume is
    * Σ basketᵢ² (q221's bound). Per the house exactness convention
    * (q263/q278: exact integer sums first, one float op last) the
    * per-order weight is scaled to an integer — round(1e12/ln(bsz)),
    * identical per-row in both engines — summed exactly as
    * DECIMAL(38,0) so the accumulation is fold-order-free, and the
    * ordered cut ranks the EXACT sum (display score = one final
    * divide + round); ties break (x, y).
    */
  val q275 = Q(
    "q275_adamic_adar_links",
    (s, dir) => {
      // pin items (read 3×: basket sizes + both self-join sides via
      // `weighted`), rotate the pin onto the weighted frame the
      // self-join actually scans. repartition by o BEFORE the
      // distinct (q160's r13 shape): the o-partitioning rides the pin
      // through the bsz groupBy, the items⋈bsz join AND the weighted
      // self-join — one exchange where the naive plan pays three
      val items = Pins.pin(Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(s.sparkContext.defaultParallelism, col("o")).distinct())
      val weighted = graft.graph.Rotate.supersede(
        items
          .join(items.groupBy("o").agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") >= 2), "o")
          .withColumn("ws",
            round(lit(1e12) / log(col("bsz")), 0).cast("decimal(38,0)")),
        items)
      weighted.alias("a")
        .join(weighted.alias("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("x"), col("b.p").as("y"))
        .agg(count(lit(1)).as("common_orders"), sum(col("a.ws")).as("aa"))
        .select(col("x"), col("y"), col("common_orders"), col("aa"),
          round(col("aa").cast("double") / lit(1e12), 6).as("aa_score"))
        .orderBy(col("aa").desc, col("x"), col("y"))
        .limit(20)
        .drop("aa")
    },
    Some("""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |bsz AS (SELECT o, count(*) AS bsz FROM items GROUP BY 1 HAVING count(*) >= 2),
      |w AS MATERIALIZED (
      |     SELECT items.o, p, CAST(round(1e12 / ln(bsz)) AS HUGEINT) AS ws
      |     FROM items JOIN bsz ON items.o = bsz.o)
      |SELECT x, y, common_orders, round(CAST(aa AS DOUBLE) / 1e12, 6) AS aa_score
      |FROM (
      |  SELECT a.p AS x, b.p AS y, count(*) AS common_orders, sum(a.ws) AS aa
      |  FROM w a JOIN w b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2
      |  ORDER BY aa DESC, x, y LIMIT 20)
      |ORDER BY aa DESC, x, y""".stripMargin))

  val all: Vector[Q] = Vector(q271, q275)
}
