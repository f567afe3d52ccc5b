package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import graft.functions.{Portable => P}
import graft.graph.Baskets
import graft.graph.PackedEdge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over warehouse relations: co-purchase basket
  * pairs, triangles and clustering, association rules and Apriori
  * triples, PageRank (plain and personalized), HITS, k-core peeling,
  * label propagation, modularity, Adamic–Adar links, and incremental
  * connected components. Graph inputs are built in `graft.graph`.
  */
object Graph {

  /* Graph analytics over warehouse relations (SURVEY §2.13 extension
    * family, next to graph.ConnectedComponents): iterative PageRank on
    * the customer↔supplier purchase graph. The reference's delegated
    * HiveQL surface has no iterative operator at all — this is the
    * capability a Spark-native engine adds for influence/centrality
    * scoring over entity graphs extracted from fact tables.
    */

  /** PageRank, 3 unrolled iterations, damping 0.85, over the
    * undirected bipartite graph of distinct (customer, supplier)
    * purchase pairs. Each iteration is one join + one aggregate on
    * the (node, pr) table — the same shuffle-by-key shape as the CC
    * loop, so a 10⁹-edge graph runs with the edge table hash-
    * partitioned once and only the rank table moving per round. The
    * iteration count is FIXED (not convergence-driven) so the DuckDB
    * oracle can mirror it as a CTE chain; ranks are rounded before
    * the top-k cut.
    */
  val q142 = Q(
    "q142_pagerank_purchases",
    (s, dir) => {
      // Node ids are LONGS inside the loop (customer 2k, supplier
      // 2k+1), mapped to the emitted "c…"/"s…" labels only on the
      // final top-20: the r9 sf10 runs showed the graph family is
      // heap-marginal on local[32] (GC-bound variance, BASELINE.md),
      // and the string node ids were the single biggest pinned-frame
      // inflation — an 8-byte long vs a "c1234567" UTF8String plus
      // offset per endpoint, ~3× on the frame every iteration scans.
      // On a 1000-executor cluster the same change shrinks shuffle
      // AND block-manager bytes by the same factor.
      // pinned before the symmetric union (both branches otherwise
      // re-run the join+distinct); endpoint counts for the broadcast
      // gate ride the pin action as observed metrics
      val (e, nc, ns) = graft.graph.Bcast.pinCounted(Tables.t(s, dir, "orders")
        .join(Tables.t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          (col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct(), col("src"), col("dst"))
      val small = nc + ns <= graft.graph.Bcast.maxNodes
      import org.apache.spark.sql.GraftSqlBridge.{freshInstance, plainInstance}
      // The pinned frame carries ONLY (src, dst): the out-degree no
      // longer rides the edge table (r6 #3 pre-joined it to save a
      // per-round edge⋈deg join, at 1.5× the pinned bytes). The same
      // join is saved cheaper by folding pr/deg into a NODE-sized
      // contribution table per round — the edge join then carries one
      // double instead of (pr, deg), and the per-edge division
      // becomes a per-node one.
      //
      // Below the [[graft.graph.Bcast]] node gate (r14): sym stays
      // LAZY over the pinned e — two projections of pinned blocks per
      // scan instead of materializing a second 2|e| frame — and every
      // per-round join of a node-sized frame (deg, contrib) carries
      // an explicit broadcast hint, so NO round stages the edge side
      // into a shuffle at all (the before-plan ran a SortMergeJoin
      // with a full edge exchange per round,
      // plans/r14/q142_pagerank_purchases_before.txt). Above the
      // gate: the r13 shape — sym pinned pre-partitioned on the join
      // key, rank tables shuffled per round, AQE coalescing them.
      val symPinned =
        if (small) null
        else graft.graph.Rotate.supersede(
          e.union(e.select(col("dst").as("src"), col("src").as("dst")))
            .repartition(col("src")),
          e)
      def sym: org.apache.spark.sql.DataFrame =
        if (small) freshInstance(e).union(
          freshInstance(e).select(col("dst").as("src"), col("src").as("dst")))
        else freshInstance(symPinned)
      val obsN = org.apache.spark.sql.Observation()
      val deg = Pins.pin(sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .observe(obsN, count(lit(1)).as("n"))) // pin: node-sized, seeds pr0 and n
      // node count rides the deg pin action (replaces the old
      // crossJoin'd 1-row nFrame — two BroadcastNestedLoopJoins out
      // of every plan); n < 2^53 so the double is exact
      val n = obsN.getAsJava.get("n").asInstanceOf[Long].toDouble
      var pr = freshInstance(deg)
        .select(col("src").as("node"), (lit(1.0) / lit(n)).as("pr"))
      for (_ <- 1 to 3) {
        // plainInstance copies of one pinned RDD canonicalize equal →
        // the three rounds' deg broadcasts share ONE build
        val d = graft.graph.Bcast.hint(plainInstance(deg), small)
        val contrib = pr.join(d, pr("node") === d("src"))
          .select(pr("node").as("cnode"), (col("pr") / col("deg")).as("c"))
        val sy = sym
        pr = sy
          .join(graft.graph.Bcast.hint(contrib, small),
            sy("src") === contrib("cnode"))
          .groupBy(col("dst").as("node2"))
          .agg(sum(col("c")).as("inflow"))
          .select(col("node2").as("node"),
            (lit(0.15) / lit(n) + lit(0.85) * col("inflow")).as("pr"))
      }
      // map back to the public labels BEFORE the ordering cut: ties
      // at equal rounded pr must break on the emitted string label,
      // exactly as the oracle orders them
      pr.select(
          concat(when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")),
            shiftright(col("node"), 1)).as("label"),
          round(col("pr"), 6).as("pr"))
        .select(col("label").as("node"), col("pr"))
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
    },
    Some("""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |sym AS MATERIALIZED (SELECT src, dst FROM e
      |        UNION ALL SELECT dst AS src, src AS dst FROM e),
      |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
      |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
      |pr0 AS MATERIALIZED (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
      |pr1 AS MATERIALIZED (
      |  SELECT dst AS node,
      |    0.15 / (SELECT n FROM nn) + 0.85 * sum(pr / deg) AS pr
      |  FROM sym JOIN pr0 ON sym.src = pr0.node JOIN deg USING (src)
      |  GROUP BY dst),
      |pr2 AS MATERIALIZED (
      |  SELECT dst AS node,
      |    0.15 / (SELECT n FROM nn) + 0.85 * sum(pr / deg) AS pr
      |  FROM sym JOIN pr1 ON sym.src = pr1.node JOIN deg USING (src)
      |  GROUP BY dst),
      |pr3 AS MATERIALIZED (
      |  SELECT dst AS node,
      |    0.15 / (SELECT n FROM nn) + 0.85 * sum(pr / deg) AS pr
      |  FROM sym JOIN pr2 ON sym.src = pr2.node JOIN deg USING (src)
      |  GROUP BY dst)
      |SELECT node, round(pr, 6) AS pr FROM pr3
      |ORDER BY pr DESC, node LIMIT 20""".stripMargin))

  /** Market-basket co-purchase pairs: parts bought together on one
    * order, top pairs by support. The pair join is blocked by
    * orderkey — volume is Σ order_linesᵢ², bounded by the small
    * per-order line count, never |lineitem|². Counts are exact ints;
    * the top-k cut needs no rounding.
    */
  val q160 = Q(
    "q160_basket_pairs",
    (s, dir) => {
      // one exchange serves the distinct and the self-join (at sf10
      // the naive distinct cost a second full 60M-row exchange)
      Baskets.pairCounts(Baskets.items(s, dir), "part_a", "part_b", "n_orders")
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    },
    Some("""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
      |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin))

  /** The support ≥ 2 co-purchase edges `(pa, pb)`, pa < pb, pinned.
    * The items are pinned before the self-join (both sides otherwise
    * re-run the fact-table distinct) and the pin rotates onto the
    * edges; the items' o-partitioning survives the pin, so the
    * self-join adds ZERO exchange over the pinned blocks.
    */
  private def supportEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = Pins.pin(Baskets.items(s, dir))
    graft.graph.Rotate.supersede(
      Baskets.pairCounts(li, "pa", "pb", "n")
        .filter(col("n") >= 2)
        .select("pa", "pb"),
      li) // three self-references in triangles
  }

  /** Each triangle of the edge frame `e` once, as `(pa, pb, qb)`. */
  private def triangles(e: org.apache.spark.sql.DataFrame) =
    e.join(e.select(col("pa").as("qa"), col("pb").as("qb")),
        col("pb") === col("qa"))
      .join(e.select(col("pa").as("ra"), col("pb").as("rb")),
        col("ra") === col("pa") && col("rb") === col("qb"), "left_semi")

  /** Triangle enumeration on the co-purchase graph (support ≥ 2
    * edges from q160's basket pairs): the canonical a<b<c edge-edge-
    * edge join, the building block of clustering-coefficient and
    * community metrics. The id ordering makes each triangle appear
    * exactly once AND caps the join fan-out (every edge stored once,
    * smallest endpoint first — the standard power-law mitigation).
    */
  val q162 = Q(
    "q162_triangle_count",
    (s, dir) => {
      triangles(supportEdges(s, dir))
        .select(col("pa").as("part_a"), col("pb").as("part_b"),
          col("qb").as("part_c"))
        .orderBy("part_a", "part_b", "part_c")
    },
    Some("""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS pa, b.pk AS pb
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c
      |FROM e e1 JOIN e e2 ON e1.pb = e2.pa
      |WHERE EXISTS (SELECT 1 FROM e e3
      |              WHERE e3.pa = e1.pa AND e3.pb = e2.pb)
      |ORDER BY part_a, part_b, part_c""".stripMargin))

  /** Local clustering coefficient per part over the support≥2
    * co-purchase graph: closed wedges / possible wedges. Triangle
    * membership is counted from the q162 enumeration (each triangle
    * credits all three corners), degree from the symmetrized edge
    * list; both are aggregates over the same pinned edge table.
    */
  val q163 = Q(
    "q163_clustering_coefficient",
    (s, dir) => {
      val e = supportEdges(s, dir)
      val tri = triangles(e)
        .select(col("pa").as("x"), col("pb").as("y"), col("qb").as("z"))
      val triCnt = tri.select(explode(array(col("x"), col("y"), col("z"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_tri"))
      val deg = e.select(col("pa").as("part"))
        .union(e.select(col("pb").as("part")))
        .groupBy("part").agg(count(lit(1)).as("deg"))
      deg.join(triCnt, "part")
        .filter(col("deg") >= 2)
        .select(col("part"), col("deg"), col("n_tri"),
          round(col("n_tri") * 2.0 / (col("deg") * (col("deg") - 1)), 5)
            .as("clustering"))
        .orderBy(col("clustering").desc, col("part"))
        .limit(25)
    },
    // li/e/tri are MATERIALIZED: e is referenced FIVE times (e1/e2/e3
    // + twice in deg) and tri three times — DuckDB inlines
    // multi-referenced CTEs, so at sf10 the 60M-row co-purchase
    // self-join was re-derived per reference and its spill filled the
    // disk (the same hazard class as the q216 BPE chains, README
    // "Measured scale-up"); materialized, the oracle runs in minutes
    Some("""WITH li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.pk AS pa, b.pk AS pb
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |tri AS MATERIALIZED (
      |  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
      |  FROM e e1 JOIN e e2 ON e1.pb = e2.pa
      |  WHERE EXISTS (SELECT 1 FROM e e3
      |                WHERE e3.pa = e1.pa AND e3.pb = e2.pb)),
      |tc AS (
      |  SELECT part, count(*) AS n_tri FROM (
      |    SELECT x AS part FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY 1),
      |deg AS (
      |  SELECT part, count(*) AS deg FROM (
      |    SELECT pa AS part FROM e UNION ALL SELECT pb FROM e)
      |  GROUP BY 1)
      |SELECT part, deg, n_tri,
      |  round(n_tri * 2.0 / (deg * (deg - 1)), 5) AS clustering
      |FROM deg JOIN tc USING (part)
      |WHERE deg >= 2
      |ORDER BY clustering DESC, part LIMIT 25""".stripMargin))

  /** Item-item collaborative similarity: part pairs ranked by the
    * Jaccard of their order sets — n_ab / (n_a + n_b − n_ab) from the
    * blocked pair counts plus per-part order counts (broadcast-able
    * side table). The recommender-system building block, exact, with
    * the similarity rounded before the cut.
    */
  val q164 = Q(
    "q164_item_similarity",
    (s, dir) => {
      // pinned WITHOUT rotation: li is read again after the pair
      // build (the per-part counts), so the pin must outlive it; the
      // pair build starts from the pinned blocks with NO further
      // exchange of li
      val li = Pins.pin(Baskets.items(s, dir))
      val pairs = Baskets.pairCounts(li, "pa", "pb", "nab")
        .filter(col("nab") >= 2)
      val cnt = li.groupBy(col("p")).agg(count(lit(1)).as("n"))
      pairs
        .join(cnt.select(col("p").as("ka"), col("n").as("na")), col("pa") === col("ka"))
        .join(cnt.select(col("p").as("kb"), col("n").as("nb")), col("pb") === col("kb"))
        .select(col("pa").as("part_a"), col("pb").as("part_b"), col("nab"),
          round(col("nab").cast("double") / (col("na") + col("nb") - col("nab")), 5)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
        .limit(20)
    },
    Some("""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS nab
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |cnt AS (SELECT pk, count(*) AS n FROM li GROUP BY 1)
      |SELECT pa AS part_a, pb AS part_b, nab,
      |  round(CAST(nab AS DOUBLE) / (ca.n + cb.n - nab), 5) AS jaccard
      |FROM pairs JOIN cnt ca ON pa = ca.pk JOIN cnt cb ON pb = cb.pk
      |ORDER BY jaccard DESC, part_a, part_b LIMIT 20""".stripMargin))

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

  /* HITS hub/authority scoring on the
    * bipartite customer→part purchase graph and bounded-round k-core
    * peeling on the co-purchase graph. Both follow the q201/q142
    * iterative contract: a FIXED unrolled round count, one aggregation
    * + one join per round, edge tables bounded by Σ basketᵢ², and pure
    * integer arithmetic throughout — no double fold-order hazard ever
    * enters the plan. The oracle CTE chains are MATERIALIZED: DuckDB
    * inlines multi-referenced CTEs, so an unrolled round chain
    * otherwise expands exponentially (the un-materialized q221 oracle
    * spilled past 77 GB at sf1; materialized it runs in seconds).
    */

  /** Three unrolled HITS rounds over an edge set `(u, p)`: h⁰ = 1;
    * a = Σ h over in-edges; h = Σ a over out-edges. EXACT INTEGER
    * arithmetic carried in DECIMAL(38,0): unnormalized scores grow
    * ~(d_u·d_p) per round, and on a genuinely skewed 100 TB graph
    * round 3 exceeds int64 — a BIGINT formulation would silently
    * wrap there and return a wrong top-10 with no error. Decimal
    * keeps every intermediate exact to 38 digits. Past THAT: under
    * ANSI (the Spark 4 default) the decimal sum raises natively, but
    * an ANSI-off session returns NULL — which would sort LAST under
    * `desc` and silently drop the heaviest node from the top-10 — so
    * every round's sum ALSO carries an explicit raise-on-null guard.
    * Overflow degrades to a loud error under either setting, never
    * to a silently wrong ranking (the DuckDB oracle errors natively
    * on decimal overflow, so both engines fail closed). GraphOps2Spec
    * drives a synthetic star graph whose round-3 score provably
    * exceeds Long.MaxValue yet stays exact, and proves both overflow
    * paths fail loud once a score passes 38 digits.
    * Max-normalization stays out: it is a positive per-round scalar,
    * so every round's RANKING is identical to textbook HITS and no
    * cross-engine division rounding enters the plan.
    */
  def hits(e: DataFrame, rounds: Int,
      bcastScores: Boolean = false): DataFrame = {
    // sum inputs are built non-null, so a NULL sum can only mean
    // decimal overflow (ANSI off nulls instead of raising)
    def guarded(c: org.apache.spark.sql.Column) =
      coalesce(c, raise_error(lit("q220 HITS: decimal(38,0) overflow")))
    // bcastScores (r14, guide §3.1/§8 via [[graft.graph.Bcast]]): the
    // per-round hub/authority tables are NODE-sized — a size the
    // planner cannot see through the pinned edge RDD — so below the
    // caller's observed node gate each of the 2·rounds joins carries
    // an explicit broadcast hint and the edge side is never staged
    // into a shuffle at all. Without the hint the planner exchanges
    // the edge side before AQE demotes the join to broadcast: the
    // map-side shuffle WRITE of the full edge set still ran, once per
    // join (plans/r14/q220_hits_scores_before.txt — six
    // `Exchange hashpartitioning` + `AQEShuffleRead local` pairs).
    def bc(df: DataFrame) = graft.graph.Bcast.hint(df, bcastScores)
    var h: DataFrame = e.select(col("u")).distinct()
      .withColumn("h", lit(1L).cast("decimal(38,0)"))
    var a: DataFrame = null
    for (_ <- 1 to rounds) {
      a = e.join(bc(h), "u").groupBy("p")
        .agg(guarded(sum("h")).cast("decimal(38,0)").as("a"))
      h = e.join(bc(a), "p").groupBy("u")
        .agg(guarded(sum("a")).cast("decimal(38,0)").as("h"))
    }
    a.select(col("p").as("part"), col("a").as("authority"))
      .orderBy(col("authority").desc, col("part")).limit(10)
  }

  /** Top-10 parts by round-3 HITS authority on the bipartite
    * customer→part purchase graph (see [[hits]] for the arithmetic
    * contract). The RANKING is decided on the exact DECIMAL(38,0)
    * scores; the EMITTED `authority` column is that exact decimal
    * cast to STRING — exact at any magnitude, and a representation
    * both engines (and the driver's hasher) canonicalize
    * identically. (Round 6's decimal output column was value-correct
    * but the registry's only DECIMAL output, and the driver's hash
    * canonicalizes decimal differently from its value compare —
    * VERDICT r6 #1; q237 keeps a cheap decimal-output canary.)
    */
  val q220 = Q(
    "q220_hits_scores",
    (s, dir) => {
      // single-long edge pin (u<<32 | p), the r11 packing convention
      // (q221/q271): the pinned bipartite edge set is scanned SIX
      // times (two joins per unrolled round), so narrow blocks pay
      // off sixfold; the unpack projection (two codegen'd bit ops)
      // sits between the RDD scan and each join. distinct() on the
      // packed long ≡ distinct on (u, p) — the pack is injective for
      // dense 32-bit keys, and PackedEdge.pack fails loudly on any
      // id outside [0, 2^32) rather than silently merging edges.
      // node counts for the broadcast gate ride the pin action as
      // observed metrics (approx — a perf gate, never semantics)
      val (packed, nu, np) = graft.graph.Bcast.pinCounted(Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(graft.graph.PackedEdge.pack(col("o_custkey"), col("l_partkey")).as("e"))
        .distinct(),
        graft.graph.PackedEdge.x(col("e")), col("e").bitwiseAND(lit(0xFFFFFFFFL)))
      val small = math.max(nu, np) <= graft.graph.Bcast.maxNodes
      val e = packed.select(graft.graph.PackedEdge.x(col("e")).as("u"),
        col("e").bitwiseAND(lit(0xFFFFFFFFL)).as("p"))
      hits(e, 3, bcastScores = small)
        .select(col("part"), col("authority").cast("string").as("authority"))
    },
    Some {
      val rounds = (1 to 3).map { r =>
        s"""a$r AS MATERIALIZED (SELECT p, CAST(sum(h) AS DECIMAL(38,0)) AS a
           |        FROM e JOIN h${r - 1} USING (u) GROUP BY 1),
           |h$r AS MATERIALIZED (SELECT u, CAST(sum(a) AS DECIMAL(38,0)) AS h
           |        FROM e JOIN a$r USING (p) GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT o_custkey AS u, l_partkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |h0 AS MATERIALIZED (SELECT DISTINCT u, CAST(1 AS DECIMAL(38,0)) AS h FROM e),
         |$rounds
         |SELECT p AS part, CAST(a AS VARCHAR) AS authority
         |FROM a3
         |ORDER BY a DESC, p LIMIT 10""".stripMargin
    })

  /** Three k-core peel rounds (k = 60) on the co-purchase graph:
    * each round drops nodes whose degree within the surviving set is
    * < k. The distinct-pair graph has a scale-invariant degree
    * distribution on these fixtures (shards reproduce the per-part
    * co-purchase density), so one k stays non-degenerate from
    * sf0.001 through sf10 — a support-thresholded variant (q201's
    * graph) thins with part cardinality and 3-cores vanish above
    * sf0.01. Output: top-20 survivors by final-round in-core degree.
    * All integer arithmetic; each round filters the edge frontier to
    * surviving endpoints (checkpoint-rotated, so later rounds scan
    * only surviving edges) and runs one degree aggregation.
    */
  val q221 = Q(
    "q221_kcore_peel",
    (s, dir) => {
      // repartition by o BEFORE the distinct (q160's r13 shape): the
      // o-only partitioning satisfies the distinct's (o, p) grouping
      // (subset rule), survives the pin, and hands the pair self-join
      // its required distribution — one 60M-row exchange instead of two
      val items = Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .repartition(col("o")).distinct()
      // Pin the HALF edge set (x < y) and derive each direction
      // lazily over the cached blocks: the r10 sf10 attribution put
      // this query heap-marginal and GC-bound (BASELINE.md), and the
      // doubled symmetric frame was the largest pinned object in the
      // whole sweep. Degree over both directions is the union of the
      // two endpoint projections — identical counts (an x<y edge
      // contributes once to x and once to y either way), two scans of
      // |pairs| cached rows instead of one scan of 2|pairs|, and HALF
      // the block-manager bytes. Shuffle volume into the degree
      // aggregate is unchanged (map-side partial agg applies to each
      // branch).
      // pin items before the self-join (both aliases otherwise re-run
      // the fact-table distinct), release it once the pair frame —
      // the only thing the peel reads — has materialized.
      //
      // The pinned frame is ONE packed long per edge (x<<32 | y), not
      // two: the r11 heap-floor measurement (ProfileHeap, sf10, 48 GB
      // driver) put this query's pinned pair blocks at ~17 GB with
      // sampled JVM heap AT the Xmx ceiling — the GC-bound ±30%
      // variance BASELINE.md describes. Per-row object overhead
      // dominates, so the BYTE saving is small (sampled storage peak
      // 17.1 → 16.2 GB), but the narrower rows + cheaper degree scans
      // measured decisively on wall time: isolated best-of-2 at sf10
      // fell 160.4 s @ canary 0.929 (r10) → 84.6 s @ canary 1.656
      // (BENCH_sf10_q221_packed_r11.json; a MEMORY_AND_DISK_SER
      // variant was also measured and rejected — see Rotate rule 4).
      // Unpacking is two codegen'd bit ops per scan. Packing is
      // injective while node ids fit in 32 bits (part keys are dense:
      // max 2·10⁶ at sf10; a >2³²-part catalog fails loudly at the
      // PackedEdge.pack guard and would need the two-column form
      // back).
      val itemsP = Pins.pin(items)
      val packedX = graft.graph.PackedEdge.x(col("e"))
      val packedY = col("e").bitwiseAND(lit(0xFFFFFFFFL))
      var pe = graft.graph.Rotate.supersede(
        graft.graph.Baskets.pairs(itemsP)
          .select(graft.graph.PackedEdge.pack(col("a.p"), col("b.p")).as("e")).distinct(),
        itemsP)
      def degrees(p: DataFrame): DataFrame = p
        .select(packedX.as("node"))
        .unionAll(p.select(packedY.as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      def surviving(p: DataFrame, a: DataFrame): DataFrame = p
        .withColumn("x", packedX).withColumn("y", packedY)
        .join(a.select(col("node").as("x")), "x")
        .join(a.select(col("node").as("y")), "y")
      // round 1: alive = every node, so both semi-joins are no-ops —
      // degree is a straight count over pe (saves two joins of the
      // largest round; the pe scan itself is the irreducible cost)
      var alive: DataFrame = Pins.pin(degrees(pe)
        .filter(col("deg") >= 60).select("node"))
      // ADAPTIVE frontier rotation (r8, measured; policy codified in
      // [[graft.graph.Rotate]] as of r9): round 7
      // unconditionally filtered the edge set to alive–alive edges
      // and checkpoint-rotated it every round (VERDICT r6 #2) — but
      // on this graph the 60-core retains 99.7% of nodes after round
      // one, so each rotation paid a FULL edge-set materialization to
      // save a ~0.3% smaller scan, and q221 regressed 1.55× at sf1 /
      // 2.0× at sf10 (targeted bench vs the r6 artifact). The
      // scale-correct form is conditional: rotate ONLY when the peel
      // removed a material fraction of nodes (alive is already an
      // eagerly-checkpointed ≤node-sized frame, so the count that
      // decides is one cheap action on cached blocks); otherwise keep
      // probing the pinned edge set with two broadcast-sized
      // semi-joins — the cheaper plan when nothing shrank. Degrees
      // are identical either way: an edge with a dead endpoint never
      // counts toward an alive node's in-core degree, and
      // aliveₜ ⊆ aliveₜ₋₁. On a genuinely eroding graph (low-k cores,
      // heavy-tailed degrees) the 0.8 gate opens and the r7 rotation
      // applies; on this one it stays shut and round cost matches r6.
      var aliveCnt = alive.count()
      for (_ <- 2 to 3) {
        val nextAlive = Pins.pin(degrees(surviving(pe, alive))
          .filter(col("deg") >= 60).select("node"))
        val nextCnt = nextAlive.count()
        if (graft.graph.Rotate.shrank(aliveCnt, nextCnt)) {
          pe = graft.graph.Rotate.supersede(
            surviving(pe, nextAlive).select("e"), pe)
        }
        alive = nextAlive
        aliveCnt = nextCnt
      }
      degrees(surviving(pe, alive))
        .orderBy(col("deg").desc, col("node")).limit(20)
    },
    Some("""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS MATERIALIZED (SELECT DISTINCT a.p AS x, b.p AS y
      |          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |e2 AS MATERIALIZED (SELECT x AS src, y AS dst FROM pairs
      |       UNION ALL SELECT y, x FROM pairs),
      |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e2),
      |a1 AS MATERIALIZED (SELECT src AS node FROM e2
      |       JOIN a0 s ON s.node = e2.src JOIN a0 d ON d.node = e2.dst
      |       GROUP BY 1 HAVING count(*) >= 60),
      |a2 AS MATERIALIZED (SELECT src AS node FROM e2
      |       JOIN a1 s ON s.node = e2.src JOIN a1 d ON d.node = e2.dst
      |       GROUP BY 1 HAVING count(*) >= 60),
      |a3 AS MATERIALIZED (SELECT src AS node FROM e2
      |       JOIN a2 s ON s.node = e2.src JOIN a2 d ON d.node = e2.dst
      |       GROUP BY 1 HAVING count(*) >= 60),
      |core AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e2
      |         JOIN a3 s ON s.node = e2.src JOIN a3 d ON d.node = e2.dst
      |         GROUP BY 1)
      |SELECT node, deg FROM core
      |ORDER BY deg DESC, node LIMIT 20""".stripMargin))

  /** Incremental connected-components maintenance (round 8) — the IVM
    * trilogy (q241 algebraic / q255 distinct / q260 holistic) extended
    * to GRAPH state, the case a dedup warehouse actually faces daily:
    * the near-dup cluster assignment (q100's band graph) must absorb a
    * batch of NEW documents without re-running CC over the full
    * corpus. The stored state is the snapshot's per-band-node
    * component label (labels are min-node ids, so a component id IS a
    * member node id and the namespaces compose). A refresh CONTRACTS
    * the delta edges — each endpoint rewritten to its snapshot label
    * where one exists — and runs CC only on that contracted graph,
    * whose size is Θ(delta + touched components), never Θ(corpus);
    * final labels are the two-step composition. Min-label
    * correctness survives composition because every snapshot
    * component id is that component's min node: the merged
    * component's min over contracted ids equals its true min node.
    * Output: per-cluster doc counts with snapshot/delta attribution
    * (min doc_id as the cluster key, q100's convention). The oracle
    * is the FULL recursive-CTE closure over snapshot ∪ delta — the
    * incremental path must reproduce the full recompute exactly, the
    * same invariant StorageSpec pins for q241. The snapshot split is
    * q257's release framing (doc_id % 7 == 3 arrives in the delta).
    */
  /** Shared oracle prefix for the q262/q264 band graph: per-doc
    * MinHash band buckets (2 bands × 8 hashes, q100's parameters) as
    * CTEs `toks → ex → mh → db(doc_id, b0, b1)`.
    */
  private def bandCtesSql: String = {
    import graft.functions.{Portable => P}
    s"""toks AS (
    |  SELECT doc_id, ${P.tokenSetSql("text")} AS toks FROM documents),
    |${graft.functions.MinHashBands.bucketsSql("toks")}""".stripMargin
  }

  /** Shared engine prefix: per-doc band nodes (b0, b1) for the
    * near-dup band graph, plus a deterministic per-doc flag column.
    */
  private def bandFrame(s: SparkSession, dir: String,
      flagName: String, flag: org.apache.spark.sql.Column): DataFrame = {
    import graft.functions.{Portable => P}
    Pins.pin(Tables.docs(s, dir)
      .select(col("doc_id"), P.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
      .select(col("doc_id"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1"),
        flag.as(flagName)))
  }

  val q262 = Q(
    "q262_incremental_cc_maintenance",
    (s, dir) => {
      // pinned frame feeds snapshot CC, delta contraction, final join
      val db = bandFrame(s, dir, "is_snap", pmod(col("doc_id"), lit(7)) =!= 3)
      // stored snapshot state: (band node -> component min-node label).
      // CC.run's output is already an eager checkpoint — re-pinning it
      // cost a full extra label pass (r13 shape, dropped r14)
      val snapComp = graft.graph.ConnectedComponents.run(
        db.filter(col("is_snap"))
          .select(col("b0").as("a"), col("b1").as("b")))
      // contract delta edges onto snapshot labels (unknown endpoints
      // keep their own id — they are genuinely new nodes)
      val contracted = db.filter(!col("is_snap"))
        .select("b0", "b1")
        .join(snapComp.select(col("node").as("b0"), col("component").as("ca")),
          Seq("b0"), "left")
        .join(snapComp.select(col("node").as("b1"), col("component").as("cb")),
          Seq("b1"), "left")
        .select(coalesce(col("ca"), col("b0")).as("a"),
          coalesce(col("cb"), col("b1")).as("b"))
      val merged = graft.graph.ConnectedComponents.run(contracted)
      // compose: node -> snapshot label -> merged label (either hop
      // may be absent: untouched components / snapshot-only nodes)
      val nodes = db.select(explode(array(col("b0"), col("b1"))).as("node"))
        .distinct()
      val finalLab = nodes
        .join(snapComp, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("c1"))
        .join(merged.select(col("node").as("c1"), col("component").as("c2")),
          Seq("c1"), "left")
        .select(col("node"), coalesce(col("c2"), col("c1")).as("comp"))
      db.join(finalLab, db("b0") === finalLab("node"))
        .groupBy("comp")
        .agg(min("doc_id").as("cluster"), count(lit(1)).as("n_docs"),
          sum(col("is_snap").cast("long")).as("n_snapshot"),
          sum((!col("is_snap")).cast("long")).as("n_delta"))
        .select("cluster", "n_docs", "n_snapshot", "n_delta")
        .orderBy("cluster")
    },
    Some {
      s"""WITH RECURSIVE $bandCtesSql,
      |dbf AS (SELECT doc_id, b0, b1, doc_id % 7 <> 3 AS is_snap FROM db),
      |edges AS (SELECT b0 AS a, b1 AS b FROM dbf UNION SELECT b1, b0 FROM dbf),
      |nodes AS (SELECT DISTINCT b0 AS node FROM dbf UNION SELECT DISTINCT b1 FROM dbf),
      |reach AS (
      |  SELECT node, node AS lab FROM nodes
      |  UNION
      |  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      |comp AS (SELECT node, min(lab) AS cl FROM reach GROUP BY node)
      |SELECT min(doc_id) AS cluster, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN is_snap THEN 1 ELSE 0 END) AS BIGINT) AS n_snapshot,
      |  CAST(sum(CASE WHEN is_snap THEN 0 ELSE 1 END) AS BIGINT) AS n_delta
      |FROM dbf JOIN comp c ON dbf.b0 = c.node
      |GROUP BY c.cl
      |ORDER BY cluster""".stripMargin
    })

  /** DELETE-aware incremental CC maintenance (VERDICT r8 #4) — the
    * takedown half of the graph-IVM pair: q262 absorbs INSERT deltas
    * by contracting new edges onto stored labels, but deletions
    * break that composition (the removed node may BE a component's
    * label, or a cut edge whose loss SPLITS the component). The
    * refresh lives in [[graft.graph.IncrementalCC.withDeletions]]:
    * diff stored vs surviving edge sets, mark snapshot components
    * that lost an edge, re-run CC over ONLY those components'
    * surviving edges, keep every other stored label verbatim —
    * Θ(lost + touched components), never Θ(corpus). Takedown cohort:
    * doc_id % 13 == 4 (~7.7%). Output: q100-convention clusters over
    * the surviving corpus with `was_affected` marking relabelled
    * components — the refresh's cost attribution. Oracle: the FULL
    * recursive closure over the surviving edge set (the q262
    * invariant: incremental == full recompute, exactly), with the
    * affected flag recomputed from the snapshot closure + lost-edge
    * diff. GraphOps2Spec pins the two hazard shapes synthetically:
    * a label-carrier removal and a component split.
    */
  val q264 = Q(
    "q264_cc_delete_maintenance",
    (s, dir) => {
      val db = bandFrame(s, dir, "removed", pmod(col("doc_id"), lit(13)) === 4)
      // ONE aggregation derives the stored edge set AND its lost flag
      // (lost ⇔ every doc carrying the edge was removed) — the r13
      // shape paid two distincts + an exceptAll over the same rows
      // (guide §2.4; ~1 s of this query's 8.0 s at sf0.1)
      val flags = db
        .groupBy(least(col("b0"), col("b1")).as("a"),
          greatest(col("b0"), col("b1")).as("b"))
        .agg(bool_and(col("removed")).as("lost"))
      val lab = graft.graph.IncrementalCC.fromFlags(flags)
      db.filter(!col("removed"))
        .join(lab, db("b0") === lab("node"))
        .groupBy("component")
        .agg(min("doc_id").as("cluster"), count(lit(1)).as("n_docs"),
          bool_or(col("was_affected")).as("was_affected"))
        .select("cluster", "n_docs", "was_affected")
        .orderBy("cluster")
    },
    Some {
      s"""WITH RECURSIVE $bandCtesSql,
      |dbf AS (SELECT doc_id, b0, b1, doc_id % 13 = 4 AS removed FROM db),
      |sedge AS (SELECT DISTINCT least(b0, b1) AS a, greatest(b0, b1) AS b
      |          FROM dbf),
      |vedge AS (SELECT DISTINCT least(b0, b1) AS a, greatest(b0, b1) AS b
      |          FROM dbf WHERE NOT removed),
      |snodes AS (SELECT DISTINCT a AS node FROM sedge
      |           UNION SELECT DISTINCT b FROM sedge),
      |sed2 AS (SELECT a, b FROM sedge UNION SELECT b, a FROM sedge),
      |sreach AS (
      |  SELECT node, node AS lab FROM snodes
      |  UNION
      |  SELECT e.a AS node, r.lab FROM sed2 e JOIN sreach r ON r.node = e.b),
      |scomp AS (SELECT node, min(lab) AS cl FROM sreach GROUP BY node),
      |lost AS (SELECT a, b FROM sedge s WHERE NOT EXISTS (
      |          SELECT 1 FROM vedge v WHERE v.a = s.a AND v.b = s.b)),
      |aff AS (SELECT DISTINCT cl FROM scomp WHERE node IN
      |          (SELECT a FROM lost UNION SELECT b FROM lost)),
      |vnodes AS (SELECT DISTINCT a AS node FROM vedge
      |           UNION SELECT DISTINCT b FROM vedge),
      |ved2 AS (SELECT a, b FROM vedge UNION SELECT b, a FROM vedge),
      |vreach AS (
      |  SELECT node, node AS lab FROM vnodes
      |  UNION
      |  SELECT e.a AS node, r.lab FROM ved2 e JOIN vreach r ON r.node = e.b),
      |vcomp AS (SELECT node, min(lab) AS cl FROM vreach GROUP BY node)
      |SELECT min(doc_id) AS cluster, count(*) AS n_docs,
      |  bool_or(sc.cl IN (SELECT cl FROM aff)) AS was_affected
      |FROM dbf
      |  JOIN vcomp v ON dbf.b0 = v.node
      |  JOIN scomp sc ON dbf.b0 = sc.node
      |WHERE NOT removed
      |GROUP BY v.cl
      |ORDER BY cluster""".stripMargin
    })

  /** Frequent 3-itemsets with the Apriori prune: only items in ≥4
    * orders (L1) enter the basket-local triple enumeration, and
    * every candidate triple must have all three of its pairs in the
    * support-≥2 pair set (L2) before counting. The prune is the
    * scale lever: triple volume is Σ f(b)³ over baskets where f(b)
    * counts only FREQUENT items — on a real skewed catalog the L1
    * semi-join removes the long tail that dominates raw Σ b³. Output:
    * top-10 triples by support (id tiebreak).
    */
  val q231 = Q(
    "q231_apriori_triples",
    (s, dir) => {
      // pin the distinct items before deriving L1 and the frequent
      // subset from it (the fact-table distinct otherwise runs twice),
      // then release the pin once fi — the only frame scanned after
      // this point — has materialized (Rotate rule 1)
      // the items' o-partitioning serves the distinct, the pair
      // self-join AND the extend join in ONE exchange
      val items = Pins.pin(graft.graph.Baskets.items(s, dir))
      val l1 = items.groupBy("p").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 4).select("p")
      val fi = graft.graph.Rotate.supersede(
        items.join(l1, Seq("p"), "left_semi"), items) // scanned three times below
      val pairs = graft.graph.Baskets.pairs(fi)
        .select(col("a.o").as("o"), col("a.p").as("x"), col("b.p").as("y"))
      val l2 = Pins.pin(pairs.groupBy("x", "y").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select("x", "y")) // three semi-join probes below
      // the (x,y) L2 prune stays POST-extend with the other two: the
      // pair stream leaves its generation keyed by o, which is
      // exactly the extend join's key — pruning it first was measured
      // 2× SLOWER at sf10 (r10: the semi-join reroutes the largest
      // frame through an (x,y) shuffle and the extend join then
      // shuffles it straight back to o; l2 is Θ(frequent pairs), far
      // past broadcast size at scale, so no plan avoids that bounce)
      val triples = pairs.alias("ab")
        .join(fi.alias("c"),
          col("ab.o") === col("c.o") && col("ab.y") < col("c.p"))
        .select(col("ab.x").as("pa"), col("ab.y").as("pb"), col("c.p").as("pc"))
        .join(l2.select(col("x").as("pa"), col("y").as("pb")),
          Seq("pa", "pb"), "left_semi")
        .join(l2.select(col("x").as("pb"), col("y").as("pc")),
          Seq("pb", "pc"), "left_semi")
        .join(l2.select(col("x").as("pa"), col("y").as("pc")),
          Seq("pa", "pc"), "left_semi")
      triples.groupBy("pa", "pb", "pc").agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))
        .limit(10)
    },
    Some("""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |l1 AS (SELECT p FROM items GROUP BY p HAVING count(*) >= 4),
      |fi AS MATERIALIZED (
      |  SELECT o, p FROM items WHERE p IN (SELECT p FROM l1)),
      |pairs AS MATERIALIZED (
      |  SELECT a.o, a.p AS x, b.p AS y
      |  FROM fi a JOIN fi b ON a.o = b.o AND a.p < b.p),
      |l2 AS MATERIALIZED (
      |  SELECT x, y FROM pairs GROUP BY x, y HAVING count(*) >= 2),
      |triples AS (
      |  SELECT ab.x AS pa, ab.y AS pb, c.p AS pc
      |  FROM pairs ab JOIN fi c ON ab.o = c.o AND ab.y < c.p
      |  WHERE EXISTS (SELECT 1 FROM l2 WHERE l2.x = ab.x AND l2.y = ab.y)
      |    AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = ab.y AND l2.y = c.p)
      |    AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = ab.x AND l2.y = c.p))
      |SELECT pa, pb, pc, count(*) AS support
      |FROM triples GROUP BY 1, 2, 3
      |ORDER BY support DESC, pa, pb, pc LIMIT 10""".stripMargin))

  /* Partition-quality scoring
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
      // one exchange serves the distinct and the pair self-join
      val items = Pins.pin(Baskets.items(s, dir))
      val pairs = graft.graph.Rotate.supersede(
        Baskets.pairs(items)
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
      // self-join actually scans. The items' o-partitioning rides the
      // pin through the bsz groupBy, the items⋈bsz join AND the
      // weighted self-join — one exchange where the naive plan pays three
      val items = Pins.pin(Baskets.items(s, dir))
      val weighted = graft.graph.Rotate.supersede(
        items
          .join(items.groupBy("o").agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") >= 2), "o")
          .withColumn("ws",
            round(lit(1e12) / log(col("bsz")), 0).cast("decimal(38,0)")),
        items)
      Baskets.pairs(weighted)
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

  /* Personalized (seeded) PageRank — the graph
    * family's data-SELECTION read. Global PageRank (q142) ranks nodes
    * by overall centrality; PPR ranks them by proximity to a SEED SET,
    * the primitive behind "expand this curated seed corpus along the
    * interaction graph" (seeded relevance expansion, GraphSAGE-style
    * neighborhood sampling, spam-mass estimation). Reference scope:
    * the reference delegates graph analytics to HiveQL self-joins;
    * this is the same capability bar as q142/q220 (hive_manager.py
    * delegates SELECT surface, backend/hive_manager.py:24-29).
    */

  /** 3-round personalized PageRank over the bipartite customer↔part
    * purchase graph, seeded at one nation's customers; output is the
    * top-20 parts by seeded mass — "which parts does nation 7's
    * purchasing neighborhood concentrate on".
    *
    * INTEGER-EXACT recurrence (stronger determinism than q142's
    * round-6-doubles): total seed mass 10¹² is split evenly
    * (integer div) over the seeds, and each round computes
    *
    *   contrib(u)  = (pr(u)·85) div (100·deg(u))
    *   pr'(v)      = Σ_{u→v} contrib(u)  +  (mass(v)·15) div 100
    *
    * — all BIGINT, fold-order-free, so Spark and DuckDB agree
    * bit-for-bit with no rounding contract (the floor-div mass leak
    * is deliberate and identical in both engines). Overflow-safe:
    * pr ≤ 10¹², ×85 ≪ 2⁶³.
    *
    * Scale shape (q142/q221 discipline): the edge set is pinned ONCE
    * as packed longs ([[graft.graph.PackedEdge]] — guarded against
    * >2³² ids; node encoding customer 2k / part 2k+1 keeps one id
    * space), each round joins a NODE-sized contribution table into
    * the symmetric edge projection, and the seed frame (node-sized,
    * read every round for teleport) is pinned. Dangling seeds
    * (customers with no orders) keep their teleport mass and
    * contribute nothing — documented PPR-with-parking semantics,
    * identical in the oracle.
    */
  val q286 = Q(
    "q286_personalized_pagerank",
    (s, dir) => {
      // endpoint counts for the broadcast gate ride the pin action;
      // scanned 2× per round (contrib join sides)
      val (packed, nc, np) = graft.graph.Bcast.pinCounted(Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(PackedEdge.pack(
          col("o_custkey").cast("long") * 2,
          col("l_partkey").cast("long") * 2 + 1).as("e"))
        .distinct(), PackedEdge.x(col("e")), PackedEdge.y(col("e")))
      val small = nc + np <= graft.graph.Bcast.maxNodes
      def sym = packed
        .select(PackedEdge.x(col("e")).as("src"), PackedEdge.y(col("e")).as("dst"))
        .unionAll(packed
          .select(PackedEdge.y(col("e")).as("src"), PackedEdge.x(col("e")).as("dst")))
      // deg under its OWN key name (dnode): every round joins pr —
      // whose lineage already contains deg — back onto deg, so
      // output-name uniqueness is what keeps the self-join
      // unambiguous without dataset-qualified refs
      val deg = Pins.pin(sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("dnode"), col("deg"))) // node-sized, read every round
      val seeds = Tables.t(s, dir, "customer")
        .filter(col("c_nationkey") === 7)
        .select((col("c_custkey").cast("long") * 2).as("node"))
      // node-sized, read every round (teleport)
      val seedMass = Pins.pin(seeds
        .crossJoin(broadcast(seeds.agg(count(lit(1)).as("ns"))))
        .select(col("node"), expr("1000000000000L div ns").as("mass")))
      // teleport frame under its OWN column names: pr's lineage also
      // roots at seedMass, so a dataset-qualified seedMass("node") in
      // the per-round full outer would be an ambiguous self-join
      val tele = seedMass
        .select(col("node").as("tnode"), expr("(mass * 15L) div 100L").as("t"))
      var pr = seedMass.select(col("node"), col("mass").as("pr"))
      for (_ <- 1 to 3) {
        // below the [[graft.graph.Bcast]] node gate the node-sized
        // deg and contrib tables join via explicit broadcast hints
        // (plainInstance deg copies share ONE build across rounds),
        // so no round stages the edge side into a shuffle (r14; the
        // before-plan exchanged sym per round)
        val d = graft.graph.Bcast.hint(
          org.apache.spark.sql.GraftSqlBridge.plainInstance(deg), small)
        val contrib = pr.join(d, col("node") === col("dnode"))
          .select(col("dnode").as("cnode"),
            expr("(pr * 85L) div (100L * deg)").as("c"))
        val inflow = sym.join(graft.graph.Bcast.hint(contrib, small),
            col("src") === col("cnode"))
          .groupBy(col("dst").as("inode")).agg(sum("c").as("inflow"))
        pr = inflow
          .join(tele, col("inode") === col("tnode"), "full_outer")
          .select(
            coalesce(col("inode"), col("tnode")).as("node"),
            (coalesce(col("inflow"), lit(0L)) +
              coalesce(col("t"), lit(0L))).as("pr"))
      }
      pr.filter(col("node") % 2 === 1)
        .select(expr("(node - 1L) div 2L").as("part"), col("pr").as("ppr"))
        .orderBy(col("ppr").desc, col("part"))
        .limit(20)
    },
    Some {
      val rounds = (1 to 3).map { r =>
        s"""c$r AS (SELECT src AS cnode, CAST((pr * 85) // (100 * deg) AS BIGINT) AS c
           |        FROM pr${r - 1} JOIN deg ON node = src),
           |i$r AS (SELECT dst AS inode, CAST(sum(c) AS BIGINT) AS inflow
           |        FROM sym JOIN c$r ON sym.src = cnode GROUP BY 1),
           |pr$r AS MATERIALIZED (
           |  SELECT coalesce(inode, seeds.node) AS node,
           |    CAST(coalesce(inflow, 0)
           |      + coalesce((mass * 15) // 100, 0) AS BIGINT) AS pr
           |  FROM i$r FULL JOIN seeds ON inode = seeds.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
         |seeds AS MATERIALIZED (
         |  SELECT CAST(c_custkey * 2 AS BIGINT) AS node,
         |    CAST(1000000000000 // (SELECT count(*) FROM customer
         |                           WHERE c_nationkey = 7) AS BIGINT) AS mass
         |  FROM customer WHERE c_nationkey = 7),
         |pr0 AS (SELECT node, mass AS pr FROM seeds),
         |$rounds
         |SELECT CAST((node - 1) // 2 AS BIGINT) AS part, pr AS ppr
         |FROM pr3 WHERE node % 2 = 1
         |ORDER BY ppr DESC, part LIMIT 20""".stripMargin
    })

  val all: Vector[Q] =
    Vector(q142, q160, q162, q163, q164, q201, q215, q220, q221, q262, q264,
      q231, q271, q275, q286)
}
