package graft.queries

import graft.{Pins, Q, Tables}
import graft.graph.PackedEdge
import org.apache.spark.sql.functions._

/** Round-12 graph wave: personalized (seeded) PageRank — the graph
  * family's data-SELECTION read. Global PageRank (q142) ranks nodes
  * by overall centrality; PPR ranks them by proximity to a SEED SET,
  * the primitive behind "expand this curated seed corpus along the
  * interaction graph" (seeded relevance expansion, GraphSAGE-style
  * neighborhood sampling, spam-mass estimation). Reference scope:
  * the reference delegates graph analytics to HiveQL self-joins;
  * this is the same capability bar as q142/q220 (hive_manager.py
  * delegates SELECT surface, backend/hive_manager.py:24-29).
  */
object GraphOps4 {

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
      // endpoint counts for the broadcast gate ride the pin action
      val obs = org.apache.spark.sql.Observation()
      // scanned 2× per round (contrib join sides)
      val packed = Pins.pin(Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(PackedEdge.pack(
          col("o_custkey").cast("long") * 2,
          col("l_partkey").cast("long") * 2 + 1).as("e"))
        .distinct()
        .observe(obs,
          approx_count_distinct(PackedEdge.x(col("e"))).as("nc"),
          approx_count_distinct(PackedEdge.y(col("e"))).as("np")))
      val mGate = obs.getAsJava
      val small = mGate.get("nc").asInstanceOf[Long] +
        mGate.get("np").asInstanceOf[Long] <= graft.graph.Bcast.maxNodes
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

  val all: Vector[Q] = Vector(q286)
}
