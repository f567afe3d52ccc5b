package graft.queries

import graft.{Pins, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics, second batch: HITS hub/authority scoring on the
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
object GraphOps2 {

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

  val all: Vector[Q] = Vector(q220, q221, q262, q264)
}
