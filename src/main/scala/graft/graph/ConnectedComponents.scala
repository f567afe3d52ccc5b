package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pins

/** Distributed connected components by iterative min-label
  * propagation — the merge step every near-dup dedup pipeline needs
  * once candidate pairs exist (LSH buckets only assert "these two
  * MIGHT match"; turning pairwise matches into dedup groups is a
  * connected-components problem, cf. the reference's dedup intent at
  * backend/hive_manager.py:296's batch ingest which has no such
  * operator at all).
  *
  * Algorithm: every node starts labelled with itself; each round
  * re-labels a node with the minimum label among itself and its
  * neighbours (self-loops make the node's own label arrive through
  * the same join), then compresses pointers by following each label
  * to that label's own label — pointer halving, which keeps the round
  * count logarithmic in component diameter instead of linear (the
  * worst case for chained near-dups). Fixpoint = every node carries
  * the minimum node id of its component. Convergence is detected on
  * the PRE-halving label table: labels only ever decrease and (via
  * the self-loops) any halving progress feeds the next propagate, so
  * Σ lab is strictly decreasing until the fixpoint and an unchanged
  * sum IS convergence; at the fixpoint the propagate table is
  * constant-per-component at the component min, so it is the answer.
  *
  * Iteration discipline, rebuilt in r14 from ProfileJobs evidence
  * (guide §1.2 step 1 — the r13 shape spent q264's 8.0 s at sf0.1 in
  * ~240 scheduled micro-jobs, and its `persist()`-based rounds
  * silently recomputed whole lineages whenever the analyzer's
  * self-join dedup broke cache substitution):
  *
  *  - ONE pre-loop pass over the raw edge list builds the pinned
  *    symmetrised+self-looped edge table (`sym`), repartitioned on
  *    the join key BEFORE the distinct so the b-only partitioning
  *    serves both the dedup and every round's join (subset rule, the
  *    q221/q160 shape). The node set is the zero-shuffle
  *    `filter(a = b)` projection of the pinned blocks — no second
  *    edge pass, no separate nodes pin; node count and the round-0
  *    label sum ride one aggregate.
  *  - `sym` is pinned hash-partitioned AND sorted on the join key
  *    under AQE-off so the checkpoint's LogicalRDD preserves both
  *    (localCheckpoint captures outputPartitioning/outputOrdering):
  *    every round's propagate join neither exchanges nor sorts the
  *    edge side — at scale the edge table is the big side and this
  *    removes its per-round shuffle and sort entirely.
  *  - EVERY reference to a pinned frame goes through
  *    [[org.apache.spark.sql.GraftSqlBridge.freshInstance]] — a
  *    partitioning-preserving LogicalRDD leaf repeated in one plan
  *    trips DeduplicateRelations, whose re-instancing breaks
  *    `sameResult` for every enclosing subtree (measured: cache
  *    substitution and exchange reuse both dead, exponential
  *    481-task lineage replays). Distinct leaves per reference keep
  *    the analyzer out of the plan.
  *  - Each round materialises the propagate table with an eager
  *    localCheckpoint (superseding the previous round's pin — Rotate
  *    rule 1) and reads Σ lab off the pinned blocks; the halving
  *    self-join stays LAZY and fuses into the next round's propagate
  *    action. Plans are therefore O(1) deep every round with no
  *    reliance on cache-manager substitution at all: 2 small jobs
  *    per round instead of the r13 ~10 (AQE stage materializations +
  *    convergence aggregate over a re-analyzed lineage).
  *  - The loop runs on a CLONED session (same SparkContext, own
  *    conf): shuffle partitions sized to the GRAPH (~100k labels per
  *    partition, floored at 8, capped at the caller's setting so a
  *    10¹⁰-node graph still uses the cluster's full parallelism).
  *    AQE in the loop is SIZE-GATED on the node count (data-derived,
  *    not hardware-derived): below [[aqeMinNodes]] every exchange is
  *    single-digit partitions and AQE's per-stage scheduling is pure
  *    overhead; above it a round shuffles real bytes and wants
  *    runtime skew handling, so AQE stays on.
  *
  * A multi-hour production run would swap the per-round
  * localCheckpoint for reliable `checkpoint` against the cluster
  * store.
  */
object ConnectedComponents {

  /** Node count below which the loop session runs with AQE off: the
    * gate opens once the label table is ~5M rows (≥ ~50 shuffle
    * partitions at the 100k/partition sizing), i.e. exactly when
    * per-stage adaptivity starts having bytes to adapt.
    */
  private val aqeMinNodes = 5000000L

  /** @param edges undirected edge list with long columns `a`, `b`
    *              (self-loops and duplicates are tolerated)
    * @return one row per distinct node: (node, component) where
    *         component = min node id reachable from `node`
    */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    // ONE pass builds the loop's whole working set: symmetrised edges
    // plus (x, x) self-loops, deduped; repartition BEFORE distinct so
    // one exchange serves both (subset rule)
    val e = edges.select(col("a"), col("b"))
    val symCaller = Pins.pin(e
      .union(e.select(col("b").as("a"), col("a").as("b")))
      .union(e.select(col("a"), col("a").as("b")))
      .union(e.select(col("b").as("a"), col("b").as("b")))
      .repartition(col("b"))
      .distinct())
    // nodes ≡ self-loop rows of the pinned sym; count + round-0 label
    // sum (decimal: beats long overflow at 2^60-sized labels × 10⁹
    // nodes) ride one action over the pinned blocks
    val seed = symCaller.filter(col("a") === col("b"))
      .agg(count(lit(1)), sum(col("b").cast("decimal(38,0)"))).head
    val nodeCnt = seed.getLong(0)
    if (nodeCnt == 0L) {
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(symCaller)
      return symCaller.select(col("b").as("node"), col("b").as("component"))
    }
    val sum0 = seed.getDecimal(1)
    val sp0 = spark.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.min(sp0.toLong, math.max(8L, nodeCnt / 100000L + 1))
    val loopSession = spark.newSession()
    loopSession.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // pin sym under AQE-off so the checkpoint captures the exact
    // HashPartitioning(b, loopParts) + ordering the loop joins need
    loopSession.conf.set("spark.sql.adaptive.enabled", "false")
    val sym = Rotate.supersede(
      loopSession.createDataFrame(symCaller.rdd, symCaller.schema)
        .repartition(loopParts.toInt, col("b"))
        .sortWithinPartitions("b"),
      symCaller)
    loopSession.conf.set("spark.sql.adaptive.enabled",
      (nodeCnt >= aqeMinNodes).toString)
    // up to Bcast.maxNodes every propagate/halve join broadcasts the
    // label table (≤ nodeCnt rows of two longs): no exchange and no
    // sort on either side; above it the pinned-sym SMJ path applies
    val out = runLoop(sym, sum0, nodeCnt <= Bcast.maxNodes, maxIter)
    // hand the (pinned) result back on the caller's session so it
    // composes with the caller's own frames
    spark.createDataFrame(out.rdd, out.schema)
  }

  /** @param sym pinned symmetrised edge table WITH self-loops,
    *            hash-partitioned and sorted on `b`
    * @param sum0 Σ node over the node set (round-0 label sum)
    */
  private def runLoop(sym: DataFrame, sum0: java.math.BigDecimal,
      smallLabels: Boolean, maxIter: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{freshInstance, plainInstance}
    var propPin: DataFrame = null
    var prevSum = sum0
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // propagate: min label over neighbours (self-loop carries own).
      // Round 1 is join-FREE: initial labels are identities, so the
      // min neighbour label is simply min(b) per a over the pinned
      // edge table — one aggregation, no label frame at all (and
      // pointer compression through an identity table is the
      // identity, so it is skipped too).
      val s = freshInstance(sym)
      val prop =
        if (propPin == null)
          s.select(col("a").as("node"), col("b").as("lab"))
            .groupBy("node").agg(min("lab").as("lab"))
        else if (smallLabels) {
          // ONE broadcast of the previous round's label table serves
          // BOTH joins: the propagate keys it on `node`, and the
          // post-aggregate pointer compression (following the min
          // neighbour label through the PREVIOUS table — monotone to
          // the same fixpoint as compress-first) keys it on `node`
          // again, so the two BroadcastExchanges canonicalize equal
          // and ReuseExchange builds once. `plainInstance` (no
          // partitioning metadata in the leaf) is what keeps that
          // canonical equality through the analyzer's self-join
          // dedup. Net: one broadcast build + one main job per round.
          // two plainInstance copies share one RDD, so the two
          // BroadcastExchange subtrees canonicalize equal (one build,
          // reused) while keeping the self-join unambiguous
          val prev1 = broadcast(plainInstance(propPin))
          val prev2 = broadcast(plainInstance(propPin))
          val raw = s.join(prev1, s("b") === prev1("node"))
            .select(s("a").as("node"), prev1("lab"))
            .groupBy("node").agg(min("lab").as("lab0"))
          raw.join(prev2, raw("lab0") === prev2("node"))
            .select(raw("node"), prev2("lab").as("lab"))
        } else {
          // cluster-scale path: compress first over the pinned table
          // (fresh instance per reference; the node-side partitioning
          // is preserved so the halve's build side needs no exchange),
          // then propagate over the exchange-free pinned edge table
          val h = freshInstance(propPin)
            .select(col("node").as("n2"), col("lab").as("lab2"))
          val halved = propPin
            .join(h, col("lab") === col("n2"))
            .select(propPin("node"), col("lab2").as("lab"))
          s.join(halved, s("b") === halved("node"))
            .select(s("a").as("node"), col("lab"))
            .groupBy("node").agg(min("lab").as("lab"))
        }
      // materialise THIS round's labels, release the previous pin
      // (Rotate rule 1); the plan is O(1) deep: 2-3 pinned leaves.
      // The convergence sum rides the SAME job as an observed metric
      // (measured: Observation delivers through an eager
      // localCheckpoint), so a round is exactly ONE action.
      val obs = org.apache.spark.sql.Observation()
      propPin = Rotate.supersede(
        prop.observe(obs, sum(col("lab").cast("decimal(38,0)")).as("s")),
        propPin)
      val s2 = obs.getAsJava.get("s").asInstanceOf[java.math.BigDecimal]
      done = s2.compareTo(prevSum) == 0
      prevSum = s2
      iter += 1
    }
    val out = Pins.pin(propPin.select(col("node"), col("lab").as("component")))
    // the eager output supersedes the loop pins
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(propPin)
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(sym)
    out
  }
}
