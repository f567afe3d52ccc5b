package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable => P, VectorFunctions => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 fourth wave: ANN index CONSTRUCTION and compression —
  * NN-descent graph refinement (the distributed step that builds
  * HNSW-class graph indexes) and 1-bit sign quantization with
  * hamming pre-ranking (the cheapest vector compression that still
  * retrieves).
  *
  * Design note recorded for the registry: classic APSS prefix
  * filtering (Bayardo et al., WWW'07) was prototyped here and
  * REJECTED — on this corpus (and on real web crawls with recurring
  * boilerplate) per-document "rarest" shingles still have document
  * frequency that grows linearly with corpus size, so prefix-posting
  * pair volume measured quadratic (13 k → 1.4 M candidates at 10×
  * data, t = 0.8). The registry's near-dup slots stay with the
  * hash-family methods whose candidate volume is tunable (q41 LSH
  * bands, q42 SimHash, q234 df-capped anchors).
  */
object SearchOps3 {

  /** MaxSim token reshape (q263/q265): 64-dim embedding → 8 token
    * sub-vectors of 8 dims, with per-sub-vector norms.
    */
  private def maxsimToks(df: DataFrame, idc: String, tc: String,
      vc: String, nc: String): DataFrame =
    df.select(col("vec_id").as(idc),
        explode(sequence(lit(0), lit(7))).as(tc),
        col("embedding"))
      .withColumn(vc, expr(s"slice(embedding, $tc * 8 + 1, 8)"))
      .select(col(idc), col(tc), col(vc), V.norm(vc).as(nc))

  /** DuckDB twin of [[maxsimToks]]. */
  private def maxsimToksSql(src: String): String =
    s"""SELECT vec_id, t,
       |    embedding[CAST(t * 8 + 1 AS INTEGER):CAST(t * 8 + 8 AS INTEGER)] AS sv
       |  FROM ($src) CROSS JOIN (SELECT unnest(range(8)) AS t) ts"""
      .stripMargin

  /** Integer-exact MaxSim over (query token × doc token) rows: each
    * cosine is rounded to 6 dp then scaled to ×10⁶ BIGINT BEFORE
    * max/sum, so the per-doc score is exact in both engines (q263's
    * fold-order-proofing).
    */
  private def maxsimScore(pairToks: DataFrame): DataFrame =
    pairToks
      .withColumn("e6",
        round(round(V.dot("qsv", "dsv") / (col("qn") * col("dn")), 6)
          * 1000000).cast("long"))
      .groupBy("query_id", "doc_id", "qt")
      .agg(max(col("e6")).as("m6"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("m6")).as("maxsim_e6"))

  /** Token rows of the 8 probe vectors (vec_id < 8) of `vecs`. */
  private def maxsimProbeToks(vecs: DataFrame): DataFrame =
    maxsimToks(vecs.filter(col("vec_id") < 8), "query_id", "qt", "qsv", "qn")

  /** Exact MaxSim of every (probe, doc ≠ probe) pair: the probe tokens
    * broadcast against the corpus tokens.
    */
  private def maxsimExact(corpusToks: DataFrame, probeToks: DataFrame): DataFrame =
    maxsimScore(corpusToks.crossJoin(broadcast(probeToks))
      .filter(col("doc_id") =!= col("query_id")))

  /** Each probe's 5 best docs, `rank` 1..5 by maxsim desc then doc. */
  private def maxsimTop5(scored: DataFrame): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("maxsim_e6").desc, col("doc_id"))))
      .filter(col("rank") <= 5)

  /** DuckDB twins: CTEs `pt` (probe tokens) and `ct` (corpus tokens). */
  private def maxsimToksCtesSql: String =
    s"""pt AS (
       |  SELECT vec_id AS query_id, t AS qt, sv AS qsv,
       |    ${V.normSql("sv")} AS qn
       |  FROM (${maxsimToksSql("SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8")})),
       |ct AS (
       |  SELECT vec_id AS doc_id, t AS dt, sv AS dsv,
       |    ${V.normSql("sv")} AS dn
       |  FROM (${maxsimToksSql("SELECT vec_id, embedding FROM embeddings")}))""".stripMargin

  /** [[maxsimExact]] as CTE `name(query_id, doc_id, maxsim_e6)`. */
  private def maxsimExactSql(name: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT query_id, doc_id,
       |    CAST(sum(m6) AS BIGINT) AS maxsim_e6
       |  FROM (
       |    SELECT query_id, doc_id, qt,
       |      max(CAST(round(round(${V.dotSql("qsv", "dsv")} / (qn * dn), 6)
       |        * 1000000, 0) AS BIGINT)) AS m6
       |    FROM ct CROSS JOIN pt
       |    WHERE doc_id <> query_id
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2)""".stripMargin

  /** kNN-graph building blocks shared by q244 and q254, over the
    * pinned `vecs(vec_id, embedding, nrm)`.
    */
  private def knnScore(vecs: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("vec_id").as("node"), col("embedding").as("ea"),
        col("nrm").as("na")), "node")
      .join(vecs.select(col("vec_id").as("nbr"), col("embedding").as("eb"),
        col("nrm").as("nb")), "nbr")
      .withColumn("cos", round(V.dot("ea", "eb") / (col("na") * col("nb")), 6))
      .select("node", "nbr", "cos")

  /** Each node's best 5 (node, nbr, cos) rows, cos desc then nbr. */
  private def knnTop5(scored: DataFrame): DataFrame =
    scored.withColumn("r", row_number().over(
        Window.partitionBy("node").orderBy(col("cos").desc, col("nbr"))))
      .filter(col("r") <= 5).select("node", "nbr", "cos")

  /** Seed pairs (node < nbr) inside blocks of 64 nodes ranked by the
    * portable hash of "<salt>:<vec_id>".
    */
  private def knnBlockPairs(vecs: DataFrame, salt: String): DataFrame = {
    val b = Dist.globalRank(
        vecs.select(col("vec_id"),
          P.md5Long(concat(lit(salt + ":"), col("vec_id").cast("string")))
            .as("hk")),
        Seq(col("hk"), col("vec_id")), "rnk", 32)
      .select(col("vec_id"), expr("(rnk - 1) div 64").as("blk"))
    b.alias("a").join(b.alias("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("node"), col("b.vec_id").as("nbr"))
  }

  /** The seed graph: each node's top 5 over both directions of the
    * once-scored half pairs.
    */
  private def knnSeed(halfScored: DataFrame): DataFrame =
    knnTop5(halfScored.unionByName(
      halfScored.select(col("nbr").as("node"), col("node").as("nbr"),
        col("cos"))))

  /** NN-descent candidates: distinct 2-hop (node, nbr) of the
    * undirected graph, self-pairs dropped.
    */
  private def knnTwoHop(graph: DataFrame): DataFrame = {
    val undirected = graph.select("node", "nbr")
      .unionByName(graph.select(col("nbr").as("node"), col("node").as("nbr")))
      .distinct()
    undirected.alias("x").join(undirected.alias("y"),
        col("x.nbr") === col("y.node"))
      .select(col("x.node").as("node"), col("y.nbr").as("nbr"))
      .filter(col("node") =!= col("nbr"))
      .distinct()
  }

  /** The 40 fixed probe nodes `(node, ea, na)` and their brute-force
    * top-5 `(node, nbr)`.
    */
  private def knnProbes(vecs: DataFrame): (DataFrame, DataFrame) = {
    val probes = vecs.filter(col("vec_id") < 40)
      .select(col("vec_id").as("node"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val gt = knnTop5(probes.crossJoin(
        vecs.select(col("vec_id").as("nbr"), col("embedding").as("eb"),
          col("nrm").as("nb")))
      .filter(col("node") =!= col("nbr"))
      .withColumn("cos", round(V.dot("ea", "eb") / (col("na") * col("nb")), 6)))
      .select("node", "nbr")
    (probes, gt)
  }

  /** One row (h, np, n_edges): the graph's probe hits against `gt`,
    * the probe count and the graph's edge count.
    */
  private def knnProbeHits(graph: DataFrame, probes: DataFrame,
      gt: DataFrame): DataFrame = {
    val hits = graph.select("node", "nbr")
      .join(broadcast(probes.select("node")), Seq("node"), "left_semi")
      .join(gt, Seq("node", "nbr"), "left_semi")
      .groupBy("node").agg(count(lit(1)).as("hits"))
    probes.select("node").join(hits, Seq("node"), "left")
      .agg(sum(coalesce(col("hits"), lit(0L))).as("h"),
        count(lit(1)).as("np"))
      .crossJoin(graph.agg(count(lit(1)).as("n_edges")))
  }

  private val meanRecall5 =
    round(col("h").cast("double") / (lit(5) * col("np")), 4).as("mean_recall5")

  /** DuckDB twins of the kNN building blocks. CTE `vecs(vec_id,
    * embedding, nrm)`.
    */
  private def knnVecsSql: String =
    s"""vecs AS (
       |  SELECT vec_id, embedding, ${V.normSql("embedding")} AS nrm
       |  FROM embeddings)""".stripMargin

  /** [[knnBlockPairs]]: CTEs `blocks_<salt>` and `half_<salt>(node, nbr)`. */
  private def knnBlockPairsSql(salt: String): String =
    s"""blocks_$salt AS (
       |  SELECT vec_id, (row_number() OVER (ORDER BY
       |      ${P.md5LongSql(s"concat('$salt:', vec_id)")}, vec_id) - 1) // 64
       |    AS blk
       |  FROM vecs),
       |half_$salt AS (
       |  SELECT a.vec_id AS node, b.vec_id AS nbr
       |  FROM blocks_$salt a JOIN blocks_$salt b
       |    ON a.blk = b.blk AND a.vec_id < b.vec_id)""".stripMargin

  /** [[knnSeed]] over `half(node, nbr)`: CTEs `halfscored` and `seed`. */
  private def knnSeedSql(half: String, seed: String): String =
    s"""halfscored AS MATERIALIZED (
       |  SELECT node, nbr,
       |    round(${V.dotSql("va.embedding", "vb.embedding")} /
       |      (va.nrm * vb.nrm), 6) AS cos
       |  FROM $half JOIN vecs va ON va.vec_id = node
       |  JOIN vecs vb ON vb.vec_id = nbr),
       |$seed AS MATERIALIZED (
       |  SELECT node, nbr, cos FROM (
       |    SELECT node, nbr, cos, row_number() OVER (
       |      PARTITION BY node ORDER BY cos DESC, nbr) AS r
       |    FROM (SELECT node, nbr, cos FROM halfscored
       |          UNION ALL
       |          SELECT nbr, node, cos FROM halfscored))
       |  WHERE r <= 5)""".stripMargin

  /** [[knnProbes]]: CTEs `probes(node)` and `gt(node, nbr)`. */
  private def knnProbesSql: String =
    s"""probes AS (SELECT vec_id AS node FROM vecs WHERE vec_id < 40),
       |gt AS MATERIALIZED (
       |  SELECT node, nbr FROM (
       |    SELECT p.node, v.vec_id AS nbr, row_number() OVER (
       |      PARTITION BY p.node ORDER BY
       |        round(${V.dotSql("pv.embedding", "v.embedding")} /
       |          (pv.nrm * v.nrm), 6) DESC, v.vec_id) AS r
       |    FROM probes p JOIN vecs pv ON pv.vec_id = p.node
       |    CROSS JOIN vecs v WHERE v.vec_id <> p.node)
       |  WHERE r <= 5)""".stripMargin

  /** One NN-descent refinement round over a random-block kNN seed
    * graph (Dong et al., WWW'11 — the construction step behind
    * graph ANN indexes like HNSW/NSG, here in its
    * shuffle-friendly form). Seed: nodes are ranked by portable
    * hash ([[Dist.globalRank]] — range-bucketed, never a
    * partition-less window) and chopped into blocks of 64; each
    * block computes its all-pairs cosines (64² per block — LINEAR
    * total, the block count grows with the data) and every node
    * keeps its 5 best. Refine: NN-descent's one idea — your
    * neighbour's neighbours are likely your neighbours — so the
    * candidate set is the 2-hop neighbourhood of the undirected
    * seed graph (≤ (2k)² per node, linear), scored exactly, and
    * each node keeps the best 5 of old ∪ new. The audit follows
    * q146/q235: 40 fixed probe nodes get brute-force ground truth
    * (probe × corpus — linear) and the output is per-phase mean
    * recall@5, so the round's recall GAIN is in the result. At
    * 100 TB this is the per-round job of an iterative index build;
    * rounds repeat until recall plateaus.
    */
  val q244 = Q(
    "q244_nn_descent_round",
    (s, dir) => {
      // seeds blocks, scoring, and ground truth
      val vecs = Pins.pin(Tables.emb(s, dir)
        .select(col("vec_id"), col("embedding"), V.norm("embedding").as("nrm")))
      // score each a<b pair once, then mirror — never score twice
      val halfScored = Pins.pin(knnScore(vecs, knnBlockPairs(vecs, "nnd")))
      val init = Pins.pin(knnSeed(halfScored))
      val refined = knnTop5(knnScore(vecs, knnTwoHop(init))
        .unionByName(init.select("node", "nbr", "cos")).distinct())
      val (probes, gt) = knnProbes(vecs)
      def recall(graph: DataFrame, phase: String): DataFrame =
        knnProbeHits(graph, probes, gt)
          .select(lit(phase).as("phase"), col("n_edges"), meanRecall5)
      recall(init, "a_seed").unionByName(recall(refined, "b_refined"))
        .orderBy("phase")
    },
    Some(s"""WITH $knnVecsSql,
      |${knnBlockPairsSql("nnd")},
      |${knnSeedSql("half_nnd", "init")},
      |undirected AS (
      |  SELECT DISTINCT node, nbr FROM (
      |    SELECT node, nbr FROM init UNION ALL SELECT nbr, node FROM init)),
      |twohop AS (
      |  SELECT DISTINCT x.node, y.nbr
      |  FROM undirected x JOIN undirected y ON x.nbr = y.node
      |  WHERE x.node <> y.nbr),
      |refined AS MATERIALIZED (
      |  SELECT node, nbr, cos FROM (
      |    SELECT node, nbr, cos, row_number() OVER (
      |      PARTITION BY node ORDER BY cos DESC, nbr) AS r
      |    FROM (
      |      SELECT DISTINCT node, nbr, cos FROM (
      |        SELECT t.node, t.nbr,
      |          round(${V.dotSql("va.embedding", "vb.embedding")} /
      |            (va.nrm * vb.nrm), 6) AS cos
      |        FROM twohop t JOIN vecs va ON va.vec_id = t.node
      |        JOIN vecs vb ON vb.vec_id = t.nbr
      |        UNION ALL
      |        SELECT node, nbr, cos FROM init)))
      |  WHERE r <= 5),
      |$knnProbesSql,
      |phases AS (
      |  SELECT 'a_seed' AS phase, (SELECT count(*) FROM init) AS n_edges,
      |    (SELECT count(*) FROM init g JOIN gt USING (node, nbr)) AS h
      |  UNION ALL
      |  SELECT 'b_refined', (SELECT count(*) FROM refined),
      |    (SELECT count(*) FROM refined g JOIN gt USING (node, nbr)))
      |SELECT phase, n_edges,
      |  round(CAST(h AS DOUBLE) /
      |    (5 * (SELECT count(*) FROM probes)), 4) AS mean_recall5
      |FROM phases ORDER BY phase""".stripMargin))

  /** 1-bit sign quantization + hamming pre-ranking. The cheapest
    * vector compression that still retrieves: keep only the SIGN of
    * each dimension (64 dims → two 32-bit words, 256× smaller than
    * float32), pre-rank by hamming distance (xor + popcount — no
    * floating point touches the corpus scan), then exactly re-rank
    * ONLY the top-32 hamming candidates with true cosine. The audit
    * is in-result per the no-silent-caps rule: each query row
    * carries recall@5 of the re-ranked list against the brute-force
    * float cosine top-5. Scale shape: the hamming scan reads 8
    * bytes/vector instead of 256 and is all integer ALU; exact
    * cosines touch 32 rows per query; ground truth is the linear
    * probe × corpus audit side. Word packing is pure integer
    * (two 32-bit words — no 2^63 overflow hazard in either engine).
    */
  val q247 = Q(
    "q247_binary_sign_retrieval",
    (s, dir) => {
      def word(c: org.apache.spark.sql.Column, off: Int) =
        (0 to 31).map(b =>
          when(element_at(c, b + off + 1) >= 0f, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
      val vecs = Pins.pin(Tables.emb(s, dir)
        .select(col("vec_id"), col("embedding"), V.norm("embedding").as("nrm"),
          word(col("embedding"), 0).as("w0"),
          word(col("embedding"), 32).as("w1")))
      val qs = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("w0").as("q0"), col("w1").as("q1"))
      val corpus = vecs.filter(col("vec_id") >= 10)
      val w = Window.partitionBy("query_id")
      val cand = corpus.crossJoin(broadcast(qs))
        .withColumn("hamming",
          expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)"))
        .withColumn("hr", row_number().over(
          w.orderBy(col("hamming"), col("vec_id"))))
        .filter(col("hr") <= 32)
      val reranked = cand
        .withColumn("cos", round(V.dot("embedding", "qe") /
          (col("nrm") * col("qn")), 6))
        .withColumn("rank", row_number().over(
          w.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
      val gt = corpus.crossJoin(broadcast(qs))
        .withColumn("cos", round(V.dot("embedding", "qe") /
          (col("nrm") * col("qn")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("r") <= 5).select("query_id", "vec_id")
      val recall = reranked.select("query_id", "vec_id")
        .join(gt, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id")
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
      reranked
        .join(recall, Seq("query_id"), "left")
        .select(col("query_id"), col("rank"), col("vec_id"),
          col("hamming"), col("cos"),
          coalesce(col("recall5"), lit(0.0)).as("recall5"))
        .orderBy("query_id", "rank")
    },
    Some {
      def wordSql(c: String, off: Int): String =
        s"""CAST(list_sum(list_transform(range(0, 32), b ->
           |  CASE WHEN $c[b + $off + 1] >= 0
           |       THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT)"""
          .stripMargin
      s"""WITH vecs AS (
      |  SELECT vec_id, embedding, ${V.normSql("embedding")} AS nrm,
      |    ${wordSql("embedding", 0)} AS w0,
      |    ${wordSql("embedding", 32)} AS w1
      |  FROM embeddings),
      |qs AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
      |       w0 AS q0, w1 AS q1 FROM vecs WHERE vec_id < 10),
      |corpus AS MATERIALIZED (SELECT * FROM vecs WHERE vec_id >= 10),
      |cand AS (
      |  SELECT query_id, vec_id, hamming, embedding, nrm, qe, qn FROM (
      |    SELECT q.query_id, c.vec_id,
      |      CAST(bit_count(xor(c.w0, q.q0)) +
      |           bit_count(xor(c.w1, q.q1)) AS INTEGER) AS hamming,
      |      c.embedding, c.nrm, q.qe, q.qn,
      |      row_number() OVER (PARTITION BY q.query_id ORDER BY
      |        bit_count(xor(c.w0, q.q0)) + bit_count(xor(c.w1, q.q1)),
      |        c.vec_id) AS hr
      |    FROM corpus c CROSS JOIN qs q)
      |  WHERE hr <= 32),
      |reranked AS (
      |  SELECT query_id, vec_id, hamming, cos,
      |    CAST(rank AS INTEGER) AS rank FROM (
      |    SELECT query_id, vec_id, hamming,
      |      round(${V.dotSql("embedding", "qe")} / (nrm * qn), 6) AS cos,
      |      row_number() OVER (PARTITION BY query_id ORDER BY
      |        round(${V.dotSql("embedding", "qe")} / (nrm * qn), 6) DESC,
      |        vec_id) AS rank
      |    FROM cand)
      |  WHERE rank <= 5),
      |gt AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q.query_id, c.vec_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |        round(${V.dotSql("c.embedding", "q.qe")} / (c.nrm * q.qn), 6) DESC,
      |        c.vec_id) AS r
      |    FROM corpus c CROSS JOIN qs q)
      |  WHERE r <= 5),
      |rec AS (
      |  SELECT r.query_id, CAST(count(g.vec_id) AS DOUBLE) / 5.0 AS recall5
      |  FROM reranked r LEFT JOIN gt g
      |    ON r.query_id = g.query_id AND r.vec_id = g.vec_id
      |  GROUP BY 1)
      |SELECT r.query_id, r.rank, r.vec_id, r.hamming, r.cos, rec.recall5
      |FROM reranked r JOIN rec ON r.query_id = rec.query_id
      |ORDER BY r.query_id, r.rank""".stripMargin
    })

  /** NN-descent run to (bounded) convergence — q244's single
    * refinement round extended to the full index-build trajectory
    * (VERDICT r7 #5): K = 2 unrolled descent rounds over a TWO-SALT
    * block seed, each round emitting one audited row with the phase's
    * edge count, the number of edges that CHANGED versus the previous
    * phase (the convergence signal an index build actually watches —
    * it shrinks toward 0 as the graph settles), and mean recall@5
    * over the 40 fixed probes against brute-force ground truth.
    *
    * Why two salts: q244's single block partition is all-pairs-scored
    * WITHIN each block, so its edge set is closed under 2-hop — one
    * descent round can only re-rank pairs the seed already scored
    * (correct, but no new information; this is visible in q244's flat
    * seed→refined recall on the fixtures). Real NN-descent seeds with
    * randomness so that "my neighbour's neighbour" crosses the seed
    * structure; here the seed is the top-5 of the UNION of two
    * independently-salted block partitions, and 2-hop paths that
    * enter through salt-1 edges and leave through salt-2 edges reach
    * genuinely unscored candidates — recall climbs and n_new decays
    * across rounds, the NN-descent signature.
    *
    * Each round scores ONLY candidates not already in the graph
    * (2-hop anti-join the current edge set) and keeps the best 5 of
    * old ∪ new per node, so recall is monotone by construction and
    * per-round work SHRINKS as the graph converges — the q221
    * shrinking-frontier discipline applied to index construction.
    * Scale shape per round: the 2-hop candidate set is ≤ (2k)² per
    * node (linear in corpus), the current graph is localCheckpointed
    * and rotated (bounded lineage), and the probe audit stays
    * probe × corpus.
    */
  val q254 = Q(
    "q254_nn_descent_converged",
    (s, dir) => {
      // seeds blocks, scoring, and ground truth
      val vecs = Pins.pin(Tables.emb(s, dir)
        .select(col("vec_id"), col("embedding"), V.norm("embedding").as("nrm")))
      // a pair inside the same block under BOTH salts would enter the
      // union twice with an identical cos — distinct before scoring
      val halfScored = Pins.pin(knnScore(vecs,
        knnBlockPairs(vecs, "nnd1").unionByName(knnBlockPairs(vecs, "nnd2")).distinct()))
      val (probes, gt0) = knnProbes(vecs)
      val gt = Pins.pin(gt0)
      def phaseRow(graph: DataFrame, prev: Option[DataFrame],
          phase: String): DataFrame = {
        val nNew = prev match {
          case Some(p) => graph.select("node", "nbr")
            .join(p.select("node", "nbr"), Seq("node", "nbr"), "left_anti")
            .agg(count(lit(1)).as("n_new"))
          case None => graph.agg(count(lit(1)).as("n_new"))
        }
        knnProbeHits(graph, probes, gt).crossJoin(nNew)
          .select(lit(phase).as("phase"), col("n_edges"), col("n_new"), meanRecall5)
      }
      var cur = Pins.pin(knnSeed(halfScored))
      var out = phaseRow(cur, None, "r0_seed")
      for (r <- 1 to 2) {
        val fresh = knnTwoHop(cur)
          .join(cur.select("node", "nbr"), Seq("node", "nbr"), "left_anti")
        val next = Pins.pin(knnTop5(knnScore(vecs, fresh).unionByName(cur)))
        out = out.unionByName(phaseRow(next, Some(cur), s"r${r}_descent"))
        cur = next
      }
      out.orderBy("phase")
    },
    Some {
      def roundCtes(r: Int): String = s"""
        |und_$r AS (
        |  SELECT DISTINCT node, nbr FROM (
        |    SELECT node, nbr FROM g${r - 1}
        |    UNION ALL SELECT nbr, node FROM g${r - 1})),
        |fresh_$r AS (
        |  SELECT node, nbr FROM (
        |    SELECT DISTINCT x.node, y.nbr
        |    FROM und_$r x JOIN und_$r y ON x.nbr = y.node
        |    WHERE x.node <> y.nbr) f
        |  WHERE NOT EXISTS (SELECT 1 FROM g${r - 1} p
        |                    WHERE p.node = f.node AND p.nbr = f.nbr)),
        |g$r AS MATERIALIZED (
        |  SELECT node, nbr, cos FROM (
        |    SELECT node, nbr, cos, row_number() OVER (
        |      PARTITION BY node ORDER BY cos DESC, nbr) AS rr
        |    FROM (
        |      SELECT t.node, t.nbr,
        |        round(${V.dotSql("va.embedding", "vb.embedding")} /
        |          (va.nrm * vb.nrm), 6) AS cos
        |      FROM fresh_$r t JOIN vecs va ON va.vec_id = t.node
        |      JOIN vecs vb ON vb.vec_id = t.nbr
        |      UNION ALL
        |      SELECT node, nbr, cos FROM g${r - 1}))
        |  WHERE rr <= 5),""".stripMargin
      def phaseSql(r: Int, label: String): String = {
        val nNew = if (r == 0) s"(SELECT count(*) FROM g0)"
        else s"""(SELECT count(*) FROM g$r n WHERE NOT EXISTS (
             |    SELECT 1 FROM g${r - 1} p
             |    WHERE p.node = n.node AND p.nbr = n.nbr))""".stripMargin
        s"""SELECT '$label' AS phase,
           |    (SELECT count(*) FROM g$r) AS n_edges,
           |    $nNew AS n_new,
           |    (SELECT count(*) FROM g$r g JOIN gt USING (node, nbr)) AS h""".stripMargin
      }
      s"""WITH $knnVecsSql,
      |${knnBlockPairsSql("nnd1")},
      |${knnBlockPairsSql("nnd2")},
      |half AS (
      |  SELECT DISTINCT node, nbr FROM (
      |    SELECT node, nbr FROM half_nnd1
      |    UNION ALL SELECT node, nbr FROM half_nnd2)),
      |${knnSeedSql("half", "g0")},${roundCtes(1)}${roundCtes(2)}
      |$knnProbesSql,
      |phases AS (
      |  ${phaseSql(0, "r0_seed")}
      |  UNION ALL
      |  ${phaseSql(1, "r1_descent")}
      |  UNION ALL
      |  ${phaseSql(2, "r2_descent")})
      |SELECT phase, n_edges, n_new,
      |  round(CAST(h AS DOUBLE) /
      |    (5 * (SELECT count(*) FROM probes)), 4) AS mean_recall5
      |FROM phases ORDER BY phase""".stripMargin
    })

  /** Matryoshka (prefix-dimension) retrieval audit — the embedding
    * compression that needs NO new index structure: MRL-style models
    * front-load information so the FIRST d dimensions of a vector
    * are themselves a usable embedding, and a deployment picks the
    * shortest prefix whose retrieval quality survives. This operator
    * produces that decision table: for each prefix length d ∈ {8, 16,
    * 32, 64}, the mean recall@5 of prefix-cosine retrieval over the
    * 40 fixed probes against the full-dimension ground truth (d = 64
    * is the identity row — recall 1.0 — pinning the audit's own
    * correctness in the result). One probe × corpus scoring pass
    * computes all four cosines per pair (prefix dots share the scan;
    * the 8-dim audit is not 8× cheaper to MEASURE, only to SERVE), so
    * the whole audit is linear in the corpus. The fixtures' vectors
    * are not MRL-trained, so recall climbing steeply with d is the
    * expected shape — the operator's value is producing the curve,
    * not flattering it. Scale path: the chosen prefix feeds the
    * existing ANN entries (q51 LSH / q66 IVF) at 64/d the density
    * per byte.
    */
  val q258 = Q(
    "q258_matryoshka_prefix_recall",
    (s, dir) => {
      val dims = Seq(8, 16, 32, 64)
      def norms(pfx: String, c: String) = dims.map(d =>
        V.norm(s"slice($c, 1, $d)").as(s"${pfx}n$d"))
      val vecs = Pins.pin(Tables.emb(s, dir)
        .select(col("vec_id") +: col("embedding") +: norms("", "embedding"): _*))
      val probes = vecs.filter(col("vec_id") < 40)
        .select(col("vec_id").as("node") +: col("embedding").as("pe") +:
          dims.map(d => col(s"n$d").as(s"pn$d")): _*)
      val corpus = vecs
        .select(col("vec_id").as("nbr") +: col("embedding").as("ce") +:
          dims.map(d => col(s"n$d").as(s"cn$d")): _*)
      // one scoring pass feeds all 4 audits
      val scored = Pins.pin(probes.crossJoin(corpus)
        .filter(col("node") =!= col("nbr"))
        .select(col("node") +: col("nbr") +: dims.map(d =>
          round(V.dot(s"slice(pe, 1, $d)", s"slice(ce, 1, $d)") /
            (col(s"pn$d") * col(s"cn$d")), 6).as(s"cos$d")): _*))
      def top5(d: Int): DataFrame =
        scored.withColumn("rr", row_number().over(
            Window.partitionBy("node").orderBy(col(s"cos$d").desc, col("nbr"))))
          .filter(col("rr") <= 5).select("node", "nbr")
      val gt = Pins.pin(top5(64))
      dims.map { d =>
        val hits = top5(d).join(gt, Seq("node", "nbr"), "left_semi")
          .groupBy("node").agg(count(lit(1)).as("hits"))
        probes.select("node").join(hits, Seq("node"), "left")
          .agg(sum(coalesce(col("hits"), lit(0L))).as("h"),
            count(lit(1)).as("np"))
          .select(lit(d).as("prefix_dims"),
            round(col("h").cast("double") / (lit(5) * col("np")), 4)
              .as("mean_recall5"))
      }.reduce(_ unionByName _).orderBy("prefix_dims")
    },
    Some {
      val dims = Seq(8, 16, 32, 64)
      val cosCols = dims.map(d =>
        s"""round(${V.dotSql("p.embedding[1:" + d + "]", "c.embedding[1:" + d + "]")} /
           |      (${V.normSql("p.embedding[1:" + d + "]")} *
           |       ${V.normSql("c.embedding[1:" + d + "]")}), 6) AS cos$d"""
          .stripMargin).mkString(",\n      |    ")
      def top5Sql(d: Int): String =
        s"""top$d AS (
           |  SELECT node, nbr FROM (
           |    SELECT node, nbr, row_number() OVER (
           |      PARTITION BY node ORDER BY cos$d DESC, nbr) AS rr
           |    FROM scored)
           |  WHERE rr <= 5)""".stripMargin
      val recallRows = dims.map(d =>
        s"""SELECT CAST($d AS INTEGER) AS prefix_dims,
           |    round(CAST((SELECT count(*) FROM top$d t
           |                JOIN top64 g USING (node, nbr)) AS DOUBLE) /
           |      (5 * (SELECT count(*) FROM probes)), 4) AS mean_recall5"""
          .stripMargin).mkString("\n      |  UNION ALL\n      |  ")
      s"""WITH probes AS (
      |  SELECT vec_id AS node, embedding FROM embeddings WHERE vec_id < 40),
      |scored AS MATERIALIZED (
      |  SELECT p.node, c.vec_id AS nbr,
      |    $cosCols
      |  FROM probes p CROSS JOIN embeddings c
      |  WHERE c.vec_id <> p.node),
      |${dims.map(top5Sql).mkString(",\n      |")},
      |rows AS (
      |  $recallRows)
      |SELECT prefix_dims, mean_recall5 FROM rows
      |ORDER BY prefix_dims""".stripMargin
    })

  /** Late-interaction (MaxSim) retrieval — the ColBERT scoring shape:
    * instead of ONE pooled vector per document, each side keeps a
    * small set of token sub-vectors and
    * score(q, d) = Σ_{i ∈ q} max_{j ∈ d} cos(qᵢ, dⱼ) — a query token
    * matches its best counterpart anywhere in the doc, which pooled
    * cosine (q48) structurally cannot express. Here the 64-dim
    * embedding is reshaped into 8 token sub-vectors of 8 dims (the
    * fixtures carry no real token embeddings; the reshape exercises
    * the exact operator shape: explode → per-pair cosine → per-token
    * max → per-doc sum → top-k). Every per-token cosine is rounded
    * to 6 dp then SCALED TO INTEGER (×10⁶) before max/sum, so the
    * per-doc score is an exact BIGINT in both engines — a float sum
    * of 8 rounded maxes is fold-order-dependent and would hash-flake
    * (the q261 lesson applied preemptively). Output: top-5 per probe
    * with `in_pooled_top5` marking agreement with plain 64-dim
    * cosine ranking — the rank disagreement IS the information this
    * scoring adds. Scale shape: probes broadcast (8 × 8 token rows),
    * the corpus token explode is a constant ×8, and the scan is one
    * linear pass; a production deployment fronts it with the q51/q66
    * candidate generators and MaxSim re-ranks candidates only.
    */
  val q263 = Q(
    "q263_late_interaction_maxsim",
    (s, dir) => {
      // feeds tokens + the pooled audit
      val vecs = Pins.pin(Tables.emb(s, dir).select("vec_id", "embedding"))
      val top = maxsimTop5(maxsimExact(
        maxsimToks(vecs, "doc_id", "dt", "dsv", "dn"), maxsimProbeToks(vecs)))
      val pooled = vecs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          V.norm("qe").as("pqn"))
        .crossJoin(vecs.select(col("vec_id").as("doc_id"),
          col("embedding").as("de"), V.norm("de").as("pdn")))
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("rr", row_number().over(
          Window.partitionBy("query_id").orderBy(
            round(V.dot("qe", "de") / (col("pqn") * col("pdn")), 6).desc,
            col("doc_id"))))
        .filter(col("rr") <= 5).select("query_id", "doc_id")
      top.join(pooled.withColumn("inp", lit(1)),
          Seq("query_id", "doc_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("maxsim_e6"),
          coalesce(col("inp"), lit(0)).as("in_pooled_top5"))
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $maxsimToksCtesSql,
      |${maxsimExactSql("scored")},
      |top AS (
      |  SELECT query_id, doc_id, maxsim_e6,
      |    CAST(rnk AS INTEGER) AS rank FROM (
      |    SELECT query_id, doc_id, maxsim_e6, row_number() OVER (
      |      PARTITION BY query_id ORDER BY maxsim_e6 DESC, doc_id) AS rnk
      |    FROM scored)
      |  WHERE rnk <= 5),
      |pooled AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT q.vec_id AS query_id, d.vec_id AS doc_id, row_number() OVER (
      |      PARTITION BY q.vec_id ORDER BY
      |        round(${V.dotSql("q.embedding", "d.embedding")} /
      |          (${V.normSql("q.embedding")} * ${V.normSql("d.embedding")}), 6)
      |          DESC, d.vec_id) AS rr
      |    FROM embeddings q CROSS JOIN embeddings d
      |    WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id)
      |  WHERE rr <= 5)
      |SELECT t.query_id, t.rank, t.doc_id, t.maxsim_e6,
      |  CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_pooled_top5
      |FROM top t LEFT JOIN pooled p
      |  ON p.query_id = t.query_id AND p.doc_id = t.doc_id
      |ORDER BY t.query_id, t.rank""".stripMargin
    })

  /** Per-token-sub-vector LSH bucket (8 md5-derived hyperplanes over
    * the 8 sub-vector dims, seed family "tp:" so the planes are
    * independent of q51's pooled "hp:" family) — the ColBERT index
    * unit: late-interaction retrieval must index TOKENS, not pooled
    * vectors, because MaxSim's top-k provably disagrees with pooled
    * cosine (q263's `in_pooled_top5` measured 7.5% overlap — a
    * pooled candidate stage would front MaxSim with ~0 recall).
    */
  private def tokBucket(svCol: String): org.apache.spark.sql.Column = {
    val planes: Seq[Array[Double]] = (0 to 7).map { p =>
      (1 to 8).map { d =>
        (graft.functions.Md5Long60.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"tp:$p:$d"))
          % 2001 - 1000) / 1000.0
      }.toArray
    }
    planes.zipWithIndex.map { case (w, p) =>
      when(graft.functions.VecMath.dotCol(col(svCol), lit(w)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[tokBucket]] (same planes, same fold). */
  private def tokBucketSql(svCol: String): String =
    s"""CAST(list_sum(list_transform(range(0, 8), p ->
       |      CASE WHEN list_sum(list_transform(
       |        list_zip($svCol,
       |          list_transform(range(1, 9), d ->
       |            (${P.md5LongSql("concat('tp:', p, ':', d)")}
       |              % 2001 - 1000) / 1000.0)),
       |        x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0
       |      THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** END-TO-END retrieval cascade (VERDICT r8 #5): ANN candidate
    * generation → late-interaction MaxSim re-rank — the production
    * deployment q263's own scaladoc promises. Stage 1 indexes at the
    * TOKEN level ([[tokBucket]]): every doc token sub-vector gets an
    * 8-bit hyperplane bucket, every query token probes its own
    * bucket, and a doc becomes a candidate when ANY of its tokens
    * shares a bucket with ANY query token — the ColBERT index shape,
    * required because MaxSim's ranking provably disagrees with
    * pooled cosine (q263 measured 7.5% top-5 overlap; a pooled-LSH
    * candidate stage measured recall ≈ 0 here before this was
    * rebuilt token-level). Candidate volume per query is the probed
    * buckets' occupancy (≤ 8 tokens × bucket size ≈ 8n/256 doc
    * tokens) — bucket-bounded, never a per-query corpus scan. Stage
    * 2 re-scores ONLY those candidates with the exact integer-scaled
    * MaxSim (shared [[maxsimScore]] kernel) and keeps the top-5. The
    * audit rides in the output (q146/q235 discipline): `recall5`
    * compares against the EXACT full-corpus MaxSim top-5 (the
    * ground-truth pass — bounded: 8 probes × corpus — is audit
    * cost, not cascade cost) and `n_cand` exposes each query's
    * candidate volume, so the index's quality/cost tradeoff is IN
    * the result. At 100 TB the cascade is one bucket-equality join +
    * Θ(candidates) token scoring per query batch; q263's brute-force
    * stage is gone.
    */
  val q265 = Q(
    "q265_cascade_ann_maxsim",
    (s, dir) => {
      // feeds token explode + audit
      val vecs = Pins.pin(Tables.emb(s, dir).select(col("vec_id"), col("embedding")))
      val probeToks = maxsimProbeToks(vecs)
      // feeds buckets, candidate scoring, audit
      val corpusToks = Pins.pin(maxsimToks(vecs, "doc_id", "dt", "dsv", "dn"))
      // token-level index: distinct (doc, bucket) posting pairs join
      // distinct (query, bucket) probes on bucket EQUALITY
      val postings = corpusToks
        .select(col("doc_id"), tokBucket("dsv").as("bk")).distinct()
      val qprobes = probeToks
        .select(col("query_id"), tokBucket("qsv").as("bk")).distinct()
      val cand = postings.join(broadcast(qprobes), "bk")
        .filter(col("doc_id") =!= col("query_id"))
        .select("query_id", "doc_id").distinct()
      val nCand = cand.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      val approxTop = maxsimTop5(maxsimScore(
          cand.join(corpusToks, "doc_id").join(broadcast(probeToks), "query_id")))
      val exactTop = maxsimTop5(maxsimExact(corpusToks, probeToks))
        .select("query_id", "doc_id")
      val recall = approxTop.select("query_id", "doc_id")
        .join(exactTop, Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id")
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
      approxTop
        .join(broadcast(nCand), "query_id")
        .join(recall, Seq("query_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("maxsim_e6"), col("n_cand"),
          coalesce(col("recall5"), lit(0.0)).as("recall5"))
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $maxsimToksCtesSql,
      |postings AS (
      |  SELECT DISTINCT doc_id, ${tokBucketSql("dsv")} AS bk FROM ct),
      |qprobes AS (
      |  SELECT DISTINCT query_id, ${tokBucketSql("qsv")} AS bk FROM pt),
      |cand AS (
      |  SELECT DISTINCT p.query_id, c.doc_id
      |  FROM postings c JOIN qprobes p USING (bk)
      |  WHERE c.doc_id <> p.query_id),
      |ncand AS (SELECT query_id, count(*) AS n_cand FROM cand GROUP BY 1),
      |cscore AS MATERIALIZED (
      |  SELECT query_id, doc_id, CAST(sum(m6) AS BIGINT) AS maxsim_e6
      |  FROM (
      |    SELECT c.query_id, c.doc_id, qt,
      |      max(CAST(round(round(${V.dotSql("qsv", "dsv")} / (qn * dn), 6)
      |        * 1000000, 0) AS BIGINT)) AS m6
      |    FROM cand c JOIN ct ON ct.doc_id = c.doc_id
      |    JOIN pt ON pt.query_id = c.query_id
      |    GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2),
      |atop AS (
      |  SELECT query_id, doc_id, maxsim_e6, CAST(rnk AS INTEGER) AS rank
      |  FROM (
      |    SELECT query_id, doc_id, maxsim_e6, row_number() OVER (
      |      PARTITION BY query_id ORDER BY maxsim_e6 DESC, doc_id) AS rnk
      |    FROM cscore)
      |  WHERE rnk <= 5),
      |${maxsimExactSql("escore")},
      |etop AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY maxsim_e6 DESC, doc_id) AS rnk
      |    FROM escore)
      |  WHERE rnk <= 5),
      |rec AS (
      |  SELECT a.query_id, CAST(count(*) AS DOUBLE) / 5.0 AS recall5
      |  FROM atop a JOIN etop e
      |    ON e.query_id = a.query_id AND e.doc_id = a.doc_id
      |  GROUP BY 1)
      |SELECT a.query_id, a.rank, a.doc_id, a.maxsim_e6, n.n_cand,
      |  coalesce(r.recall5, 0.0) AS recall5
      |FROM atop a JOIN ncand n USING (query_id)
      |LEFT JOIN rec r ON r.query_id = a.query_id
      |ORDER BY a.query_id, a.rank""".stripMargin
    })

  val all: Vector[Q] = Vector(q244, q247, q254, q258, q263, q265)
}
