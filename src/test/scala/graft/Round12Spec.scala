package graft

import org.apache.spark.sql.functions._

/** Independent driver recomputations for the round-12 additions:
  * q286 personalized PageRank (integer-exact recurrence replayed on
  * collected edges), q287 semantic contamination (within-cell min
  * distance), q288 Pareto frontier (brute-force O(n²) dominance —
  * the quadratic ground truth the query's window formulation must
  * match), plus the PackedEdge range guard.
  */
class Round12Spec extends SparkSpec {

  test("q286 PPR equals an integer recurrence replayed on collected edges") {
    val out = Q.byName("q286_personalized_pagerank").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = Tables.t(spark, sf(), "lineitem")
      .join(Tables.t(spark, sf(), "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("u"),
        (col("l_partkey").cast("long") * 2 + 1).as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges.flatMap { case (u, p) => Seq((u, p), (p, u)) }
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val seedNodes = Tables.t(spark, sf(), "customer")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey").cast("long") * 2).as("node"))
      .collect().map(_.getLong(0))
    val mass = 1000000000000L / seedNodes.length
    var pr: Map[Long, Long] = seedNodes.map(_ -> mass).toMap
    for (_ <- 1 to 3) {
      val contrib = pr.collect {
        case (n, v) if deg.contains(n) => n -> (v * 85L) / (100L * deg(n))
      }
      val inflow = sym.flatMap { case (s, d) => contrib.get(s).map(d -> _) }
        .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).sum }
      val tele = seedNodes.map(n => n -> (mass * 15L) / 100L).toMap
      pr = (inflow.keySet ++ tele.keySet).map(n =>
        n -> (inflow.getOrElse(n, 0L) + tele.getOrElse(n, 0L))).toMap
    }
    val want = pr.collect { case (n, v) if n % 2 == 1 => ((n - 1) / 2, v) }
      .toSeq.sortBy { case (part, ppr) => (-ppr, part) }.take(20)
    assert(out.toSeq == want, s"spark ${out.take(3).toSeq} vs driver ${want.take(3)}")
    // parts DID accumulate seeded mass (the query is non-degenerate)
    assert(want.head._2 > 0L)
  }

  test("q287 contamination equals a driver multi-probe min-distance recompute") {
    val out = Q.byName("q287_semantic_contamination").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // independent recompute: rebuild the quantizer FROM SCRATCH
    // (every √n-th vec_id is a seed), rank by (round(d²,6), seed_id),
    // evals probe their top-2 cells, trains live in their top-1
    val emb = Tables.t(spark, sf(), "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    def d2i(a: Array[Float], b: Array[Float]): Long =
      BigDecimal(r6(d2(a, b)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val step = math.max(16L, math.ceil(math.sqrt(emb.length.toDouble)).toLong)
    val seeds = emb.filter(_._1 % step == 0)
    val probes: Map[Long, Seq[Long]] = emb.map { case (vid, e) =>
      vid -> seeds.map { case (sid, sv) => (r6(d2(e, sv)), sid) }
        .sorted.take(2).map(_._2).toSeq
    }.toMap
    val (ev, tr) = emb.partition(_._1 % 7 == 3)
    val trByCell = tr.groupBy { case (tid, _) => probes(tid).head }
    val want = ev.flatMap { case (vid, ee) =>
      val cands = probes(vid).flatMap(c => trByCell.getOrElse(c, Array.empty).toSeq)
      // eval vectors whose probed cells hold no train vector are
      // excluded (the q284 singleton convention, q287 scaladoc)
      if (cands.isEmpty) None
      else {
        val (bd, bt) = cands.map { case (tid, te) => (d2i(ee, te), tid) }.min
        Some((vid, bt, r6(bd.toDouble / 1e6), bd <= 1150000L))
      }
    }.toSeq.sortBy { case (v, _, d, _) => (d, v) }.take(20)
    assert(out.toSeq == want, s"spark ${out.take(3).toSeq} vs driver ${want.take(3)}")
  }

  test("q288 frontier equals brute-force O(n²) dominance ground truth") {
    val out = Q.byName("q288_pareto_frontier").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val perDoc = Tables.docs(spark, sf())
      .select(col("doc_id"), col("lang"),
        size(graft.functions.Portable.tokens(col("text"))).cast("long"),
        size(graft.functions.Portable.tokenSet(col("text"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = perDoc.filter { case (_, lang, x, y) =>
      !perDoc.exists { case (_, l2, x2, y2) =>
        l2 == lang && x2 >= x && y2 >= y && (x2 > x || y2 > y)
      }
    }.sortBy { case (id, lang, x, _) => (lang, x, id) }
    assert(out.toSeq == want.toSeq,
      s"spark ${out.take(3).toSeq} vs driver ${want.take(3).toSeq}")
    assert(want.nonEmpty)
  }

  test("q289 survivorship equals a driver replay over the cluster assignment") {
    val out = Q.byName("q289_dedup_survivorship").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    val db = Tables.docs(spark, sf())
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
        graft.functions.Portable.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1"))
    val members = graft.graph.BandCluster.assign(db)
      .select("cluster", "doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = members.groupBy(_._1).collect {
      case (cl, ms) if ms.length >= 2 =>
        // survivor: longest n_chars, then smallest doc_id
        val (_, sid, ssrc, schars) =
          ms.minBy { case (_, id, _, nc) => (-nc, id) }
        (cl, ms.length.toLong, sid, ssrc, schars,
          ms.map(_._3).distinct.length.toLong,
          ms.map(_._3).distinct.sorted.mkString(","))
    }.toSeq.sortBy(_._1)
    assert(out.toSeq == want, s"spark ${out.take(2).toSeq} vs driver ${want.take(2)}")
    // compositional pin: q289's (cluster, n_docs) rows are exactly
    // q100's clusters with n_docs >= 2
    val q100 = Q.byName("q100_dedup_cc_clusters").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 >= 2).toSeq.sortBy(_._1)
    assert(out.map(r => (r._1, r._2)).toSeq == q100)
  }

  test("q290 reshard audit equals a driver ring replay; ring beats modulo") {
    val out = Q.byName("q290_reshard_audit").fn(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    import spark.implicits._
    val mod60 = 1L << 60
    val ring = (0 to 16).flatMap(sh => (0 to 7).map(v => (sh, v))).toDF("sh", "v")
      .select(col("sh").cast("long"),
        graft.functions.Portable.md5Long(concat(lit("node:"),
          col("sh").cast("string"), lit(":"), col("v").cast("string"))))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.docs(spark, sf())
      .select(col("doc_id"), col("source"),
        graft.functions.Portable.md5Long(
          concat(lit("ring:"), col("doc_id").cast("string"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def assign(h: Long, points: Seq[(Long, Long)]): Long =
      points.minBy { case (sh, r) =>
        (((r - h) % mod60 + mod60) % mod60, sh) }._1
    val old16 = ring.filter(_._1 < 16).toSeq
    val want = docs.groupBy(_._2).map { case (src, ds) =>
      val mr = ds.count { case (_, _, h) => assign(h, old16) != assign(h, ring.toSeq) }
      val mm = ds.count { case (_, _, h) => h % 16 != h % 17 }
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (src, ds.length.toLong, mr.toLong, mm.toLong,
        r6(mr.toDouble / ds.length), r6(mm.toDouble / ds.length))
    }.toSeq.sortBy(_._1)
    assert(out.toSeq == want, s"spark ${out.take(2).toSeq} vs driver ${want.take(2)}")
    // the point of the audit: consistent hashing moves a small
    // fraction, modulo placement rewrites nearly everything
    val (n, mr, mm) = (out.map(_._2).sum, out.map(_._3).sum, out.map(_._4).sum)
    assert(mr.toDouble / n < 0.25, s"ring moved $mr/$n")
    assert(mm.toDouble / n > 0.75, s"mod moved $mm/$n")
  }

  test("PackedEdge.pack fails loudly on ids outside [0, 2^32)") {
    import spark.implicits._
    val ok = Seq((1L, 2L), (4294967295L, 0L)).toDF("x", "y")
      .select(graft.graph.PackedEdge.pack(col("x"), col("y")).as("e"))
      .collect().map(_.getLong(0))
    assert(ok.toSeq == Seq((1L << 32) + 2L, 4294967295L << 32))
    val bad = Seq((4294967296L, 1L)).toDF("x", "y")
      .select(graft.graph.PackedEdge.pack(col("x"), col("y")).as("e"))
    val e = intercept[Exception](bad.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("PackedEdge.pack")), s"got: $e")
    val neg = Seq((-1L, 1L)).toDF("x", "y")
      .select(graft.graph.PackedEdge.pack(col("x"), col("y")).as("e"))
    val e2 = intercept[Exception](neg.collect())
    assert(msgs(e2).exists(_.contains("PackedEdge.pack")), s"got: $e2")
  }
}
