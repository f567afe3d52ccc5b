package graft

import org.apache.spark.sql.functions._

/** Round-13 recomputations and guards: the PackedEdge unsigned
  * round-trip (ADVICE r12 #1 — ids in [2^31, 2^32) used to decode
  * NEGATIVE under the arithmetic shift), q291 span excision replayed
  * from raw text, q292's recall audit replayed brute-force, and the
  * clone-capture completeness claim behind q287's probe design.
  */
class Round13Spec extends SparkSpec {

  test("PackedEdge round-trips the FULL guarded range, including [2^31, 2^32)") {
    import spark.implicits._
    // x = 2^31 is exactly where an arithmetic shiftright sign-extends
    // the packed long and decodes x - 2^32: the silent-corruption mode
    // the pack guard claims to prevent (ADVICE r12 #1)
    val cases = Seq(
      (0L, 0L), (1L, 2L), (123L, (1L << 31)),
      ((1L << 31), 5L), ((1L << 32) - 1, (1L << 32) - 1))
    val rt = cases.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.graph.PackedEdge.pack(col("x"), col("y")).as("e"))
      .select(col("x"), col("y"),
        graft.graph.PackedEdge.x(col("e")).as("xd"),
        graft.graph.PackedEdge.y(col("e")).as("yd"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    rt.foreach { case (in, out) =>
      assert(in == out, s"pack/unpack mangled $in -> $out")
    }
    assert(rt.forall { case (_, (xd, yd)) => xd >= 0 && yd >= 0 },
      "decoded ids must never be negative inside the guarded range")
  }

  test("q291 span excision equals a driver replay from raw text") {
    val out = Q.byName("q291_span_excision").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.docs(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 40) // fixture is pure ASCII: chars == code units
    // every anchored window (h % 4 == 0) with its 1-based position
    def wins(text: String): Seq[(Long, Long)] =
      text.sliding(40).zipWithIndex.collect {
        case (w, i)
            if graft.functions.Md5Long60.hashBytes(w.getBytes("UTF-8")) % 4 == 0 =>
          (i + 1L, graft.functions.Md5Long60.hashBytes(w.getBytes("UTF-8")))
      }.toSeq
    val perDoc = docs.map { case (id, t) => (id, t.length.toLong, wins(t)) }
    val dup = perDoc.flatMap { case (id, _, ws) => ws.map(_._2 -> id).distinct }
      .groupBy(_._1).collect { case (h, ds) if ds.map(_._2).distinct.size >= 2 => h }
      .toSet
    val want = perDoc.flatMap { case (id, len, ws) =>
      val spans = ws.collect { case (p, h) if dup(h) => (p, p + 39L) }.sorted
      // merge overlapping/adjacent excisions, then complement
      val merged = spans.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc :+ ((s0, e0)), (s, e)) if s <= e0 + 1 =>
          acc :+ (s0, math.max(e0, e))
        case (acc, sp) => acc :+ sp
      }
      val gaps = (Vector((0L, 0L)) ++ merged :+ ((len + 1L, len + 1L)))
        .sliding(2).collect {
          case Seq((_, e0), (s1, _)) if e0 + 1 <= s1 - 1 => (e0 + 1, s1 - 1)
        }.toVector
      gaps.map { case (ks, ke) => (id, ks, ke, ke - ks + 1) }
    }.sortBy { case (id, ks, _, _) => (id, ks) }
    assert(out.toSeq == want.toSeq,
      s"spark ${out.take(3).toSeq} vs driver ${want.take(3)}")
    // the operator is non-degenerate on the fixture: something was
    // excised (the replay found cross-document duplicated windows)
    assert(perDoc.exists { case (_, _, ws) => ws.exists(w => dup(w._2)) },
      "fixture has no duplicated spans — the excision path went untested")
  }

  test("q292 recall audit equals a brute-force driver recompute") {
    val out = Q.byName("q292_contamination_recall_audit").fn(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).head
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
    val panel = ev.map { case (vid, e) =>
      val rk = graft.functions.Md5Long60.hashBytes(s"aud:$vid".getBytes("UTF-8"))
      (rk, vid, e)
    }.sortBy(t => (t._1, t._2)).take(64).map(t => (t._2, t._3))
    val truePairs = for {
      (evid, ee) <- panel
      (tid, te) <- tr
      if d2i(ee, te) <= 1150000L
    } yield (evid, tid, probes(evid).contains(probes(tid).head))
    val want = (panel.length.toLong, truePairs.length.toLong,
      truePairs.count(_._3).toLong,
      truePairs.map(_._1).distinct.length.toLong,
      truePairs.filter(_._3).map(_._1).distinct.length.toLong)
    assert(out == want, s"spark $out vs driver $want")
  }

  test("q294 applies exactly q291's ranges: driver splice matches hash, length, prefix") {
    val ranges = Q.byName("q291_span_excision").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
      .groupBy(_._1)
    val texts = Tables.docs(spark, sf()).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val out = Q.byName("q294_span_excision_apply").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val want = ranges.toSeq.map { case (id, rs) =>
      val clean = rs.sortBy(_._2)
        .map { case (_, ks, ke) => texts(id).substring(ks - 1, ke) }.mkString
      (id, rs.length.toLong, clean.length.toLong,
        graft.functions.Md5Long60.hashBytes(clean.getBytes("UTF-8")),
        clean.take(40))
    }.sortBy(_._1)
    assert(out.toSeq == want, s"spark ${out.take(2).toSeq} vs driver ${want.take(2)}")
    // at least one doc actually shrank (the apply path is exercised)
    assert(want.exists { case (id, _, len, _, _) => len < texts(id).length },
      "no doc shrank — excision apply untested")
  }

  test("q295 admission equals a driver replay over the band signatures") {
    val sigs = Tables.docs(spark, sf())
      .select(col("doc_id"), graft.functions.Portable.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val standing = sigs.filter(_._1 % 10 != 7).groupBy(_._2)
      .map { case (sig, xs) => sig -> xs.map(_._1).min }
    val out = Q.byName("q295_ingest_admission").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    val want = sigs.filter(_._1 % 10 == 7).groupBy(_._1).toSeq.map { case (id, xs) =>
      val hits = xs.flatMap(x => standing.get(x._2))
      (id, xs.length.toLong, hits.length.toLong,
        if (hits.isEmpty) None else Some(hits.min), hits.isEmpty)
    }.sortBy(_._1)
    assert(out.toSeq == want, s"spark ${out.take(3).toSeq} vs driver ${want.take(3)}")
    // both verdicts occur on the fixture
    assert(want.exists(_._5) && want.exists(!_._5),
      "fixture must exercise both admit and reject")
  }

  test("q293 interleave equals a driver recompute and balances every live prefix") {
    val out = Q.byName("q293_stratified_interleave").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.docs(spark, sf()).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def h(id: Long): Long =
      graft.functions.Md5Long60.hashBytes(s"shuf:$id".getBytes("UTF-8"))
    val ranked = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.sortBy { case (id, _) => (h(id), id) }.zipWithIndex
        .map { case ((id, _), i) => (id, src, i + 1L) }.toSeq
    }
    val want = ranked.sortBy { case (_, src, r) => (r, src) }.zipWithIndex
      .map { case ((id, src, r), i) => (id, src, r, i + 1L) }
    assert(out.toSeq == want, s"spark ${out.take(3).toSeq} vs driver ${want.take(3)}")
    // the property the operator exists for: while every source is
    // still live, each S-sized prefix block holds one doc per source
    val nSources = docs.map(_._2).distinct.length
    val minN = docs.groupBy(_._2).values.map(_.length).min
    (1 to minN).foreach { r =>
      val block = out.slice((r - 1) * nSources, r * nSources)
      assert(block.map(_._2).distinct.length == nSources,
        s"rank-$r block is not one-per-source: ${block.map(_._2).toSeq}")
    }
  }

  test("clone-level contamination is ALWAYS captured: clones share a cell") {
    // The fixture's d² <= 1.15 threshold is the 5th-percentile NATURAL
    // neighborhood (measured: every true pair sits at d² in
    // [0.94, 1.15]) — at that distance a √n coarse quantizer
    // legitimately splits pairs, which q292 measures. What an eval-
    // decontamination screen must never miss is CLONE-level proximity
    // (a paraphrased eval row landing in train, d² near 0) — and a
    // clone pair quantizes to the SAME nearest cell, so the probe-
    // local pair space always contains it. Plant deterministic clones
    // and prove the capture end-to-end through cellProbes.
    import spark.implicits._
    def h(i: Long): Double =
      (graft.functions.Md5Long60.hashBytes(s"vec:$i".getBytes("UTF-8")) % 2000L)
        .toDouble / 1000.0 - 1.0
    val base: Map[Long, Array[Float]] = (0L until 300L)
      .map(i => i -> Array.tabulate(16)(j => h(i * 16 + j).toFloat)).toMap
    // evals are vec_id % 7 == 3; plant each as a near-copy of a train
    // vector (one coordinate nudged by 1e-3 -> d² = 1e-6)
    val planted = Seq(3L -> 4L, 10L -> 11L, 17L -> 20L, 59L -> 100L)
    val vecs = base.map { case (id, e) =>
      planted.find(_._1 == id) match {
        case Some((_, src)) =>
          val c = base(src).clone(); c(0) = c(0) + 1e-3f; id -> c
        case None => id -> e
      }
    }
    val df = vecs.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
    val pr = graft.pipeline.SemDeDup.cellProbes(df, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2))
      .toMap
    planted.foreach { case (evId, trId) =>
      assert(pr(evId).head == pr(trId).head,
        s"clone pair ($evId, $trId) must share its nearest cell: " +
          s"${pr(evId)} vs ${pr(trId)}")
    }
    // and probe 1 of cellProbes is exactly the cellAssign cell
    val ca = graft.pipeline.SemDeDup.cellAssign(df).collect()
      .map(r => r.getLong(r.fieldIndex("vec_id")) ->
        r.getLong(r.fieldIndex("cell"))).toMap
    pr.foreach { case (id, ps) =>
      assert(ps.head == ca(id), s"probe 1 of $id diverged from cellAssign")
    }
  }
}
