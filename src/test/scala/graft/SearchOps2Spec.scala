package graft

import org.apache.spark.sql.functions._

/** Driver recomputes for the round-7 retrieval/curation additions. */
class SearchOps2Spec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q235 rrf recomputes from emitted ranks; recall5 equals a driver brute-force audit") {
    val rows = Q.byName("q235_fused_retrieval_indexed").fn(spark, sf()).collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == (0L to 4L))
    rows.foreach { r =>
      val rl = Option(r.get(r.fieldIndex("r_lex"))).map(_.asInstanceOf[Int])
      val rv = Option(r.get(r.fieldIndex("r_vec"))).map(_.asInstanceOf[Int])
      assert(rl.isDefined || rv.isDefined)
      assert(r.getInt(r.fieldIndex("rank")) <= 5)
      val want = round6(
        rl.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
          rv.map(x => 1.0 / (60 + x)).getOrElse(0.0))
      assert(r.getDouble(r.fieldIndex("rrf")) == want)
    }
    // driver-side brute-force fusion (q232's lists, top-5) → recall
    val toks = Tables.docs(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        "\\s+".r.split(r.getString(1)).filter(_.nonEmpty).toSet)
      .toMap
    val embs = Tables.t(spark, sf(), "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val corpus = toks.keySet.filter(_ >= 5).toSeq.sorted
    val bruteTop5: Map[Long, Set[Long]] = (0L to 4L).map { q =>
      val lex = corpus.map { d =>
        val c = (toks(q) & toks(d)).size.toDouble
        d -> round6(c / (toks(q).size + toks(d).size - c))
      }.sortBy { case (d, j) => (-j, d) }.take(100)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val vec = corpus.map { d =>
        d -> round6(dot(embs(q), embs(d)) / (nrm(embs(q)) * nrm(embs(d))))
      }.sortBy { case (d, c) => (-c, d) }.take(100)
        .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
      val fused = (lex.keySet ++ vec.keySet).toSeq.map { d =>
        d -> round6(
          lex.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
            vec.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0))
      }.sortBy { case (d, s) => (-s, d) }.take(5).map(_._1).toSet
      q -> fused
    }.toMap
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val got = rs.map(_.getLong(2)).toSet
      val wantRecall = (got & bruteTop5(q)).size / 5.0
      rs.foreach(r =>
        assert(r.getDouble(r.fieldIndex("recall5")) == wantRecall,
          s"query $q recall ${r.getDouble(r.fieldIndex("recall5"))} vs driver $wantRecall"))
    }
  }

  test("q236 combinations partition the corpus; per-method totals match the source verdicts") {
    val out = Q.byName("q236_consensus_keeper").fn(spark, sf()).collect()
    val nDocs = Tables.docs(spark, sf()).count()
    assert(out.map(_.getLong(5)).sum == nDocs,
      "method-combination counts must partition every document")
    out.foreach { r =>
      val (ex, mh, sd, ct) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      val want = if (ex == 1 || mh + sd + ct >= 2) "drop" else "keep"
      assert(r.getString(4) == want, s"decision rule broken on row $r")
    }
    def flagTotal(i: Int): Long =
      out.filter(_.getInt(i) == 1).map(_.getLong(5)).sum
    // each attribution column totals to its source operator's verdict
    val mhWant = queries.TextDedup.q41.fn(spark, sf())
      .select("doc_b").distinct().count()
    val sdWant = queries.Vectors.q181.fn(spark, sf())
      .select("dropped").distinct().count()
    val ctWant = queries.TextDedup.q234.fn(spark, sf())
      .select("doc_b").distinct().count()
    val exWant = {
      val texts = Tables.docs(spark, sf()).select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      texts.groupBy(_._2).values.map(g => g.size - 1).sum
    }
    assert(flagTotal(0).toInt == exWant, "exact attribution")
    assert(flagTotal(1) == mhWant, "minhash attribution")
    assert(flagTotal(2) == sdWant, "semdedup attribution")
    assert(flagTotal(3) == ctWant, "containment attribution")
    // the consensus must be non-degenerate on the fixtures: some docs
    // flagged by a single fuzzy method survive, some are dropped
    assert(out.exists(r => r.getString(4) == "keep" &&
      r.getInt(1) + r.getInt(2) + r.getInt(3) == 1))
    assert(out.exists(_.getString(4) == "drop"))
  }

  test("q256 cross-modal consensus is monotone over q236 and media is live") {
    val cm = Q.byName("q256_crossmodal_consensus").fn(spark, sf()).collect()
    val tx = Q.byName("q236_consensus_keeper").fn(spark, sf()).collect()
    def drops(rows: Array[org.apache.spark.sql.Row], decIdx: Int,
        nIdx: Int): Long =
      rows.filter(_.getString(decIdx) == "drop").map(_.getLong(nIdx)).sum
    // adding a vote channel can only move docs keep -> drop
    assert(drops(cm, 5, 6) >= drops(tx, 4, 5),
      "q256 must drop at least every doc q236 drops")
    // the media channel must actually fire on the fixtures...
    assert(cm.exists(_.getInt(4) == 1), "media channel is degenerate")
    // ...a lone media verdict never deletes a document...
    for (r <- cm if r.getInt(0) == 0 &&
        r.getInt(1) + r.getInt(2) + r.getInt(3) == 0 && r.getInt(4) == 1)
      assert(r.getString(5) == "keep", s"lone media verdict dropped docs: $r")
    // ...and media agreement confirms some single text verdict that
    // q236 alone would have spared (the cross-modal payoff)
    assert(cm.exists(r => r.getString(5) == "drop" && r.getInt(4) == 1 &&
      r.getInt(0) == 0 && r.getInt(1) + r.getInt(2) + r.getInt(3) == 1),
      "no doc was dropped BECAUSE media confirmed a lone text verdict")
    // on media=0 combinations the two queries decide identically
    val txDec = tx.map(r => ((r.getInt(0), r.getInt(1), r.getInt(2),
      r.getInt(3)), r.getString(4))).toMap
    for (r <- cm if r.getInt(4) == 0) {
      val k = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(txDec.get(k).forall(_ == r.getString(5)),
        s"media=0 combination $k decides differently than q236")
    }
  }

  test("q237 decimal canary equals a driver recompute and emits DECIMAL(38,0)") {
    val df = Q.byName("q237_decimal_output_canary").fn(spark, sf())
    assert(df.schema("dec_orderkeys").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0),
      "the canary (demoted to Q.baselines in r8 — decimal outputs can " +
        "never hash green at the driver, see its scaladoc) keeps the " +
        "decimal aggregation path value-tested here")
    val out = df.collect()
      .map(r => (r.getString(0), BigInt(r.getDecimal(1).toBigInteger), r.getLong(2)))
    val want = Tables.t(spark, sf(), "lineitem")
      .select("l_returnflag", "l_orderkey").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq
      .map { case (f, xs) => (f, xs.map(x => BigInt(x._2)).sum, xs.length.toLong) }
      .sortBy(_._1)
    assert(out.toSeq == want)
  }
}
