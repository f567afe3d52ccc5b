package graft

import org.apache.spark.sql.functions._

/** Independent checks for q218 (streamed sketch) and q219 (negative
  * mining).
  */
class StreamingOps2Spec extends SparkSpec {

  test("q218 streamed CMS is byte-identical to the batch CMS") {
    val out = Q.byName("q218_stream_heavy_hitters").fn(spark, sf()).collect()
    assert(out.length == 10 && out.forall(_.getBoolean(2)))
    // mergeability: the sketch built incrementally across micro-batches
    // must equal one batch-built sketch bit for bit (cell adds are
    // commutative integer sums)
    val streamed = graft.streaming.EventStreams
      .cmsOverStream(spark, sf()).head()
    val batch = Tables.events(spark, sf())
      .select(get_json_object(col("props"), "$.k").as("k"))
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n")).head()
    assert(streamed.getAs[Long]("n") == batch.getAs[Long]("n"))
    assert(java.util.Arrays.equals(
      streamed.getAs[Array[Byte]]("cms"), batch.getAs[Array[Byte]]("cms")),
      "streamed and batch sketches diverge")
  }

  test("q219 hard negatives are same-lang non-dups at minimal length gap") {
    val out = Q.byName("q219_negative_mining").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val docs = Tables.docs(spark, sf())
      .select("doc_id", "lang", "n_chars", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSet
    out.filter(_._2 == "hard").groupBy(_._1).foreach { case (qid, rs) =>
      val (qlang, qchars, qtext) = docs(qid)
      val qt = toks(qtext)
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length))
      rs.foreach { case (_, _, _, nid) =>
        val (nlang, _, ntext) = docs(nid)
        assert(nlang == qlang && nid != qid)
        val nt = toks(ntext)
        val jac = (qt & nt).size.toDouble / (qt | nt).size
        assert(jac < 0.5, s"hard negative $nid is a near-dup of $qid ($jac)")
      }
      // minimality: every same-lang non-dup candidate NOT selected has a
      // length gap >= the worst selected gap (ties broken by doc_id)
      val worst = rs.map { case (_, _, _, nid) =>
        math.abs(docs(nid)._2 - qchars) }.max
      docs.foreach { case (cid, (clang, cchars, ctext)) =>
        if (clang == qlang && cid != qid && !rs.exists(_._4 == cid)) {
          val ct = toks(ctext)
          val jac = (qt & ct).size.toDouble / (qt | ct).size
          if (jac < 0.5)
            assert(math.abs(cchars - qchars) >= worst,
              s"candidate $cid (gap ${math.abs(cchars - qchars)}) beats selected (worst $worst)")
        }
      }
    }
    out.filter(_._2 == "random").foreach { case (qid, _, _, nid) =>
      assert(docs(nid)._1 != docs(qid)._1, "random negative shares the language")
    }
  }
}
