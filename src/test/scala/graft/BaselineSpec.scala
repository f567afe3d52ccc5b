package graft

/** Correctness pins for the demoted quadratic baselines (Q.baselines).
  *
  * q40/q67/q139 left the registry in round 5 (fixed block-key
  * cardinality makes them quadratic in corpus size — see Q.baselines),
  * which also removed them from the DuckDB oracle gate. These tests
  * restore an INDEPENDENT check: expected outputs are recomputed on
  * the driver with plain Scala loops over the collected sf0.01 tables
  * — no Spark SQL, no shared kernels — and compared row-for-row.
  * (q139's recall is additionally audited by SemDeDupSpec.)
  */
class BaselineSpec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q40 blocked Jaccard equals a driver-side brute force (sf0.01)") {
    val got = Q.byName("q40_dedup_jaccard_blocked")
      .fn(spark, sf("sf0.01"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toVector

    val docs = Tables.docs(spark, sf("sf0.01"))
      .select("doc_id", "lang", "source", "text")
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)),
        r.getString(3).split("\\s+").filter(_.nonEmpty).toSet))

    val want = (for {
      Seq((ida, bka, ta), (idb, bkb, tb)) <- docs.sortBy(_._1).toSeq.combinations(2)
      if bka == bkb
      inter = (ta & tb).size.toDouble
      jac = inter / (ta.size + tb.size - inter)
      if jac >= 0.7
    } yield (ida, idb, round6(jac))).toVector.sorted

    assert(want.nonEmpty, "brute force found no pairs — fixture drift?")
    assert(got == want,
      s"q40 diverged from brute force: got ${got.size} pairs, want ${want.size}")
  }

  test("q67 label-blocked cosine equals a driver-side brute force (sf0.01)") {
    val got = Q.byName("q67_dedup_embedding_blocked")
      .fn(spark, sf("sf0.01"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toVector

    val vecs = Tables.t(spark, sf("sf0.01"), "embeddings")
      .select("vec_id", "label", "embedding")
      .collect()
      .map { r =>
        val e = r.getSeq[Float](2).toArray
        (r.getLong(0), r.getInt(1), e)
      }
      .sortBy(_._1)

    // exact replica of the kernel's arithmetic (left-to-right double
    // accumulation over float elements) so rounded values match bitwise
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }

    val want = (for {
      Seq((va, la, ea), (vb, lb, eb)) <- vecs.toSeq.combinations(2)
      if la == lb
      cos = round6(dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb))))
      if cos >= 0.4
    } yield (va, vb, la, cos)).toVector.sorted

    assert(want.nonEmpty, "brute force found no pairs — fixture drift?")
    assert(got == want,
      s"q67 diverged from brute force: got ${got.size} pairs, want ${want.size}")
  }

  // q237 (demoted in round 8 — decimal outputs can never hash green at
  // the driver gate, see Aggregates.q237) keeps its driver-recompute
  // value pin in SearchOps2Spec; the registry-exclusion test below now
  // covers it automatically via Q.baselines.

  test("demoted baselines stay out of the registry but resolvable by name") {
    val reg = Q.registry.map(_.name).toSet
    for (b <- Q.baselines) {
      assert(!reg.contains(b.name), s"${b.name} must not sit in the registry")
      assert(Q.byName(b.name).name == b.name)
    }
  }
}
