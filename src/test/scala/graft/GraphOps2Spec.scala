package graft

import org.apache.spark.sql.functions._

/** Driver recomputations for the q220/q221 graph additions. */
class GraphOps2Spec extends SparkSpec {

  private def purchases: Array[(Long, Long)] =
    Tables.t(spark, sf(), "lineitem")
      .join(Tables.t(spark, sf(), "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("q220 authorities equal an exact integer HITS recompute") {
    // q220 emits authority as the STRING of the exact decimal (the
    // driver-hashable representation, VERDICT r6 #1) — parse it back
    val out = Q.byName("q220_hits_scores").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), BigInt(r.getString(1))))
    val e = purchases
    var h = e.map(_._1).distinct.map(_ -> BigInt(1)).toMap
    var a = Map.empty[Long, BigInt]
    for (_ <- 1 to 3) {
      a = e.groupBy(_._2).map { case (p, es) => p -> es.map(x => h(x._1)).sum }
      h = e.groupBy(_._1).map { case (u, es) => u -> es.map(x => a(x._2)).sum }
    }
    val want = a.toSeq.sortBy { case (p, s) => (-s, p) }.take(10)
    assert(out.toSeq == want, s"spark ${out.toSeq} vs driver $want")
  }

  test("q220's decimal HITS is exact on a graph where int64 wraps by round 3") {
    // star graph: n users all pointing at one part. a₁ = n, h₁ = n,
    // a₂ = n², h₂ = n², a₃ = n³ — with n = 2.1M, n³ ≈ 9.26e18 >
    // Long.MaxValue (9.223e18): a BIGINT pipeline would wrap to a
    // negative authority here and report a silently wrong ranking.
    val n = 2100000L
    val want = BigInt(n).pow(3)
    assert(want > BigInt(Long.MaxValue),
      "fixture must actually exceed int64 by round 3")
    val e = spark.range(n).select(col("id").as("u"), lit(1L).as("p"))
    val out = queries.Graph.hits(e, 3).collect()
    assert(out.length == 1)
    assert(BigInt(out(0).getDecimal(1).toBigInteger) == want,
      s"got ${out(0).getDecimal(1)}, want $want")
  }

  test("hits raises (never NULLs) once a score passes 38 digits") {
    // same star graph, 7 rounds: a₇ = n⁷ ≈ 1.8e44 > 10³⁸. Under ANSI
    // (the Spark 4 default) the decimal sum raises ARITHMETIC_OVERFLOW
    // natively; under ANSI-off it returns NULL — which would sort last
    // under desc and silently drop the heaviest node — and the
    // raise-on-null guard inside hits() fires instead. Either way the
    // failure must be LOUD, never a silently wrong ranking.
    val n = 2100000L
    assert(BigInt(n).pow(7) > BigInt(10).pow(38))
    val e = spark.range(n).select(col("id").as("u"), lit(1L).as("p"))
    val ex = intercept[Exception] {
      queries.Graph.hits(e, 7).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(m =>
      m.contains("decimal(38,0) overflow") || m.contains("ARITHMETIC_OVERFLOW")),
      s"expected a loud decimal-overflow failure, got: $ex")
    // the ANSI-off path: the guard must catch the NULLed sum
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val ex2 = intercept[Exception] {
        queries.Graph.hits(e, 7).collect()
      }
      assert(messages(ex2).exists(_.contains("decimal(38,0) overflow")),
        s"expected the hits raise-on-null guard to fire with ANSI off, got: $ex2")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("q221 survivors equal an exact k-core peel and all have deg >= 3") {
    val out = Q.byName("q221_kcore_peel").fn(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val items = Tables.t(spark, sf(), "lineitem")
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cnt = collection.mutable.Map.empty[(Long, Long), Int]
    items.groupBy(_._1).values.foreach { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) {
        val k = (ps(i), ps(j))
        cnt(k) = cnt.getOrElse(k, 0) + 1
      }
    }
    // NOTE: Map.collect returning a tuple would rebuild a MAP (keyed
    // by the pair's first element) — filter + keySet keeps the pairs
    val pairs = cnt.keySet.toSet
    val adj = collection.mutable.Map.empty[Long, Set[Long]]
    pairs.foreach { case (x, y) =>
      adj(x) = adj.getOrElse(x, Set.empty) + y
      adj(y) = adj.getOrElse(y, Set.empty) + x
    }
    var alive: Set[Long] = adj.keySet.toSet
    for (_ <- 1 to 3)
      alive = alive.filter(n => (adj(n) & alive).size >= 60)
    val deg = alive.map(n => n -> (adj(n) & alive).size.toLong).toMap
    val want = deg.toSeq.sortBy { case (n, d) => (-d, n) }.take(20)
    assert(out.toSeq == want, s"spark ${out.toSeq} vs driver $want")
    assert(out.nonEmpty)
  }

  test("q262 incremental CC == full recompute; merges actually happen") {
    val inc = Q.byName("q262_incremental_cc_maintenance").fn(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // full recompute on the union graph, through the SAME engine CC
    val db = Tables.docs(spark, sf())
      .select(col("doc_id"),
        graft.functions.Portable.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
      .select(col("doc_id"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1"),
        (pmod(col("doc_id"), lit(7)) =!= 3).as("is_snap"))
    val comp = graft.graph.ConnectedComponents.run(
      db.select(col("b0").as("a"), col("b1").as("b")))
    val full = db.join(comp, db("b0") === comp("node"))
      .groupBy("component")
      .agg(min("doc_id").as("cluster"), count(lit(1)).as("n"),
        sum(col("is_snap").cast("long")).as("ns"),
        sum((!col("is_snap")).cast("long")).as("nd"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(inc.toSeq == full.toSeq,
      "incremental maintenance must reproduce the full CC exactly")
    // attribution partitions every doc, and the merge path is live:
    // some cluster must mix snapshot and delta members
    inc.foreach { case (_, n, ns, nd) => assert(ns + nd == n) }
    assert(inc.exists { case (_, _, ns, nd) => ns > 0 && nd > 0 },
      "no cluster mixes snapshot and delta docs — merge path untested")
  }

  test("IncrementalCC deletions: label-carrier removal and component split") {
    import spark.implicits._
    // snapshot components: {1,2,3,4} (label 1), {5,6,7} (label 5),
    // {10,11} (label 10), {20,21} (label 20)
    val snap = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (5L, 7L),
      (6L, 7L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    // deletions: (2,3) SPLITS the first component; both edges at 5
    // remove the LABEL CARRIER of the second; (10,11) erases the
    // third entirely; {20,21} is untouched
    val surv = Seq((1L, 2L), (3L, 4L), (6L, 7L), (20L, 21L)).toDF("a", "b")
    val out = graft.graph.IncrementalCC.withDeletions(snap, surv).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(
      1L -> ((1L, true)), 2L -> ((1L, true)), // split piece, old label
      3L -> ((3L, true)), 4L -> ((3L, true)), // split piece, NEW label
      6L -> ((6L, true)), 7L -> ((6L, true)), // carrier 5 gone -> relabel
      20L -> ((20L, false)), 21L -> ((20L, false))
      // 5, 10, 11 have no surviving edges -> absent from the output
    ), s"got $out")
  }

  test("q264 delete-aware maintenance == full engine CC over survivors") {
    val inc = Q.byName("q264_cc_delete_maintenance").fn(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val db = Tables.docs(spark, sf())
      .select(col("doc_id"),
        graft.functions.Portable.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
      .select(col("doc_id"),
        col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1"))
      .filter(pmod(col("doc_id"), lit(13)) =!= 4) // survivors only
    val comp = graft.graph.ConnectedComponents.run(
      db.select(col("b0").as("a"), col("b1").as("b")))
    val full = db.join(comp, db("b0") === comp("node"))
      .groupBy("component")
      .agg(min("doc_id").as("cluster"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(inc.map(r => (r._1, r._2)).toSeq == full.toSeq,
      "delete-aware maintenance must reproduce the survivor-graph CC")
    assert(inc.exists(_._3) && inc.exists(!_._3),
      "fixture must exercise both affected and untouched components")
  }
}
