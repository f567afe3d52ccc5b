package graft

import graft.functions.Skew
import org.apache.spark.sql.functions._

/** Scale-path mechanics: bucketed co-located joins (no shuffle at
  * join time) and salted aggregation for skewed keys. The plan checks
  * plan with the small-input rule out (`scaleTest`): the fixtures are
  * below its gate.
  */
class ScaleSpec extends SparkSpec {

  scaleTest("bucketed tables join without a shuffle exchange") {
    val o = Tables.t(spark, sf(), "orders")
    val c = Tables.t(spark, sf(), "customer")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
    // disable broadcast so the join itself must co-locate
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      val exchangesBeforeAgg = "Exchange hashpartitioning\\(o_custkey".r.findAllIn(plan).size +
        "Exchange hashpartitioning\\(c_custkey".r.findAllIn(plan).size
      assert(exchangesBeforeAgg == 0,
        s"bucketed join must not shuffle its inputs:\n${plan.take(2000)}")
      // and the result is still right
      val n = joined.agg(sum("count")).head().getLong(0)
      assert(n == Tables.t(spark, sf(), "orders").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  scaleTest("AQE coalesces undersized shuffle partitions at runtime") {
    val df = Tables.t(spark, sf(), "orders")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"tiny shuffle should coalesce below ${spark.conf.get("spark.sql.shuffle.partitions")} partitions:\n${plan.take(1500)}")
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.t(spark, sf(), "lineitem")
    val direct = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(
      li, "l_returnflag", saltBuckets = 16,
      partial = Seq(sum("l_quantity").as("ps"), count(lit(1)).as("pn")),
      merge = Seq(sum("ps").as("s"), sum("pn").cast("long").as("n")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("salted join equals plain join and spreads each key over salts") {
    val li = Tables.t(spark, sf(), "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.t(spark, sf(), "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    val plain = li.join(ord, "l_orderkey")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedJoin(li, ord, "l_orderkey", saltBuckets = 8)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == plain)
  }

  scaleTest("AQE skew-join actually splits a skewed partition (plan-level proof)") {
    // a 90%-hot key: once shuffled for a sort-merge join, one reducer
    // partition is ~180k rows while the median is ~20 — exactly the
    // shape OptimizeSkewedJoin exists for. Thresholds are lowered to
    // fixture scale (the defaults are 256 MB production sizes); the
    // assertion is on the FINAL adaptive plan, so this fails if a
    // future conf/plan change silently stops AQE from splitting.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try {
      // payload makes the hot partition's MAP OUTPUT big: skew
      // detection reads compressed MapStatus sizes, and 180k
      // identical (k) rows alone lz4 away to under the threshold
      val fact = spark.range(200000).select(
        when(col("id") < 180000, 1L).otherwise(col("id") % 1000).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 7).as("w"))
      // aggregate GLOBALLY, not on k: a groupBy(k) downstream would
      // require the join's hashpartitioning(k) output distribution,
      // and AQE refuses to split a skewed partition when that would
      // break a required distribution — the refusal is correct, but
      // it is not what this test probes
      val joined = fact.join(dim, "k")
        .agg((sum("w") + sum(length(col("payload")))).as("sw"))
      // collect THIS dataframe (count() would finalize a different
      // query execution and leave joined's plan unexecuted)
      assert(joined.collect().length == 1)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skew-split:\n${plan.take(3000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  scaleTest("binned interval join is an equi-join (no nested-loop) and equals the theta join") {
    val binned = queries.Relational.q135.build(spark, sf())
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"binned interval join fell back to a nested loop:\n$plan")
    val ev = Tables.t(spark, sf(), "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
    val naive = p.join(e,
        col("user_id") === col("e_user") &&
          col("e_ts") >= col("p_ts") &&
          col("e_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
        "left")
      .groupBy("p_id").agg(count(col("e_id")).as("n_errors"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = binned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
  }

  test("ScaleUp embedding transform: rotation preserves within-copy " +
      "geometry, wrap-flip kills cross-rotation similarity") {
    // the fixture blow-up decorrelates copies by circular shift
    // (mod 64) plus a sign flip past copy 64; this pins the algebra
    // the sf1/sf10 fixtures rely on for constant dup density
    import spark.implicits._
    val vecs = Seq.tabulate(4)(i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(i * 64 + j + 1)))).toDF("vec_id", "embedding")
    def post(copy: Int) = {
      val c = lit(copy)
      val sh = pmod(c, lit(64))
      val rotated = when(sh === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), sh + 1, lit(64) - sh),
          slice(col("embedding"), lit(1), sh)))
      vecs.withColumn("embedding",
        when(c < 64, rotated).otherwise(transform(rotated, x => -x)))
    }
    def rows(copy: Int): Map[Long, Array[Double]] =
      post(copy).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val base = rows(0)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (copy <- Seq(1, 63, 64, 65, 99)) {
      val m = rows(copy)
      assert(m.values.forall(_.length == 64), s"copy $copy truncated a vector")
      // a permutation (± global sign) is orthogonal: all pairwise
      // dots within the copy equal the base copy's, to the ulp
      for (i <- 0L to 3L; j <- 0L to 3L)
        assert(math.abs(dot(m(i), m(j)) - dot(base(i), base(j))) < 1e-9,
          s"copy $copy changed within-copy geometry at ($i,$j)")
    }
    // copies 0 and 64 share the identity rotation; the sign flip must
    // send their vector pairs to cosine -1, not +1
    val m64 = rows(64)
    for (i <- 0L to 3L)
      assert(math.abs(dot(base(i), m64(i)) + dot(base(i), base(i))) < 1e-9,
        s"copy 64 must be the NEGATED base vector (cosine -1) at $i")
  }

  scaleTest("SemDeDup.cellAssign switches to the two-level quantizer above the seed cap") {
    import graft.pipeline.SemDeDup
    val e = Tables.t(spark, sf(), "embeddings").select("vec_id", "embedding")
    val st = SemDeDup.steps(e)
    assert(st.k > 2, s"fixture too small to exercise the switch: $st")
    // disable size-based broadcasting so the plan shows the JOIN KIND
    // the construction guarantees, not what tiny test inputs allow
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // under the cap: one explicit broadcast nested-loop of the full
      // seed set (the k <= cap regime)
      val one = SemDeDup.cellAssign(e, maxBroadcastSeeds = st.k)
      val onePlan = one.queryExecution.executedPlan.toString
      assert("BroadcastNestedLoopJoin".r.findAllIn(onePlan).size == 1,
        s"one-level path must broadcast the seed set exactly once:\n${onePlan.take(1500)}")
      // over the cap: the ONLY broadcast frames are the n^1/4
      // super-seeds (levels A and B); the full seed set is reached
      // through an equi-join on the super-cell key, which without
      // broadcasting must plan as a shuffle join — the 100 TB shape
      val two = SemDeDup.cellAssign(e, maxBroadcastSeeds = st.k - 1)
      val twoPlan = two.queryExecution.executedPlan.toString
      assert("BroadcastNestedLoopJoin".r.findAllIn(twoPlan).size == 2,
        s"two-level path must broadcast only the super-seeds (2 tiny BNLJs):\n${twoPlan.take(1500)}")
      assert("(SortMergeJoin|ShuffledHashJoin) \\[scell".r
          .findFirstIn(twoPlan).isDefined,
        s"seed search must be an equi-join on scell, never a nested loop:\n${twoPlan.take(1500)}")
      // both regimes produce a total assignment over the same corpus
      val n = e.count()
      assert(one.count() == n && two.count() == n)
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }
}
