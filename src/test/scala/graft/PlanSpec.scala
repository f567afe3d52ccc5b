package graft

import graft.plans.SmallInputs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, explode, expr}

/** Physical-plan shape assertions — the "would this survive 100×
  * scale-up" checks: filters reach the parquet scan, projections
  * prune the read schema, small dims broadcast, top-k avoids a full
  * sort, identical self-join sides reuse one exchange.
  *
  * The fixtures are below the small-input gate ([[SmallInputs]]), so
  * each scale-up pin plans with the rule taken out (`scaleTest`); the
  * pins at the end hold the single-stage plans below the gate.
  */
class PlanSpec extends SparkSpec {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p: SparkPlan             => p.toString
    }
  }

  private def q(name: String): DataFrame =
    Q.byName(name).build(spark, sf())

  scaleTest("q01: filter is pushed to the parquet scan and columns are pruned") {
    val s = q("q01_pricing_summary").queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter must reach the scan")
    assert(!s.contains("l_orderkey"), "unused columns must not be read")
  }

  scaleTest("q04: both small dims join as broadcasts") {
    val df = q("q04_revenue_by_nation")
    df.collect() // finalize AQE
    val s = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      s"expected >=2 broadcast joins, plan:\n${s.take(2000)}")
  }

  scaleTest("q25: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val s = q("q25_topk_orders").queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"), s.take(1000))
  }

  scaleTest("q46: stop-list top-10 plans as TakeOrderedAndProject, no rank window") {
    // the stop-list input is the corpus VOCABULARY — a partition-less
    // rank window here funnels it through one task at scale
    val s = q("q46_quality_score").queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"), s.take(2000))
    assert(!s.contains("RunningWindowFunction") && !"Window\\b".r.findFirstIn(s).isDefined,
      s"q46 must not plan a window:\n${s.take(2000)}")
  }

  scaleTest("q40: self-join sides reuse one shuffle exchange") {
    val df = q("q40_dedup_jaccard_blocked")
    df.collect()
    val s = planString(df)
    assert(s.contains("ReusedExchange") || s.contains("reused"),
      s"identical join sides should share an exchange:\n${s.take(2000)}")
  }

  scaleTest("q34: window aggregation keeps partial aggregation map-side") {
    val s = q("q34_tumbling_window").queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "expected partial+final HashAggregate pair")
  }

  scaleTest("q76: salted aggregation plans as two HashAggregate phases") {
    val s = q("q76_salted_topk_suppliers").queryExecution.executedPlan.toString
    // (key,salt) partial+final then key partial+final = 4 HashAggregates
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      s"expected two two-phase aggregations, plan:\n${s.take(2000)}")
  }

  scaleTest("q71: generated date spine joins without shuffling the spine globally") {
    val df = q("q71_date_spine")
    df.collect()
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      s"31-row spine should broadcast:\n${s.take(2000)}")
  }

  scaleTest("q50: nearest-centroid argmin aggregates map-side (no window sort)") {
    val s = q("q50_nearest_centroid_confusion").queryExecution.executedPlan.toString
    assert(!s.contains("RunningWindowFunction") && !s.contains("Window"),
      "argmin must be min(struct(...)), not a row_number window")
    assert(s.contains("vecdist2"), "distance must be the codegen'd expression")
  }

  scaleTest("q41: verify stage uses the codegen'd merge-scan intersect") {
    val s = q("q41_dedup_minhash_lsh").queryExecution.executedPlan.toString
    assert(s.contains("sorted_intersect_count"), s.take(2000))
  }

  /** Listener-captured codegen pin (VERDICT r11 #7): run `name` and
    * assert every executed plan that mentions kernel `fn` — INCLUDING
    * checkpoint-materialization actions invisible in the final plan —
    * keeps the kernel inside a WholeStageCodegen span ("*(id)"
    * prefix). The final-plan-only pin has a blind spot: a kernel that
    * runs inside a localCheckpoint materialization never appears in
    * the final plan, so a CodegenFallback regression there passes the
    * old assertion silently (the q41 lesson, generalized here to
    * every checkpointed kernel query).
    */
  private def assertKernelCodegenAcrossActions(name: String, fn: String): Unit = {
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val s = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p                        => p.toString
        }
        if (s.contains(fn)) captured.add(s)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      q(name).collect()
      // the listener bus is async — poll until at least one plan lands
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime < deadline) Thread.sleep(50)
      assert(!captured.isEmpty,
        s"no executed plan containing $fn was captured while running $name")
      import scala.jdk.CollectionConverters._
      val starred = captured.asScala
        .flatMap(_.linesIterator).filter(_.contains(fn)).toList
      assert(starred.forall(_.trim.matches("""[+:\-\s]*\*\(\d+\).*""")),
        s"$fn must sit inside a WholeStageCodegen span in every plan $name " +
          s"executes:\n${starred.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  scaleTest("q42: every executed plan keeps simhash32 inside codegen") {
    assertKernelCodegenAcrossActions("q42_dedup_simhash", "simhash32")
  }

  scaleTest("q47: every executed plan keeps shingle_fingerprint inside codegen") {
    assertKernelCodegenAcrossActions("q47_fingerprint_shingles", "shingle_fingerprint")
  }

  scaleTest("q291: every executed plan keeps anchor_shingle_pos inside codegen") {
    // the excision pipeline's kernel runs in both the spans-pin
    // materialization and the dup groupBy — the listener capture
    // covers both (the checkpointed pass would be invisible to a
    // final-plan-only assertion)
    assertKernelCodegenAcrossActions("q291_span_excision", "anchor_shingle_pos")
  }

  scaleTest("q100: the checkpointed band pipeline keeps minhash_bands inside codegen") {
    // q100's bands materialize inside BandCluster's checkpoint — the
    // exact blind spot the listener pin exists for
    assertKernelCodegenAcrossActions("q100_dedup_cc_clusters", "minhash_bands")
  }

  scaleTest("q41: checkpoint-materialization plan runs minhash_bands inside codegen") {
    // q41's signature frame is localCheckpointed since r10, so the
    // kernel runs inside the checkpoint materialization and is
    // invisible in the FINAL plan. Capture the plans of every action
    // q41 itself executes via a QueryExecutionListener and pin the
    // kernel's codegen placement on the plan q41 ACTUALLY ran — a
    // CodegenFallback regression inside the checkpointed pipeline
    // fails here even though the final plan never shows the kernel.
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val s = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p                        => p.toString
        }
        if (s.contains("minhash_bands")) captured.add(s)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      q("q41_dedup_minhash_lsh").collect()
      // the listener bus is async — poll for the checkpoint plan
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime < deadline) Thread.sleep(50)
      assert(!captured.isEmpty,
        "no executed plan containing minhash_bands was captured while running q41")
      import scala.jdk.CollectionConverters._
      val starred = captured.asScala
        .flatMap(_.linesIterator).filter(_.contains("minhash_bands")).toList
      assert(starred.forall(_.trim.matches("""[+:\-\s]*\*\(\d+\).*""")),
        s"minhash_bands must sit inside a WholeStageCodegen span in q41's own " +
          s"checkpoint plan:\n${starred.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  scaleTest("q41/q42: signature kernels run inside whole-stage codegen") {
    // the kernels exist to replace interpreted HOF lambdas — if a
    // plan change ever pushes them out of a WholeStageCodegen span
    // (e.g. behind a CodegenFallback wrapper) the win silently
    // reverts. AQE finalizes codegen stages at execution, so collect
    // first; codegen'd operators print with a "*(id)" prefix.
    //
    // q41's minhash_bands pin above asserts on the listener-captured
    // checkpoint plan; the sigProbe here additionally pins the
    // directly-built tokenSet→minhash_bands pipeline, and q42's
    // simhash stays pinned through the full query.
    val sigProbe = Tables.docs(spark, sf()).filter(col("lang") === "en")
      .select(col("doc_id"),
        graft.functions.Portable.tokenSet(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
    Seq(sigProbe -> "minhash_bands",
        q("q42_dedup_simhash") -> "simhash32").foreach { case (df, fn) =>
      df.collect()
      val starred = planString(df).linesIterator
        .filter(_.contains(fn)).toList
      assert(starred.nonEmpty && starred.forall(_.trim.matches("""[+:\-\s]*\*\(\d+\).*""")),
        s"$fn must sit inside a WholeStageCodegen span:\n${starred.mkString("\n")}")
    }
  }

  scaleTest("q101: packing cumsum windows are bucket-partitioned, never global") {
    val s = q("q101_pack_sequences").queryExecution.executedPlan.toString
    // every Window operator must carry a partition spec (__bkt);
    // an empty partitionBy would funnel the corpus through one task
    val windows = "Window \\[".r.findAllIn(s).toList
    assert(windows.nonEmpty, "expected a windowed running sum")
    assert(s.contains("__bkt"), s"window must partition by the hash bucket:\n${s.take(2000)}")
    assert(!s.contains("SinglePartition"),
      s"no stage may collapse to a single partition:\n${s.take(2000)}")
  }

  scaleTest("q103: benchmark fingerprint set probes as a broadcast join") {
    val df = q("q103_contamination_check")
    df.collect()
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"),
      s"tiny bench-shingle side must broadcast:\n${s.take(2000)}")
  }

  scaleTest("q110: every dimension of the snowflake joins as a broadcast, part filter pushed") {
    val df = q("q110_profit_by_nation_year")
    df.collect()
    val s = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3,
      s"part/supplier/nation must broadcast:\n${s.take(2000)}")
    val scan = q("q110_profit_by_nation_year").queryExecution.executedPlan.toString
    assert(scan.contains("LessThanOrEqual(p_size,25)"),
      "part filter must reach the parquet scan")
  }

  scaleTest("q113: bloom prescreen filters the fact scan BEFORE the semi join") {
    val s = q("q113_bloom_join_prescreen").queryExecution.executedPlan.toString
    // the UDF filter must sit under the join, directly over the
    // lineitem scan — that is the entire point of the prescreen
    val joinIdx = s.indexOf("LeftSemi")
    assert(joinIdx >= 0, s"expected a semi join:\n${s.take(2000)}")
    assert(s.indexOf("UDF(", joinIdx) > joinIdx,
      s"bloom UDF filter must appear below the semi join:\n${s.take(2000)}")
  }

  scaleTest("q116: kNN candidate pass broadcasts the query set (no candidate shuffle)") {
    val df = q("q116_knn_classify")
    df.collect()
    val s = planString(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n${s.take(2000)}")
  }

  scaleTest("q126: BM25 is one-pass — a single token explode, stats broadcast, no SMJ") {
    val df = q("q126_bm25_search")
    df.collect()
    val s = planString(df)
    // the fixed term list folds tf into the per-doc aggregate: the
    // token stream must explode exactly once, the corpus-stats row
    // must broadcast, and no join may shuffle the corpus
    assert("Generate".r.findAllIn(s).size == 1,
      s"token stream must explode exactly once:\n${s.take(2000)}")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"stats row must broadcast:\n${s.take(2000)}")
    assert(!s.contains("SortMergeJoin"),
      s"BM25 must not shuffle-join the corpus:\n${s.take(2000)}")
  }

  scaleTest("q182: k-means assignment broadcasts centroids, never shuffle-joins vectors") {
    val df = q("q182_kmeans_lloyd")
    df.collect()
    val s = planString(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"centroids must broadcast into the assignment:\n${s.take(2000)}")
    assert(!s.contains("SortMergeJoin"),
      s"no vectors-side shuffle join in Lloyd assignment:\n${s.take(2000)}")
  }

  scaleTest("q183: temperature-mix rate table broadcasts; the corpus never shuffle-joins") {
    val df = q("q183_temperature_mix")
    df.collect()
    val s = planString(df)
    assert(!s.contains("SortMergeJoin"),
      s"per-language rates are O(#langs) rows and must broadcast:\n${s.take(2000)}")
  }

  scaleTest("q130: DSIR ratio table joins as a broadcast (fixed 64 rows at any scale)") {
    val df = q("q130_dsir_importance")
    df.collect()
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"),
      s"bucket-ratio join must broadcast:\n${s.take(2000)}")
  }

  // --- bench-cost tripwires: the most expensive registry queries get
  // their plan shape pinned so a future regression fails here, not as
  // a bench mystery. (q91/q56, the other top-cost entries, are real
  // Structured Streaming runs whose wall time is micro-batch fixed
  // overhead — there is no batch plan to pin; StreamingSpec covers
  // their results.)

  scaleTest("q88: both snapshot windows share ONE user_id shuffle, no global sort spill") {
    val df = q("q88_latest_snapshot")
    df.collect()
    val s = planString(df)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(s).size == 1,
      s"row_number and count windows must reuse one user_id exchange:\n${s.take(2500)}")
  }

  scaleTest("q86: per-order algebraization holds — one window, broadcast supplier, top-k") {
    val df = q("q86_waiting_suppliers")
    df.collect()
    val s = planString(df)
    // the two window columns (nsupp, nslow) may print as separate
    // Window operators, but they must share ONE orderkey-only
    // exchange (the (l_orderkey, l_suppkey) aggregate exchange also
    // starts with l_orderkey — exclude it by matching the full key
    // list) — i.e. no return of the semi/anti self-join fan
    assert("Exchange hashpartitioning\\(l_orderkey#\\d+L?, \\d+\\)".r.findAllIn(s).size == 1,
      s"windows must share one orderkey exchange (no self-join fan):\n${s.take(2500)}")
    assert(s.contains("BroadcastHashJoin"),
      s"supplier dim must broadcast:\n${s.take(2500)}")
    assert(s.contains("TakeOrderedAndProject"),
      s"LIMIT 10 must plan as top-k, not a full sort:\n${s.take(2500)}")
  }

  scaleTest("q89: rollup plans as Expand + partial/final aggregate pair") {
    val s = q("q89_grouping_flags").queryExecution.executedPlan.toString
    assert(s.contains("Expand"), "rollup grouping sets must use Expand")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"expected partial+final HashAggregate:\n${s.take(2000)}")
  }

  scaleTest("q66: IVF search broadcasts centroids and query set; distance is codegen'd") {
    val df = q("q66_ivf_search")
    df.collect()
    val s = planString(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"centroid/query sides must broadcast — candidates never shuffle:\n${s.take(2500)}")
    assert(s.contains("vecdist2"), "distance must be the codegen'd kernel")
  }

  scaleTest("q60: sketch aggregate never sees a multi-distinct Expand") {
    val df = q("q60_approx_aggregates")
    df.collect()
    val s = planString(df)
    // two COUNT(DISTINCT x) in one aggregate trigger Catalyst's
    // Expand (3x every input row) and drag the percentile/HLL sketch
    // buffers through the widened shuffle — measured 6x the query.
    // The split shape (sketches in one pass, each exact distinct as
    // its own two-level aggregate, 3-row joins) must stay Expand-free.
    assert(!s.contains("Expand"),
      s"q60 must keep sketches out of a distinct Expand:\n${s.take(2500)}")
    assert(s.contains("BroadcastHashJoin"),
      s"3-row aggregate joins must broadcast:\n${s.take(2500)}")
  }

  scaleTest("q137: HAVING scalar subquery decorrelates (no per-group re-execution)") {
    val df = q("q137_group_share_threshold")
    df.collect()
    val s = planString(df)
    // the global-total subquery must appear as one extra aggregate
    // (scalar subquery / broadcast), not a correlated per-group loop
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"expected decorrelated aggregate pair:\n${s.take(2000)}")
  }

  scaleTest("q205/q207: cut-point and centroid frames broadcast into the fact pass") {
    for (name <- Seq("q205_label_outliers", "q207_winsorized_stats")) {
      val df = q(name)
      df.collect()
      val s = planString(df)
      assert(s.contains("BroadcastHashJoin"),
        s"$name must broadcast its tiny stats frame:\n${s.take(2000)}")
      assert(!s.contains("SortMergeJoin"),
        s"$name must not sort-merge the fact table against a stats frame:\n${s.take(2000)}")
    }
  }

  scaleTest("q214: sweep-line cumsum plans with NO partition-less window over the data") {
    val df = q("q214_concurrency_sweep")
    df.collect()
    val s = planString(df)
    // Dist.globalCumsumBy windows WITHIN __pid buckets; a bare
    // `Window [..ORDER BY..]` with an empty partition spec would
    // funnel every boundary through one task at scale
    val bare = "Window \\[[^\\]]*\\], \\[\\]".r
    assert(bare.findFirstIn(s).isEmpty,
      s"q214 must not plan a partition-less window:\n${s.take(2500)}")
  }

  scaleTest("q216: each BPE round applies its merge as a broadcast, never a shuffle join") {
    // the returned frame is five pinned 1-row rules (checkpoint
    // rotation — Tokenizers.scala), so the plan to pin is the
    // in-round building block: the 1-row merge rule must reach the
    // corpus-wide replace pass as a broadcast, never a shuffle
    import org.apache.spark.sql.functions._
    val corpus = Tables.docs(spark, sf())
      .select(concat(lit(" "),
        regexp_replace(col("text"), "(.)", "$1 ")).as("sy"))
    val rule = corpus.limit(1).select(lit("a b").as("mp"))
    val round = corpus.crossJoin(broadcast(rule))
      .select(expr("replace(sy, concat(' ', mp, ' '), ' ')").as("sy"))
    val s = round.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"the merge rule must broadcast:\n${s.take(2500)}")
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"the 1-row merge rule must broadcast into the corpus pass:\n${s.take(2500)}")
    // and the full query's returned plan stays shuffle-join-free
    val df = q("q216_bpe_train")
    df.collect()
    val full = planString(df)
    assert(!full.contains("SortMergeJoin") && !full.contains("ShuffledHashJoin"),
      full.take(2500))
  }

  scaleTest("q199: exact top-20 inside the sketch audit plans as TakeOrdered, panel is bounded") {
    // the returned frame is the 20-row driver-built panel — it must
    // be a LocalTableScan (nothing data-proportional flows out) …
    val s = q("q199_heavy_hitters_cms").queryExecution.executedPlan.toString
    assert(s.contains("LocalTableScan"), s.take(1500))
    // … and the top-20 building block the fn runs internally must be
    // a TakeOrderedAndProject over grouped counts, not a global sort
    import org.apache.spark.sql.functions._
    val toks = Tables.docs(spark, sf())
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("token"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(20)
    assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      top.queryExecution.executedPlan.toString.take(1500))
  }

  scaleTest("q232: top-100 rank windows run under WindowGroupLimit (partial top-k before the sort)") {
    // the per-query rank windows would be the scale hazard of RRF —
    // InferWindowGroupLimit turns the rn <= 100 filter into a
    // per-partition partial top-k BEFORE the window sort, so each
    // modality ships at most 100 rows per query per input partition
    // instead of the whole corpus through one sort
    val df = q("q232_rrf_fusion")
    df.collect()
    val s = planString(df)
    assert(s.contains("WindowGroupLimit"),
      s"rank filters must push a group limit under the window:\n${s.take(3000)}")
  }

  scaleTest("q142: each PageRank round is ONE edge-sized equi-join plus one node-sized contrib join") {
    // the r10 rework keeps the pinned edge table at two LONG columns
    // (no strings, no deg) and folds pr/deg into a node-sized contrib
    // table per round: the unrolled 3-round plan must contain exactly
    // 6 equi-joins — per round, contrib = pr ⋈ deg (both node-sized)
    // and the single edge-sized join (pinned sym ⋈ contrib). A
    // regression that re-joins deg against the EDGE table would keep
    // the count at 6 but put deg on the big side — pinned below by a
    // TREE assertion: every equi-join side that is the bare
    // checkpointed edge relation (an RDD scan with no join and no
    // aggregate in its subtree) must have a JOIN in its partner's
    // subtree (contrib = pr ⋈ deg) — a bare deg AGGREGATE partner
    // fails. r14: the 1-row n frame is GONE from the plan entirely —
    // the node count rides the deg pin action as an observed metric
    // and enters the plan as a literal, so the 4 former
    // BroadcastNestedLoopJoin crossJoins must not reappear; and at
    // this SF the node count clears the Bcast gate, so every
    // node-sized join side carries an explicit broadcast hint and NO
    // round stages the edge side into a shuffle (zero SMJ/SHJ).
    val df = q("q142_pagerank_purchases")
    df.collect()
    val s = planString(df)
    val equi = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(s).size
    assert(equi == 6,
      s"expected exactly 6 equi-joins (edge + contrib per round), got $equi:\n${s.take(3000)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(s).isEmpty,
      s"the 1-row n frame must stay out of the plan (observed metric, r14):\n${s.take(3000)}")
    assert("(SortMergeJoin|ShuffledHashJoin)".r.findAllIn(s).isEmpty,
      s"below the Bcast node gate no round may exchange the edge side:\n${s.take(3000)}")
    // tree walk (recursing through AQE stages + reused exchanges):
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def kids(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec       => Seq(qs.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case o                        => o.children
    }
    def collectAll(n: SparkPlan)(p: SparkPlan => Boolean): Seq[SparkPlan] =
      (if (p(n)) Seq(n) else Nil) ++ kids(n).flatMap(collectAll(_)(p))
    val root = df.queryExecution.executedPlan
    val equiJoins = collectAll(root) {
      case _: BroadcastNestedLoopJoinExec => false
      case _: BaseJoinExec                => true
      case _                              => false
    }.map(_.asInstanceOf[BaseJoinExec])
    // the EDGE relation is the RDD scan that carries a `dst` column
    // (deg's scan carries src/deg and, since r14, seeds pr0 bare —
    // the n-frame crossJoin that used to sit above it is gone)
    val bareEdgeSides = for {
      j <- equiJoins
      (side, other) <- Seq((j.left, j.right), (j.right, j.left))
      if collectAll(side)(x =>
        x.isInstanceOf[BaseJoinExec] || x.isInstanceOf[BaseAggregateExec]).isEmpty &&
        collectAll(side)(x => x.isInstanceOf[RDDScanExec] &&
          x.output.exists(_.name == "dst")).nonEmpty
    } yield (j, other)
    assert(bareEdgeSides.size >= 3,
      s"expected the checkpointed edge relation as a bare equi-join side once per " +
        s"round, found ${bareEdgeSides.size}:\n${s.take(3000)}")
    bareEdgeSides.foreach { case (j, other) =>
      assert(collectAll(other)(_.isInstanceOf[BaseJoinExec]).nonEmpty,
        s"the checkpointed edge relation's join partner must be the node-sized " +
          s"contrib JOIN (pr ⋈ deg), not a bare deg aggregate:\n$j")
    }
  }

  scaleTest("q235: multi-probe LSH candidates join on bucket EQUALITY (hash join, no nested loop)") {
    // the multi-probe expansion lives on the TINY query side exactly
    // so the corpus-side candidate join stays a broadcast HASH join
    // on the bucket key — a hamming-distance join predicate would
    // plan as BroadcastNestedLoopJoin and score every corpus row at
    // 100 TB
    val df = q("q235_fused_retrieval_indexed")
    df.collect()
    val s = planString(df)
    assert("BroadcastHashJoin \\[bucket#".r.findFirstIn(s).isDefined,
      s"index probe must be a hash equi-join on the bucket key:\n${s.take(3000)}")
    // (the plan DOES contain one BroadcastNestedLoopJoin — the
    // brute-force recall-audit crossJoin, same shape as q232/q48;
    // the serving-path probe join above is the one that must not be)
    assert(s.contains("WindowGroupLimit"),
      s"candidate rank filters must push a group limit under the window:\n${s.take(3000)}")
  }

  scaleTest("q229: bucketed tables join with ZERO exchanges (SMB co-location)") {
    // run the operator once so both bucketed tables exist, then pin
    // the join plan with broadcast disabled: bucket specs must match
    // and neither side may shuffle — the entire point of paying the
    // bucketed write once
    q("q229_bucketed_colocated_join").collect()
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      val s = j.queryExecution.executedPlan.toString
      assert(s.contains("SortMergeJoin"), s.take(2000))
      assert(!s.contains("Exchange"),
        s"bucketed sides must not shuffle:\n${s.take(2000)}")
      assert(s.contains("SelectedBucketsCount") || s.contains("Bucketed: true"),
        s"scan must be bucket-aware:\n${s.take(2000)}")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  scaleTest("C9: ANALYZE column stats flip a shuffle join to broadcast (CBO in the plan)") {
    // the (D)-surface promise of Warehouse.analyze is not "stats are
    // recorded" but "the optimizer USES them": without stats the
    // filtered dimension's size estimate is its on-disk bytes (281 KB
    // here) and broadcast is blocked; after ANALYZE ... FOR ALL
    // COLUMNS, CBO's filter estimation (rowCount / NDV) shrinks the
    // estimate below the threshold and the same query plans a
    // BroadcastHashJoin. Asserted on the pre-AQE sparkPlan so the
    // decision measured is the stats-driven one, not AQE's runtime
    // rescue.
    import org.apache.spark.sql.functions._
    val wh = new catalog.Warehouse(spark)
    wh.drop("cbo_orders")
    val loc = new org.apache.hadoop.fs.Path(
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse/cbo_orders")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    wh.createManaged("cbo_orders", Tables.t(spark, sf("sf0.01"), "orders"))
    val conf = spark.conf
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.cbo.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
      def plan: String = {
        val dim = spark.table("cbo_orders").filter(col("o_custkey") === 7)
        Tables.t(spark, sf("sf0.01"), "lineitem")
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .queryExecution.sparkPlan.toString
      }
      val before = plan
      assert(before.contains("SortMergeJoin") || before.contains("ShuffledHashJoin"),
        s"without stats the byte-size estimate must block broadcast:\n${before.take(2000)}")
      wh.analyze("cbo_orders")
      val after = plan
      assert(after.contains("BroadcastHashJoin"),
        s"ANALYZE row/NDV stats must shrink the filtered dim under the threshold:\n${after.take(2000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  scaleTest("q246: the hot-key frame is a TakeOrdered — bounded broadcast by construction") {
    // ADVICE r7 #2: an absolute count cut grows with the key space;
    // the top-K form plans as TakeOrderedAndProject, so the broadcast
    // side is <= K rows at ANY corpus size — visible in the plan
    val s = planString(q("q246_hybrid_skew_join"))
    assert(s.contains("TakeOrderedAndProject"),
      s"hot keys must come from a top-K, not a filter:\n${s.take(1500)}")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "hot route must broadcast the bounded dim")
  }

  scaleTest("q258: all four prefix cosines come from ONE probe-corpus scoring pass") {
    // the audit's cost model: prefix dots share the scan — a plan
    // with one join per prefix length would scale 4x worse
    val s = planString(q("q258_matryoshka_prefix_recall"))
    // the scoring join ran ONCE at localCheckpoint time, so the final
    // plan must contain NO probe x corpus join at all — every per-d
    // audit reads the shared materialized scoring RDD instead
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(s).length +
      "CartesianProduct".r.findAllIn(s).length
    assert(nlj == 0,
      s"per-d audits must not re-derive the scoring join, found $nlj:\n${s.take(1500)}")
    val rddScans = "Scan ExistingRDD".r.findAllIn(s).length
    assert(rddScans >= 4,
      s"all four prefix audits must read the checkpointed scoring pass, found $rddScans scans")
  }

  scaleTest("q266: CDC chunking generates BEFORE any exchange (no token-level shuffle)") {
    // the whole point of row-local HOF chunking: the only rows that
    // ever shuffle are (lang, 60-bit hash, nc) chunk rows, never
    // token-level rows. In the plan: the Generate (explode of the
    // chunk structs) must sit BELOW the first Exchange.
    val df = q("q266_cdc_chunk_dedup")
    df.collect()
    val s = planString(df)
    val gen = s.indexOf("Generate explode")
    assert(gen >= 0, s"expected a Generate in the plan:\n${s.take(1500)}")
    // plan strings print top-down (root first), and q266 is a single
    // chain — everything AFTER the Generate is its input subtree. The
    // ONLY exchange allowed there is Tables.docs' round-robin
    // repartition of the raw DOC rows (parallelizing the single-row-
    // group fixture file); chunk/token rows must never shuffle
    val below = s.substring(gen)
    val exchanges = "Exchange \\w+".r.findAllIn(below).toList
    assert(exchanges.forall(_.contains("RoundRobinPartitioning")),
      s"only the doc-scan repartition may sit below the chunk explode, found $exchanges:\n${below.take(1500)}")
    // both aggregations are partial+final pairs (map-side combine on
    // the chunk-hash rollup: duplicate chunks collapse before the wire)
    assert("HashAggregate".r.findAllIn(s).length >= 4,
      s"expected partial+final HashAggregate pairs:\n${s.take(1500)}")
  }

  scaleTest("q267: the top-k merge never joins — two window passes, no fact re-scan") {
    val s = planString(q("q267_topk_view_maintenance"))
    assert(!s.contains("Join"), // refresh = union + re-rank, join-free
      s"top-k IVM must not join:\n${s.take(1500)}")
    // WindowGroupLimit pushes rank<=5 below the sort (partial top-k
    // per partition BEFORE the per-key shuffle)
    assert(s.contains("WindowGroupLimit"),
      s"rank filter must push down as WindowGroupLimit:\n${s.take(1500)}")
  }

  scaleTest("q268: probe joins broadcast the 20-query side; posting list never re-shuffles") {
    val df = q("q268_filtered_ivf_search")
    df.collect()
    val s = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(s).length >= 2,
      s"cell probe and recall audit must broadcast the query side:\n${s.take(1500)}")
    // index built once: assignment pass is checkpointed, so the plan
    // reads the materialized RDD instead of re-running the centroid
    // cross join per consumer
    assert("Scan ExistingRDD".r.findAllIn(s).length >= 3,
      s"posting list/probe/exact sides must share the checkpointed index:\n${s.take(1500)}")
  }

  scaleTest("q269: the stored session view materializes once and feeds both refresh paths") {
    val df = q("q269_session_view_maintenance")
    df.collect()
    val s = planString(df)
    // stored is localCheckpoint(true): merged + untouched branches
    // must read it as an RDD scan, not re-sessionize the fact twice
    assert("Scan ExistingRDD".r.findAllIn(s).length >= 2,
      s"both refresh branches must read the stored view:\n${s.take(1500)}")
    assert(!s.contains("SortMergeJoin"),
      s"affected-user routing must stay broadcast-sized:\n${s.take(1500)}")
  }

  // --- below the gate: every fixture is, so these run with the rule

  test("below the gate the eight HiveQL queries plan with no exchange and no broadcast") {
    hiveQl.foreach { n =>
      val df = Q.byName(n).fn(spark, sf("sf0.01"))
      df.collect() // finalize AQE
      val s = planString(df)
      assert(!s.contains("Exchange") && !s.contains("Broadcast"), s"$n:\n${s.take(3000)}")
      assert(s.contains("Coalesce 1"), s"$n:\n${s.take(3000)}")
    }
  }

  test("below the gate q02's scan keeps its pushed filters and pruned read schema") {
    val df = Q.byName("q02_filter_predicates").fn(spark, sf("sf0.01"))
    df.collect()
    val s = planString(df)
    assert(s.contains("PushedFilters: [Or(And(And(And(In(o_orderstatus, [F,O])"),
      s"the predicate must reach the scan:\n$s")
    assert(s.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderpriority:string>"), s"only the four read columns:\n$s")
  }

  test("above the gate the rule leaves the plan as it is (sf0.1 lineitem)") {
    // what withoutSmallInputs stands in for: a query over an input the
    // gate keeps out plans the same with the rule and without it
    def plans(df: => DataFrame) = {
      val qe = df.queryExecution
      (planText(qe.optimizedPlan), planText(qe.sparkPlan))
    }
    Seq("q01_pricing_summary", "q16_distinct_aggregates").foreach { n =>
      val build = Q.byName(n).build
      val on = plans(build(spark, sf("sf0.1")))
      val off = withoutSmallInputs(plans(build(spark, sf("sf0.1"))))
      assert(on == off, n)
      assert(!on._1.contains("Repartition 1, false"), s"$n:\n${on._1}")
    }
  }
}
