package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every registry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query wall
  * seconds.
  *
  * Methodology: a warmup pass (cheap scan + one full query) absorbs
  * JVM/codegen/session start-up so per-query numbers measure the
  * query, not the first-run tax; queries run in sorted name order for
  * stable attribution; results are materialized through the noop sink
  * so sorts/projections are NOT optimized away the way a bare count()
  * would allow. Each run goes through [[Q.run]], which releases the
  * query's pins after the timer stops; nothing clears the session.
  */
object Bench {

  /** FROZEN envelope denominator (VERDICT r5 #3): the r1 headline
    * set — the 70 queries of the first recorded BENCH_r01 run minus
    * the two demoted quadratic baselines (q40, q67; `Q.baselines`).
    * BASELINE.md's 2× rule is only meaningful against a stable
    * query population, so this list never changes as the registry
    * grows; `total_headline` in the emitted JSON is the number to
    * hold within the envelope (r1: ~64 s; r5 isolated: 29.3 s).
    */
  val headline: Set[String] = Set(
    "q01_pricing_summary", "q02_filter_predicates",
    "q03_join_orders_customers", "q04_revenue_by_nation",
    "q05_left_join_customer_orders", "q06_full_outer_nation_counts",
    "q07_semi_join_parts_sold", "q08_anti_join_idle_customers",
    "q09_cross_join_regions", "q10_nonequi_nation_pairs",
    "q11_range_join_ship_lag", "q12_set_operations", "q13_rollup_orders",
    "q14_cube_orders", "q15_grouping_sets_customer",
    "q16_distinct_aggregates", "q17_having_brand_share",
    "q18_collect_set_segments", "q19_percentiles_quantity",
    "q20_column_stats_lineitem", "q21_window_rank_top_customers",
    "q22_window_lag_order_gaps", "q23_window_frames_running",
    "q24_window_range_frame", "q25_topk_orders",
    "q26_topk_parts_per_brand", "q27_window_distribution",
    "q28_string_functions", "q29_datetime_functions", "q30_math_functions",
    "q31_conditional_buckets", "q32_json_extract_events",
    "q33_hash_functions", "q34_tumbling_window", "q35_sliding_window",
    "q36_session_window", "q37_asof_last_click", "q38_event_dedup_first",
    "q39_dedup_exact", "q41_dedup_minhash_lsh", "q42_dedup_simhash",
    "q43_ngram_jaccard", "q44_token_stats_by_lang", "q45_lang_id_profile",
    "q46_quality_score", "q47_fingerprint_shingles",
    "q48_cosine_topk_bruteforce", "q49_label_centroids",
    "q50_nearest_centroid_confusion", "q51_ann_lsh_hyperplane",
    "q52_multimodal_join", "q53_schema_preview_documents",
    "q54_media_metadata", "q54b_media_frame_sample",
    "q55_media_decode_features", "q56_stream_tumbling_counts",
    "q57_stateful_sessionize", "q58_map_functions", "q59_udf_udaf",
    "q60_approx_aggregates", "q61_limit_offset", "q62_from_json_struct",
    "q63_pivot_status", "q64_correlated_subquery",
    "q65_lateral_view_explode", "q66_ivf_search", "q68_setops_all",
    "q69_window_nth_value")

  /** Host-drift canary (VERDICT r8 #3): a FROZEN synthetic workload —
    * no fixture I/O, no registry code — timed alongside every sweep.
    * headline-68 crept 29.3 → 33.7 s across r5→r8 with each step
    * attributed in prose to host drift; this makes the attribution
    * measurable inside the artifact itself: the canary touches
    * nothing that evolves round-to-round (range → xxhash64 →
    * 1000-key aggregate), so if `total_headline / canary_sec` is
    * stable across rounds the creep is the host, and if the ratio
    * moves the code did. NEVER change this workload — like the
    * headline-68 set, it is only meaningful frozen.
    */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000000L, 1L, 32)
      .selectExpr("id % 1000 AS k", "xxhash64(id) % 1000000 AS h") // mod: ~1e6 summands/key, |sum| <= ~1e12, far from Long overflow under ANSI
      .groupBy("k").agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** AQE coalescing floor, derived from the INPUT size (guide §2,
    * "make partitioning scale-adaptive — derive from input size"):
    * `clamp(totalInputBytes / 64, 64k, 1m)`. Rationale: with
    * `parallelismFirst` the coalesce target is
    * max(total/parallelism, THIS), and the right floor trades
    * per-task scheduling overhead against per-core ROW density —
    * derived shuffles are roughly proportional to input rows, so the
    * floor should shrink with the input. Measured A/B on the full
    * 292-query sweep: at sf0.1 (17 MB input) a 256k floor beats the
    * 1 MB default by ~5 s canary-adjusted (CPU-dense final
    * aggregates like q275's pair agg collapse to ONE task under
    * 1 MB: 1 MB of compressed packed longs is millions of rows); at
    * sf10 (2.1 GB) the small floor is actively harmful (q160 65.7 s
    * @ 256k vs 37.7 s @ 1m, tight spreads) — hence the clamp to
    * Spark's default at ≥64 MB of input. An input that cannot be
    * sized (missing or unreadable) gets Spark's default too, never the
    * small floor.
    */
  def coalesceFloor(sfDir: String): String = {
    val bytes =
      try {
        val d = new java.io.File(sfDir)
        def size(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(size).sum else f.length()
        if (d.exists) size(d) else Long.MaxValue
      } catch { case _: Exception => Long.MaxValue }
    math.min(math.max(bytes / 64, 65536L), 1048576L).toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // build and write inside the timer: eager queries (the CC loop,
    // the streaming twins) do their work while they are built
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      Q.byName(name).run(spark, sfDir) { df =>
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }

    // Warmup: touch every fixture file + run one representative query.
    // Guarded: a broken fixture must not prevent the contract JSON
    // line from being printed.
    try {
      Tables.all.foreach(n => Tables.t(spark, sfDir, n).count())
      timed("q01_pricing_summary")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // Best of 2 runs per query: single-JVM timings on a shared host
    // carry scheduler/GC jitter; the min reflects steady-state cost.
    // The per-query relative spread (max/min - 1) is emitted alongside
    // so co-tenant noise is distinguishable from plan regression in
    // the artifact itself: a slow query with a large spread was
    // interfered with; a slow query with a tight spread got slower.
    // SPARK_GRAFT_BENCH_RUNS (default 2) exists for the big scale-up
    // fixtures, where a second pass of an hour-long sweep buys little.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(2)
    // SPARK_GRAFT_ONLY (comma-separated names): time a targeted subset
    // — e.g. re-measuring two iterative graph queries at sf10 without
    // paying the full registry sweep. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val names = Q.registry.map(_.name)
      .filter(n => only.forall(_.contains(n))).sorted
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = names.map { name =>
      val times = (1 to runs).map { _ =>
        // the time stops when the write ends, so the release of the
        // query's pins by Q.run falls outside it: block bookkeeping
        // isn't query cost
        try timed(name)
        catch { case e: Throwable =>
          if (failed.add(name))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
      }
      // -1 sentinel: a crashed query must not report its (near-zero)
      // failure time as if it ran.
      if (failed.contains(name)) (name, -1.0, -1.0)
      else (name, times.min, math.rint((times.max / times.min - 1) * 1000) / 1000)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, _, sp) => "\"" + k + "\":" + sp }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val totalHeadline = results
      .collect { case (n, v, _) if v >= 0 && headline.contains(n) => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // best-of-3 canary, timed AFTER the sweep so it sees the same
    // JVM/codegen state the late queries did
    val canarySec = (1 to 3).map(_ => canary(spark)).min
    val line = s"""{"metric":"total","value":$total,"unit":"sec","total_headline":$totalHeadline,"canary_sec":$canarySec,"queries":$qs,"spread":$spread,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout with tail truncation, which cut the
    // summary line off BENCH_r13.json — the canonical artifact must be
    // parseable on its own (VERDICT r13 #5), so the line is ALSO written
    // to a file (SPARK_GRAFT_BENCH_OUT, default bench_summary.json).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_summary.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Streaming twins leave active queries + state-store maintenance
    // threads behind; stopping them before spark.stop() keeps the tail
    // free of the shutdown "SparkEnv not active" IllegalStateException
    // (VERDICT r13 #5 — harmless, but the artifact should be clean).
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    // The maintenance thread outlives the queries; shut the state-store
    // coordinator down while SparkEnv is still alive.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }
}
