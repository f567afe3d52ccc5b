package graft

import graft.streaming.EventStreams

/** Unified-model checks: each Structured Streaming operator's output
  * against its batch twin over the same fixture.
  */
class StreamingSpec extends SparkSpec {

  private def batch(name: String) =
    Q.registry.find(_.name == name).get.fn(spark, sf())

  test("streaming sliding windows equal the batch result") {
    val stream = EventStreams.slidingCounts(spark, sf())
    val b = batch("q35_sliding_window")
    assert(stream.count() == b.count())
    assert(stream.exceptAll(b.select("wstart", "n", "sum_value")).isEmpty)
  }

  test("stream-static enrichment join equals its batch twin") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.enrichedTumblingCounts(spark, sf())
    val segments = spark.range(0, 100)
      .select(col("id").as("seg_user"), (col("id") % 3).cast("int").as("segment"))
    val b = Tables.events(spark, sf())
      .join(broadcast(segments), col("user_id") === col("seg_user"))
      .groupBy(window(col("ts"), "60 minutes"), col("segment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("segment"), col("n"), col("sum_value"))
    assert(stream.count() == b.count())
    assert(stream.exceptAll(b).isEmpty)
  }

  test("foreachBatch parquet sink snapshot equals the batch result") {
    val out = java.nio.file.Files.createTempDirectory("graft-feb").toString + "/snap"
    val snap = EventStreams.tumblingCountsToParquet(spark, sf(), out)
    val b = batch("q34_tumbling_window")
    assert(snap.count() == b.count())
    assert(snap.exceptAll(b.select("wstart", "event_type", "n", "sum_value")).isEmpty)
  }

  test("dropDuplicatesWithinWatermark keeps one event per key in-window") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.dedupFirstPerUserType(spark, sf())
    val keys = Tables.events(spark, sf())
      .select("user_id", "event_type").distinct().count()
    // exactly-once per key within the watermark: with the whole fixture
    // in one micro-batch every key dedups to a single row
    assert(stream.count() == keys)
    assert(stream.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("streaming sessionization emits a closed subset of batch sessions") {
    val stream = EventStreams.sessionCounts(spark, sf())
    val b = batch("q36_session_window").select("user_id", "sstart", "n_events", "sum_value")
    val emitted = stream.count()
    assert(emitted > 0, "watermark should close most sessions over a 30-day fixture")
    assert(stream.exceptAll(b).isEmpty,
      "every emitted session must exist identically in the batch result")
    assert(emitted <= b.count())
  }

  test("multi-batch file stream (maxFilesPerTrigger=1) equals the single-batch result") {
    import org.apache.spark.sql.functions._
    // split the events fixture into 4 files so the file source is
    // FORCED through 4 micro-batches — windowed state must merge
    // partial aggregates across batches, not just within one
    val dir = java.nio.file.Files.createTempDirectory("graft-mbatch").toString
    val src = Tables.events(spark, sf())
    src.repartition(4).write.parquet(s"$dir/events")
    val schema = spark.read.parquet(s"$dir/events").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/events")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("mbatch_spec").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "the source must actually deliver multiple non-empty micro-batches")
    val got = spark.table("mbatch_spec")
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
    val want = batch("q34_tumbling_window")
      .select(col("wstart"), col("event_type"), col("n"), col("sum_value"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "4-batch incremental aggregation must equal the batch answer")
  }

  test("HLL IVM view maintained across micro-batches == batch sketch per key") {
    import org.apache.spark.sql.functions._
    // q255's streaming twin (VERDICT r8 #6): 4 files -> >= 4
    // micro-batch refreshes of the stored per-key sketch view
    val dir = java.nio.file.Files.createTempDirectory("graft-hllivm").toString
    Tables.events(spark, sf())
      .select(col("event_type").as("k"), col("user_id").cast("string").as("v"))
      .repartition(4).write.parquet(s"$dir/ev")
    val schema = spark.read.parquet(s"$dir/ev").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ev")
    val (view, batches) = EventStreams.hllViewMaintenance(stream)
    assert(batches >= 4, s"merge path must run across batches, got $batches")
    val got = view
      .select(col("k"), expr("hll_sketch_estimate(sk)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$dir/ev").groupBy("k")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(v, 12))").as("est"),
        countDistinct(col("v")).as("exact"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.keySet == want.map(_._1).toSet)
    want.foreach { case (k, est, exact) =>
      // batch-split invariance holds for the sketch CONTENT, but the
      // ESTIMATOR path is topology-sensitive past sparse mode (the
      // q255 r11 finding) — pin agreement with a 2% tolerance, which
      // is exact-tight on these sparse-mode keys anyway
      assert(math.abs(got(k) - est) <= math.max(math.round(exact * 0.02), 3L),
        s"stream-maintained view for $k (${got(k)}) drifted >2% from the batch sketch ($est)")
      assert(math.abs(got(k) - exact) <= math.max(math.round(exact * 0.08), 3L),
        s"estimate for $k outside the 8% band vs exact $exact")
    }
  }

  test("histogram IVM view maintained across micro-batches == batch histogram per key") {
    import org.apache.spark.sql.functions._
    // q260's streaming twin: 4 files -> >= 4 micro-batch refreshes of
    // the stored per-(key, bin) histogram; count addition makes
    // batch-split invariance EXACT, so the maintained view must equal
    // the one-shot batch histogram bin for bin — and therefore answer
    // the same median estimate q260 derives from it
    val dir = java.nio.file.Files.createTempDirectory("graft-histivm").toString
    Tables.t(spark, sf(), "orders")
      .select(col("o_orderpriority").as("k"),
        (col("o_totalprice").cast("decimal(18,4)") * 100).cast("long").as("cts"))
      .repartition(4).write.parquet(s"$dir/ord")
    val schema = spark.read.parquet(s"$dir/ord").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/ord")
    val (view, batches) =
      EventStreams.histogramViewMaintenance(stream, 200000L)
    assert(batches >= 4, s"merge path must run across batches, got $batches")
    val got = view.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = spark.read.parquet(s"$dir/ord")
      .select(col("k"), expr("cts div 200000").as("bin"))
      .groupBy("k", "bin").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want,
      "stream-maintained histogram must equal the batch histogram exactly")
  }

  test("streaming content dedup of a document stream matches batch exact dedup") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // documents arriving as a stream (synthetic event time from the
    // id) dedup by the portable content hash with evictable state —
    // the streaming-ingest form of q39's batch exact dedup
    val docs = Tables.t(spark, sf(), "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val deduped = input.toDF().toDF("doc_id", "text")
      // base the synthetic event time in 2024: a row at exactly epoch 0
      // ties the INITIAL watermark and is dropped as late
      .withColumn("ts", expr("timestamp_micros((1704067200 + doc_id) * 1000000)"))
      .withWatermark("ts", "1 hour")
      .withColumn("h", graft.functions.Portable.md5Long(col("text")))
      .dropDuplicatesWithinWatermark("h")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("doc_dedup").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable() // replays span batches
    } finally q.stop()
    val want = Tables.t(spark, sf(), "documents")
      .select("text").distinct().count()
    assert(spark.table("doc_dedup").count() == want,
      "one survivor per distinct content, across micro-batch boundaries")
  }

  test("streaming fixed-cost floor stays bounded (perf lane: GRAFT_PERF_TESTS=1)") {
    // absolute wall-clock bounds flake on a loaded/slower CI host even
    // with ~3x slack (ADVICE r6) — this is a perf-lane test, opt-in
    assume(sys.env.get("GRAFT_PERF_TESTS").contains("1"),
      "perf lane only: set GRAFT_PERF_TESTS=1 to run wall-clock floors")
    // ProfileStreams measured the registry stream queries' steady
    // state (plan + run + state commit + stop). This encodes those
    // floors as bounds so a change that doubles micro-batch overhead
    // fails a test instead of hiding in bench noise. Bounds are ~3x
    // the measured local[4]/sf0.001 steady-state minima (info lines
    // below re-measure every run) — slack for co-tenant noise, tight
    // enough that a 2x fixed-overhead regression trips.
    // measured minima (2026-08, idle machine): q56 0.72, q57 0.17,
    // q80 0.66, q91 0.66, q124 1.74 s
    val bounds = Map(
      "q56_stream_tumbling_counts" -> 2.5,
      "q57_stateful_sessionize" -> 1.0,
      "q80_stream_sliding_counts" -> 2.5,
      "q91_stream_enriched_counts" -> 2.5,
      "q124_stream_stream_join" -> 5.0)
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      Q.byName(n).fn(spark, sf()).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    bounds.keys.foreach(once) // warmup: codegen + state-store + sink init
    val floors = bounds.keys.toSeq.sorted.map(n => n -> (1 to 3).map(_ => once(n)).min)
    floors.foreach { case (n, t) => info(f"$n steady-state $t%.2f s") }
    val over = floors.filter { case (n, t) => t > bounds(n) }
    assert(over.isEmpty,
      over.map { case (n, t) => f"$n floor $t%.2f s > bound ${bounds(n)}%.1f s" }
        .mkString("; "))
  }
}
