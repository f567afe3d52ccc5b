package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import graft.functions.{Portable => P}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

/** Structured Streaming forms of the §2.9 event-time operators. The
  * aggregation expressions are identical to the batch versions in
  * graft.queries.Events — Spark's unified model means the same
  * groupBy(window(...)) plan runs incrementally with state + a
  * watermark. The parquet fixture drives the stream (file source),
  * a memory sink collects the result synchronously for verification.
  *
  * A run leaves nothing on the session: the memory sink's view is named
  * for the run and dropped once its rows are bound, so callers name no
  * sink and two clients can run the same stream on one session at once.
  * The view twins pin through [[graft.Pins]] on the stream's
  * `foreachBatch` thread, which inherits the caller's pin scope.
  */
object EventStreams {

  /** Read the events fixture as a stream, with the same ts
    * normalization as graft.Tables.events.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.eventTs(parquetStream(spark, dir, "events.parquet"))

  /** `dir/file` as a parquet file stream with the batch read's schema.
    * Driver fixtures are one file inside the sf dir: the stream reads
    * `dir` filtered to the file's name. ScaleUp fixtures, and tables on
    * an object store, are a directory of part files: the stream reads
    * the directory. The location's Hadoop status decides, so an
    * `s3a://` directory is one too.
    */
  private def parquetStream(spark: SparkSession, dir: String, file: String): DataFrame = {
    val src = graft.Tables.parquetAt(spark, s"$dir/$file")
    val reader = spark.readStream.schema(src.frame.schema)
    if (src.root.isDirectory) reader.parquet(s"$dir/$file")
    else reader.option("pathGlobFilter", file).parquet(dir)
  }

  /** Tumbling event-time window counts with a watermark, run to
    * completion over the fixture and returned as a static DataFrame.
    */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), P.moneySum(col("value")).as("sum_value"))
    runToCompletion(agg, "complete")
      .select(
        unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Sliding event-time window (T2), streaming form of q35. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), P.moneySum(col("value")).as("sum_value"))
    runToCompletion(agg, "complete")
      .select(unix_timestamp(col("window.start")).as("wstart"), col("n"), col("sum_value"))
  }

  /** Session windows (T3) in append mode: emitted sessions are those
    * the watermark has closed — a strict subset of the batch result
    * (the trailing open session per user stays in state).
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), P.moneySum(col("value")).as("sum_value"))
    runToCompletion(agg, "append")
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("sstart"),
        col("n_events"), col("sum_value"))
  }

  /** Stream-static enrichment join: the event stream joins a STATIC
    * dimension (users bucketed by id range, stand-in for a profile
    * table) before the windowed aggregation. The static side is
    * planned as a broadcast into every micro-batch — the canonical
    * way to enrich a stream without a second stateful operator.
    */
  def enrichedTumblingCounts(
      spark: SparkSession, dir: String): DataFrame = {
    val segments = spark.range(0, 100)
      .select(col("id").as("seg_user"),
        (col("id") % 3).cast("int").as("segment"))
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .join(org.apache.spark.sql.functions.broadcast(segments),
        col("user_id") === col("seg_user"))
      .groupBy(window(col("ts"), "60 minutes"), col("segment"))
      .agg(count(lit(1)).as("n"), P.moneySum(col("value")).as("sum_value"))
    runToCompletion(agg, "complete")
      .select(
        unix_timestamp(col("window.start")).as("wstart"),
        col("segment"), col("n"), col("sum_value"))
  }

  /** T5 streaming dedup: first event per (user_id, event_type) with
    * state bounded by the watermark (dropDuplicatesWithinWatermark —
    * duplicate keys are only guaranteed deduplicated while their
    * event time is within the watermark window, which is exactly the
    * guarantee an at-least-once source needs, with state that can be
    * EVICTED — an unbounded dropDuplicates would grow state forever
    * on an infinite stream).
    */
  def dedupFirstPerUserType(spark: SparkSession, dir: String): DataFrame = {
    val deduped = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"))
    runToCompletion(deduped, "append")
  }

  /** foreachBatch sink — the production pattern for sinks Spark has
    * no native connector for (JDBC upserts, external indexes, multi-
    * table fan-out): each micro-batch arrives as a full batch
    * DataFrame with a monotonic batch id for idempotent writes. Here
    * each batch overwrites a parquet snapshot of the running tumbling
    * aggregate (complete mode), so the final snapshot equals the
    * batch answer — asserted by StreamingSpec.
    */
  def tumblingCountsToParquet(
      spark: SparkSession, dir: String, outPath: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), P.moneySum(col("value")).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
    drain(spark,
      agg.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(outPath)
        })
    graft.Tables.parquet(spark, outPath)
  }

  /** T6 stream-stream interval join: purchases join errors from a
    * SECOND stream on user within a 30-minute window. Both sides
    * carry watermarks, and the join condition bounds event time on
    * both sides, so Spark can size the join state and evict rows the
    * watermark has passed — the only shape a stream-stream join can
    * run with bounded state on an infinite stream. Inner join in
    * append mode emits every match exactly once.
    */
  def purchaseErrorJoin(
      spark: SparkSession, dir: String): DataFrame = {
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = readEvents(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val joined = purchases.join(errors,
      expr("p_user = e_user AND e_ts >= p_ts AND e_ts <= p_ts + INTERVAL 30 MINUTES"))
    runToCompletion(
      joined.select(col("p_id"), col("e_id"), col("p_user").as("user_id")),
      "append")
  }

  /** Event for the custom-state sessionizer. `ts` carries the
    * watermarked event-time column (the stateful operator requires it
    * to stay in the plan); `us` is its micros-since-epoch form the
    * session logic uses.
    */
  final case class SessEvent(
      user_id: Long, ts: java.sql.Timestamp, us: Long, value: Double)

  /** Closed session emitted by the custom-state sessionizer. */
  final case class Session(user_id: Long, sstart: Long, n_events: Long, sum_value: Double)

  /** Open-session state carried across micro-batches. */
  final case class SessState(startUs: Long, lastUs: Long, n: Long, sum: Double)

  private[graft] val GapUs = 1800000000L // 30 minutes

  /** T5 custom state: per-user sessionization via
    * flatMapGroupsWithState with an event-time timeout. Sessions
    * close when the watermark passes lastEvent+gap (timeout) or when
    * a later event arrives beyond the gap; the open session survives
    * in `GroupState` across micro-batches — the semantics
    * session_window provides declaratively, expressed as custom
    * state logic for cases the built-in can't cover (dynamic gaps,
    * per-session enrichment, ...).
    */
  def sessionizeFn(
      uid: Long, events: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[Session] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    def close(st: SessState): Unit =
      out += Session(uid, st.startUs / 1000000L, st.n, st.sum)
    if (state.hasTimedOut) {
      state.getOption.foreach(close)
      state.remove()
    } else {
      var cur = state.getOption
      events.toArray.sortBy(_.us).foreach { e =>
        cur match {
          case Some(st) if e.us - st.lastUs < GapUs =>
            cur = Some(SessState(st.startUs, e.us, st.n + 1, st.sum + e.value))
          case Some(st) =>
            close(st)
            cur = Some(SessState(e.us, e.us, 1L, e.value))
          case None =>
            cur = Some(SessState(e.us, e.us, 1L, e.value))
        }
      }
      cur.foreach { st =>
        state.update(st)
        state.setTimeoutTimestamp(st.lastUs / 1000L + GapUs / 1000L)
      }
    }
    out.iterator
  }

  /** The same sessionizer on transformWithState — Spark 4's successor
    * to flatMapGroupsWithState: named, individually-typed state
    * primitives (ValueState here; ListState/MapState for richer
    * shapes) plus explicit event-time TIMERS instead of a single
    * timeout slot, so one processor can track several deadlines per
    * key. Requires the RocksDB state-store provider (the API's
    * backing-store contract) — [[startWithRocksDb]] scopes it to the
    * start call; the provider class is frozen into the checkpoint
    * like the shuffle-partition count.
    */
  final class TwsSessionizer
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessEvent, Session] {
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[SessState] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessState](
        "sess",
        org.apache.spark.sql.Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def timerMs(st: SessState): Long =
      st.lastUs / 1000L + GapUs / 1000L

    private def close(uid: Long, st: SessState): Session =
      Session(uid, st.startUs / 1000000L, st.n, st.sum)

    override def handleInputRows(
        uid: Long, rows: Iterator[SessEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      var cur = if (sess.exists()) Some(sess.get()) else None
      // the open session's old deadline is superseded by this batch
      cur.foreach(st => getHandle.deleteTimer(timerMs(st)))
      rows.toArray.sortBy(_.us).foreach { e =>
        cur match {
          case Some(st) if e.us - st.lastUs < GapUs =>
            cur = Some(SessState(st.startUs, e.us, st.n + 1, st.sum + e.value))
          case Some(st) =>
            out += close(uid, st)
            cur = Some(SessState(e.us, e.us, 1L, e.value))
          case None =>
            cur = Some(SessState(e.us, e.us, 1L, e.value))
        }
      }
      cur.foreach { st =>
        sess.update(st)
        getHandle.registerTimer(timerMs(st))
      }
      out.iterator
    }

    override def handleExpiredTimer(
        uid: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] =
      if (sess.exists()) {
        val st = sess.get()
        sess.clear()
        Iterator.single(close(uid, st))
      } else Iterator.empty
  }

  /** (N) streaming near-dup ingest filter, stage 1: the documents
    * table as a stream; each doc's MinHash band signatures
    * ([[graft.functions.MinHashBands]], the batch LSH kernel) claim
    * their LSH buckets, and a running stateful aggregate elects the
    * smallest doc_id per bucket — first writer wins at ingest time.
    * State is one row per distinct band signature, the same keyspace
    * the batch LSH join shuffles on; min() makes the election
    * independent of arrival order, so the streamed result equals the
    * batch election (q193's oracle checks exactly that). The memory
    * sink is the harness shape — at production volume the same agg
    * runs in update mode into a keyed store the ingest path probes.
    */
  def docBandWinners(
      spark: SparkSession, dir: String): DataFrame = {
    val sigs = parquetStream(spark, dir, "documents.parquet")
      .select(col("doc_id"), P.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
    val winners = sigs.groupBy("sig").agg(min("doc_id").as("winner"))
    runToCompletion(winners, "complete")
  }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start a stateful-v2 stream with the RocksDB state-store provider
    * held only across planning: start() clones the session conf into
    * the StreamExecution, so — exactly like drain's shuffle-partition
    * swap — the provider is set-and-restored inside the session lock
    * rather than left on the caller's shared session, where it would
    * silently switch every later stateful stream's backing store.
    */
  def startWithRocksDb(
      spark: SparkSession,
      writer: org.apache.spark.sql.streaming.DataStreamWriter[_])
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.synchronized {
      val prev = spark.conf.getOption(ProviderKey)
      spark.conf.set(ProviderKey, RocksDbProvider)
      try writer.start()
      finally prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
    }

  /** [[TwsSessionizer]] over an event stream; same output contract as
    * [[statefulSessions]]. Start the returned stream via
    * [[startWithRocksDb]] — transformWithState requires the RocksDB
    * provider, which is scoped to the start call, not the session.
    */
  def statefulSessionsTws(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    sessionEvents(events)
      .transformWithState(
        new TwsSessionizer,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** `events` under a 30-minute watermark, as [[SessEvent]]s keyed by
    * user: the input of both sessionizers.
    */
  private def sessionEvents(events: DataFrame): KeyValueGroupedDataset[Long, SessEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"), col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
  }

  /** Run the custom-state sessionizer over an event stream. */
  def statefulSessions(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    sessionEvents(events)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionizeFn)
  }

  /** State partition count for the stateful operators. A streaming
    * job sizes this to its stateful KEYSPACE (here O(windows ×
    * event_types) ≈ 10³ keys, so per-partition state-store init and
    * per-batch delta-file checkpointing dominate past a handful of
    * partitions — measured 2.3 s → 1.75 s per query going 32 → 8 on
    * the fixture, and another −0.7 s on the stream-stream join going
    * 8 → 4: that join keeps FOUR state stores per partition), NOT to
    * the batch shuffle width:
    * the count is frozen into the checkpoint at first start,
    * so it is a per-job capacity decision (state bytes / ~100 MB per
    * partition at production volume), never an inherited default.
    */
  private val statePartitions = 4

  /** Global count-min sketch over the stream (complete mode): the
    * sketch aggregation buffer IS the streaming state, merged across
    * micro-batches — the mergeability q199's batch form relies on,
    * exercised through the streaming engine. Returns one row
    * (sketch bytes, total count).
    */
  def cmsOverStream(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .select(get_json_object(col("props"), "$.k").as("k"))
      .groupBy()
      .agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n"))
    runToCompletion(agg, "complete")
  }

  /** Global HLL sketch of (user, event_type) pairs over the stream
    * (complete mode). HLL registers are per-bucket maxima, so
    * micro-batch arrival order cannot change the merged sketch —
    * the streamed estimate must equal the batch estimate exactly
    * (q230 asserts it).
    */
  def hllOverStream(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .select(concat(col("user_id").cast("string"), lit(":"),
        col("event_type")).as("k"))
      .groupBy()
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("est"),
        count(lit(1)).as("n"))
    runToCompletion(agg, "complete")
  }

  /** Streaming twin of q255's HLL-merge view maintenance (VERDICT r8
    * #6): the per-key distinct-count view is maintained ACROSS
    * micro-batches by foreachBatch — each batch folds its rows into
    * per-key HLL sketches (`hll_sketch_agg`) and union-merges them
    * into the STORED view with `hll_union`, which is exactly the
    * Θ(keys)-per-refresh merge a warehouse runs per ingest batch
    * (never re-scanning history). HLL registers are per-bucket
    * maxima, so the maintained SKETCH is invariant to how rows were
    * split into batches — but the ESTIMATE read off it is not a
    * topology invariant past sparse mode (the q255 r11 finding: the
    * estimator path differs between update-built and union-built
    * sketches): StreamingSpec pins stream-maintained vs
    * batch-computed estimates within 2% per key (exact-tight on
    * sparse-mode keys), plus the 8% band vs the exact distinct
    * count. The view frame is checkpoint-rotated per
    * refresh (the stored artifact stays Θ(keys) and lineage O(1));
    * a production run would swap the localCheckpoint for a reliable
    * table write, as q255's batch form stores its (key, half)
    * sketches.
    *
    * @param stream streaming DataFrame with columns `k` (group key)
    *               and `v` (the value whose distincts are counted)
    * @return (final stored view (k, sk binary), non-empty batches)
    */
  def hllViewMaintenance(stream: DataFrame): (DataFrame, Int) =
    maintainView(stream, StructType(Seq(
      StructField("k", StringType), StructField("sk", BinaryType)))) { (stored, batch) =>
      val part = batch.groupBy("k")
        .agg(expr("hll_sketch_agg(v, 12)").as("bsk"))
      stored.join(part, Seq("k"), "full_outer")
        .select(col("k"),
          when(col("sk").isNotNull && col("bsk").isNotNull,
            expr("hll_union(sk, bsk, true)"))
            .otherwise(coalesce(col("sk"), col("bsk"))).as("sk"))
    }

  /** q260's streaming twin (completes the IVM streaming pairings:
    * q230 sketches, q255 HLL views, and now the quantile histogram):
    * the stored per-(key, bin) equi-width histogram — q260's
    * constant-size quantile artifact — maintained across micro-batches
    * by COUNT ADDITION, the histogram's merge operation. Each batch
    * contributes its own partial histogram; the stored view is the
    * running sum, so any refresh can answer the median to within one
    * bin width without replaying the stream. Same rotation discipline
    * as the HLL view (supersede-don't-accumulate).
    *
    * @param stream streaming DataFrame with columns `k` (group key)
    *               and `cts` (exact integer cents)
    * @return (final stored view (k, bin, c), non-empty batches)
    */
  def histogramViewMaintenance(
      stream: DataFrame, binWidthCents: Long): (DataFrame, Int) =
    maintainView(stream, StructType(Seq(StructField("k", StringType),
      StructField("bin", LongType), StructField("c", LongType)))) { (stored, batch) =>
      val part = batch
        .select(col("k"), expr(s"cts div $binWidthCents").as("bin"))
        .groupBy("k", "bin").agg(count(lit(1)).as("c"))
      stored.unionByName(part)
        .groupBy("k", "bin").agg(sum("c").as("c"))
    }

  /** q267's streaming twin (VERDICT r9 #3, completing the IVM
    * streaming pairings alongside q255-HLL and q260-histogram): a
    * per-key top-k view maintained across micro-batches. Top-k under
    * insert-only deltas is a bounded join-semilattice — each batch is
    * reduced to ITS own top-k per key, unioned with the stored k rows,
    * and re-ranked; the global top-k always lives inside that ≤2k-row
    * union, so the maintained view is EXACT at any batch split while
    * the stored state stays k rows per key. Same supersede rotation
    * and cross-thread publish discipline as the HLL view.
    *
    * @param stream streaming DataFrame with columns `k` (group key),
    *               `cts` (ranking value, exact integers), `id`
    *               (tiebreak, unique)
    * @return (final stored view (k, id, cts), non-empty batches)
    */
  def topkViewMaintenance(stream: DataFrame, k: Int): (DataFrame, Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy(col("cts").desc, col("id"))
    def topk(df: DataFrame): DataFrame = df
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
    maintainView(stream, StructType(Seq(StructField("k", StringType),
      StructField("id", LongType), StructField("cts", LongType)))) { (stored, batch) =>
      topk(stored.unionByName(topk(batch.select("k", "id", "cts"))))
    }
  }

  /** q269's streaming twin: gap-based sessions maintained under
    * late-arriving micro-batches. Each batch's events enter as
    * single-point session hulls; the stored sessions of AFFECTED
    * users only are island-merged with those points (the same
    * [[graft.queries.IvmOps.mergeSessions]] kernel the batch query
    * uses — a late event can extend a session, open one, or BRIDGE
    * two stored sessions), and every untouched user's rows pass
    * through verbatim. Θ(batch + affected users' sessions) per
    * refresh, never Θ(history).
    *
    * @param stream streaming DataFrame with columns `user_id`, `us`
    *               (event time, exact integer microseconds)
    * @return (final stored view (user_id, s_start, s_end, n_events),
    *         non-empty batches)
    */
  def sessionViewMaintenance(stream: DataFrame, gapUs: Long): (DataFrame, Int) =
    maintainView(stream, StructType(Seq(StructField("user_id", LongType),
      StructField("s_start", LongType), StructField("s_end", LongType),
      StructField("n_events", LongType)))) { (stored, batch) =>
      val pts = batch.select(col("user_id"), col("us").as("s_start"),
        col("us").as("s_end"), lit(1L).as("n_events"))
      val merged = graft.queries.IvmOps.mergeSessions(stored, pts, gapUs)
      val untouched = stored.join(
        pts.select("user_id").distinct(), Seq("user_id"), "left_anti")
      untouched.unionByName(merged)
    }

  /** The loop the four view twins share. The stored view starts as an
    * empty frame of `schema`; each non-empty micro-batch is folded into
    * it by `merge(stored, batch)`, and the result is pinned and
    * supersedes its predecessor (graft.graph.Rotate rule 1), so the view
    * chain holds one pin, not one per batch.
    *
    * @return (final stored view, non-empty batches)
    */
  private def maintainView(stream: DataFrame, schema: StructType)(
      merge: (DataFrame, DataFrame) => DataFrame): (DataFrame, Int) = {
    val spark = stream.sparkSession
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // Atomics, not captured vars: the foreachBatch closure runs on the
    // stream-execution thread while the caller reads the final state
    // after drain(); the atomics make the cross-thread publish explicit
    // rather than relying on awaitTermination's incidental locking.
    val pinned = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          batches.incrementAndGet()
          val prev = pinned.get
          pinned.set(graft.graph.Rotate.supersede(
            merge(if (prev == null) empty else prev, batch), prev))
        }
        ()
      }
    drain(spark, writer)
    (Option(pinned.get).getOrElse(empty), batches.get)
  }

  /** Start under the state-sized shuffle setting, drain, stop.
    * start() clones the session (StreamExecution constructor), so the
    * conf only needs to hold across the start call; the swap-and-
    * restore is synchronized so concurrent callers on one session
    * can't capture each other's temporary value as the "batch"
    * setting. Every run-to-completion path goes through here so the
    * state-sizing rule lives in exactly one place.
    */
  private def drain(
      spark: SparkSession,
      writer: org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Unit = {
    val q = spark.synchronized {
      val batchShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
      try writer.start() // plan (and state partitioning) resolves here
      finally spark.conf.set("spark.sql.shuffle.partitions", batchShuffle)
    }
    try q.processAllAvailable()
    finally q.stop()
  }

  private val sinkIds = new java.util.concurrent.atomic.AtomicLong

  /** Run `agg` to the end into a memory sink and return its rows. The
    * sink's view has a name of this run's own, and is dropped once the
    * result is bound: the frame keeps its analyzed plan over the sink,
    * the session keeps no view, and two callers can run the same stream
    * on one session at once.
    */
  private def runToCompletion(agg: DataFrame, mode: String): DataFrame = {
    val spark = agg.sparkSession
    val sink = s"graft_sink_${sinkIds.incrementAndGet()}"
    try {
      drain(spark, agg.writeStream.outputMode(mode).format("memory").queryName(sink))
      spark.table(sink)
    } finally spark.catalog.dropTempView(sink)
  }
}
