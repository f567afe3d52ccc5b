package whbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.{Bench, Q, Tables}
import graft.catalog.Warehouse
import graft.ingest.CsvIngest
import graft.layout.Compaction
import graft.objectstore.ObjectStoreFileSystem
import graft.stats.SchemaPreview

/** One benchmark run in one JVM: set-up, one unmeasured warm pass, then
  * `passes` measured passes of the same seeded operation list, driven by
  * a single client thread through the engine's public calls.
  *
  * Usage: `whbench.Main --workload W --seed N --passes P --trace 0|1
  *   --data DIR --work DIR`, where DIR/tables and DIR/corpus hold the
  * generated tables of interactive-sql. Writes `result.json` (raw samples, layer
  * totals, check outcomes) and, when tracing, `spans.jsonl` into the
  * work directory; `whbench/run.py` turns them into the metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val run = new Run(opt("workload"), opt("seed").toLong, opt("passes").toInt,
      opt("trace") == "1", opt("data"), opt("work"))
    val out = try run.execute() finally run.stop()
    Files.write(Paths.get(opt("work"), "result.json"), Json(out).getBytes(UTF_8))
    run.tracer.writeSpans(Paths.get(opt("work"), "spans.jsonl"))
  }
}

/** Spans at the layer boundaries the benchmark calls into. Spans of one
  * operation share its id; they stay in memory until the run ends. When
  * off, `span` only runs its body.
  */
final class Tracer {
  final case class Span(id: Int, op: Int, parent: Int, pass: Int, name: String,
      startNs: Long, endNs: Long, startMs: Long, endMs: Long)

  var on = false
  var pass = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var opId = 0
  private var nextId = 0

  def op[T](name: String)(body: => T): T = {
    opId += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, opId, parent, pass, name, t0, t1, ms0,
          System.currentTimeMillis())
      }
    }

  /** Seconds of each span name's self time in `pass`: its duration minus
    * the part its direct children cover (children never overlap, as one
    * client thread opens them in turn).
    */
  def selfTime(pass: Int): Map[String, Double] = {
    val in = spans.filter(_.pass == pass)
    val childNs = in.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    in.groupBy(_.name).view.mapValues(ss =>
      ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    ).toMap
  }

  /** The innermost span whose wall-clock interval holds `ms`. */
  def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(s => (s.startNs, -s.endNs))

  var spanCounts: Map[Int, (Int, Int)] = Map.empty

  def writeSpans(path: java.nio.file.Path): Unit = if (spans.nonEmpty) {
    val lines = spans.sortBy(_.startNs).map { s =>
      val (jobs, tasks) = spanCounts.getOrElse(s.id, (0, 0))
      Json(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "pass" -> s.pass, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> jobs, "tasks" -> tasks))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Job and task events, kept raw and attributed to spans after the run.
  * It listens during traced passes only. A marker job in its own group
  * closes that window: the listener bus delivers events in order, so
  * once the marker's end arrives, every earlier event has too.
  */
final class EngineListener extends SparkListener {
  final case class Task(stage: Int, busyMs: Long, shuffleWrite: Long, spill: Long)
  val jobs = new ConcurrentLinkedQueue[(Long, Seq[Int])]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile private var marker = -1
  val drained = new CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") ==
        EngineListener.MarkerGroup)) marker = e.jobId
    else jobs.add((e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == marker) drained.countDown()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(Task(e.stageId, e.taskInfo.duration,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object EngineListener {
  val MarkerGroup = "whbench-listener-marker"
}

final class Run(workload: String, seed: Long, passes: Int, traced: Boolean,
    data: String, work: String) {

  val tracer = new Tracer
  private val listener = new EngineListener
  private val cores = Runtime.getRuntime.availableProcessors
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0L

  // the warehouse lives in the in-JVM object store with the uploads, so
  // table writes and compaction do no local disk I/O
  private val WarehouseDir = "s3a://warehouse/"
  private val t0 = System.nanoTime()
  // Spark's settings are the ones graft.Bench ships, at this host's cores.
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      Bench.coalesceFloor(s"$data/tables"))
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", WarehouseDir)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  ObjectStoreFileSystem.install(spark)
  private val coldStartS = (System.nanoTime() - t0) / 1e9

  def stop(): Unit = spark.stop()

  /** Detach the listener once it has every event posted so far. */
  private def detachListener(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(EngineListener.MarkerGroup, "end of the traced passes")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    if (!listener.drained.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain")
    sc.removeSparkListener(listener)
  }

  private def secs[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  /** Run a query to completion through its own QueryExecution, so it is
    * planned once: `plan` forces the physical plan, `exec` consumes every
    * row and discards it, as the noop sink does. Returns the row count.
    */
  private def runQuery(df: => DataFrame, name: String, spans: Boolean): Long = {
    def span[T](n: String)(body: => T): T =
      if (spans) tracer.span(n)(body) else body
    val built = span("queries.build")(df)
    val qe = built.queryExecution
    span("queries.plan")(qe.executedPlan)
    span("queries.exec") {
      SQLExecution.withNewExecutionId(qe, Some(name)) {
        qe.toRdd.mapPartitions(it => Iterator(it.size.toLong)).collect().sum
      }
    }
  }

  private def dropPinned(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  // ---- workloads ---------------------------------------------------

  /** The operation list of one pass. `verify` marks the warm pass, which
    * also writes each query result out for the oracle comparison.
    */
  private trait Workload {
    def setup(round: Int): Unit
    /** Untimed layer timings a traced run takes after set-up. */
    def probe(): Unit = ()
    /** Untimed preparation before pass `p`. */
    def reset(p: Int): Unit = ()
    def pass(p: Int, verify: Boolean, rec: PassRecord): Unit
    def summary: Map[String, Any] = Map.empty
  }

  final class PassRecord {
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
  }

  private val resolveS = ArrayBuffer.empty[Double]

  /** Registry queries run as a user would: build, plan, run to the end.
    * Each pass runs the HiveQL queries in a seeded order, then the
    * curation queries, whose time is attributed to the engine package
    * that does their work.
    */
  private class Interactive(tables: String, corpus: String) extends Workload {
    private val all = Workloads.interactive.map(n => (n, "query", tables)) ++
      Workloads.curation.map { case (n, layer) => (n, layer + ".exec", corpus) }
    var session: SparkSession = spark

    def setup(round: Int): Unit = {
      session = spark.newSession()
      resolveS += secs(Seq(tables, corpus).foreach(d =>
        Tables.all.foreach(n => Tables.t(session, d, n).schema)))._2
    }

    def pass(p: Int, verify: Boolean, rec: PassRecord): Unit = {
      val (sql, curation) = all.splitAt(Workloads.interactive.size)
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(sql) ++ curation
      order.foreach { case (n, layer, dir) =>
        val q = Q.byName(n)
        if (verify) {
          // part files keep the order of a sorted result
          q.fn(session, dir).write.mode("overwrite").parquet(s"$work/out/$n")
        } else {
          val (rows, s) = secs(
            if (layer == "query") tracer.op("query") {
              runQuery(q.fn(session, dir), n, spans = true)
            } else tracer.op("curation") {
              tracer.span(layer)(runQuery(q.fn(session, dir), n, spans = false))
            })
          rec.ops += Map("name" -> n, "kind" -> layer, "s" -> s, "rows" -> rows)
        }
        dropPinned()
      }
    }

    override def summary: Map[String, Any] = Map("oracle" -> all.map {
      case (n, _, dir) => n -> Map("sql" -> Q.byName(n).oracle.get, "data" -> dir)
    }.toMap)
  }

  private def workloadFor(name: String): Workload = name match {
    case "interactive-sql" => new Interactive(s"$data/tables", s"$data/corpus")
    case "ingest-query" => new Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Equal-size uploads appended to a managed table, each timed from its
    * put until a read of the table returns the generator's totals. At the
    * end of a pass the table is compacted and analysed, and read per key
    * and per column.
    */
  private class Ingest extends Workload {
    import Ingest._
    private val gen = new UploadGen(seed)
    private val base = gen.upload(-1, BaseRows)
    private val uploads = (0 until UploadsPerPass).map(i => gen.upload(i, UploadRows))
    private val wh = new Warehouse(spark)
    private var baseTable = ""
    private val setupLayers = mutable.Map.empty[String, ArrayBuffer[Double]]

    private def put(key: String, bytes: Array[Byte]): Unit =
      tracer.span("objectstore.put") {
        val p = new Path(key)
        val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p)
        try out.write(bytes) finally out.close()
      }

    /** put → layout normalisation → salvaging parse, checked. */
    private def land(key: String, up: Upload): CsvIngest.IngestResult = {
      put(key, up.bytes)
      val dir = tracer.span("objectstore.normalize") {
        CsvIngest.normalizeUploadLayoutFs(spark, key)
      }
      val res = tracer.span("ingest.parse") {
        CsvIngest.ingestSalvaged(spark, dir, s"staged_${up.id + 1}")
      }
      check(res.delimiter == up.delim.toString && res.rowCount == up.good.rows &&
        res.badRowCount == up.bad,
        s"$key: '${res.delimiter}' ${res.rowCount} good/${res.badRowCount} bad, " +
          s"wrote '${up.delim}' ${up.good.rows}/${up.bad}")
      res
    }

    private def timed[T](layer: String)(body: => T): T = {
      val (r, s) = secs(body)
      setupLayers.getOrElseUpdate(layer, ArrayBuffer.empty) += s
      r
    }

    /** The base table, loaded through the upload path. */
    def setup(round: Int): Unit = {
      baseTable = s"base_$round"
      val res = land(baseKey(round), base)
      wh.createManaged(baseTable, spark.table(res.table))
      wh.analyze(baseTable)
      spark.catalog.dropTempView(res.table)
      dropPinned()
    }

    private def baseKey(round: Int) = s"s3a://uploads/setup$round/base.csv"

    /** The sniff and the inference run inside `ingestSalvaged`, where no
      * span can reach them; a traced run times them on their own, three
      * times each on the landed base upload, outside set-up and passes.
      */
    override def probe(): Unit = (0 until 3).foreach { _ =>
      val dir = baseKey(0).stripSuffix(".csv")
      val delim = timed("ingest.sniff")(CsvIngest.sniffDelimiter(spark, dir))
      timed("ingest.infer")(CsvIngest.inferSchema(spark, dir, delim, true, 1000))
    }

    private def tableDir(t: String) = s"$WarehouseDir$t"

    private def dirBytes(t: String): Long = {
      val p = new Path(tableDir(t))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }

    private def table(p: Int) = s"sales_${p + 1}"

    /** A fresh copy of the base table; the last pass's uploads are
      * deleted, so the in-JVM store does not grow from pass to pass.
      */
    override def reset(p: Int): Unit = {
      val uploaded = new Path(PassUploads)
      uploaded.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(uploaded, true)
      wh.createTableAs(table(p), s"SELECT * FROM $baseTable")
    }

    def pass(p: Int, verify: Boolean, rec: PassRecord): Unit = {
      val t = table(p)
      val expect = new Totals
      expect.add(base.good)
      var good = 0L
      var bad = 0L
      // the warm pass is one upload and the maintenance
      val list = if (verify) uploads.take(1) else uploads
      val appended = list.zipWithIndex.map { case (up, i) =>
        expect.add(up.good)
        val before = dirBytes(t)
        val (_, s) = secs(tracer.op("upload") {
          val res = land(s"$PassUploads/u$i.csv", up)
          good += res.rowCount
          bad += res.badRowCount
          tracer.span("catalog.append") {
            spark.sql(s"INSERT INTO $t SELECT * FROM ${res.table}")
          }
          val totals = tracer.span("catalog.read") {
            spark.sql(s"SELECT count(*), sum(qty), " +
              s"sum(CAST(round(amount * 100) AS BIGINT)) FROM $t").collect().head
          }
          check(totals.getLong(0) == expect.rows && totals.getLong(1) == expect.qty &&
            totals.getLong(2) == expect.cents,
            s"$t after upload $i: totals $totals, expected " +
              s"(${expect.rows},${expect.qty},${expect.cents})")
        })
        rec.ops += Map("name" -> s"u$i", "kind" -> "upload", "s" -> s,
          "csv_bytes" -> up.bytes.length)
        spark.catalog.dropTempView(s"staged_${up.id + 1}")
        dropPinned()
        dirBytes(t) - before
      }.sum

      val (filesBefore, filesAfter) = tracer.op("maintain") {
        val files = tracer.span("layout.compact") {
          val r = Compaction.compact(spark, tableDir(t))
          wh.refresh(t)
          r
        }
        tracer.span("catalog.analyze")(wh.analyze(t))
        val perKey = tracer.span("catalog.read") {
          spark.sql(s"SELECT store, count(*), sum(qty) FROM $t " +
            "GROUP BY store ORDER BY store").collect()
        }
        check(perKey.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap ==
          expect.perStore.toMap, s"$t: per-store sums differ")
        val stats = tracer.span("stats.column_stats") {
          SchemaPreview.columnStats(spark.table(t), Seq("amount", "qty")).collect()
        }
        check(stats.map(r => (r.getString(0), r.getLong(1), r.getDouble(3),
          r.getDouble(4))).toSeq == Seq(
          ("amount", 0L, expect.minCents / 100.0, expect.maxCents / 100.0),
          ("qty", 0L, expect.minQty.toDouble, expect.maxQty.toDouble)),
          s"$t: column stats ${stats.mkString(",")}")
        files
      }
      val stored = dirBytes(t)
      rec.extra ++= Seq(
        "stored_bytes_per_csv_byte" ->
          stored.toDouble / (base.bytes.length + list.map(_.bytes.length.toLong).sum),
        "good_row_ratio" -> good.toDouble / (good + bad),
        "files_before" -> filesBefore, "files_after" -> filesAfter,
        "rewrite_bytes_per_byte" -> stored.toDouble / appended)
      val expectGood = list.map(_.good.rows).sum
      check(good == expectGood && bad == list.map(_.bad).sum,
        s"$t: $good good and $bad bad rows, expected $expectGood good")
      wh.drop(t)
    }

    override def summary: Map[String, Any] =
      Map("setup_layers" -> setupLayers.view.mapValues(_.toSeq).toMap)
  }

  private object Ingest {
    val BaseRows = 10000
    val UploadRows = 80000
    val UploadsPerPass = 5
    val PassUploads = "s3a://uploads/pass"
  }

  // ---- the run -----------------------------------------------------

  def execute(): Map[String, Any] = {
    val w = workloadFor(workload)
    // set-up is repeated: each round opens a fresh session and resolves
    // the tables again (and re-ingests the base table for uploads)
    val setupRounds = (0 until 3).map(r => secs(w.setup(r))._2)
    if (traced) w.probe()
    w.reset(-1)
    val warmS = secs(w.pass(-1, verify = true, new PassRecord))._2
    val records = ArrayBuffer.empty[Map[String, Any]]
    // a traced run measures untraced, traced, traced, untraced passes,
    // so warm-up drift does not leak into the tracing overhead; the
    // listener is attached for the traced passes only
    val modes = if (traced) Seq(false, true, true, false) else Seq.fill(passes)(false)
    for ((tr, idx) <- modes.zipWithIndex) {
      if (tr && (idx == 0 || !modes(idx - 1))) spark.sparkContext.addSparkListener(listener)
      tracer.on = tr
      tracer.pass = idx
      val rec = new PassRecord
      w.reset(idx)
      val gc0 = gcSeconds()
      val ms0 = System.currentTimeMillis()
      val (_, s) = secs(w.pass(idx, verify = false, rec))
      val ms1 = System.currentTimeMillis()
      val gc = gcSeconds() - gc0
      tracer.on = false
      records += Map("traced" -> tr, "pass_s" -> s, "gc_s" -> gc,
        "heap_mb" -> heapAfterGcMb(), "start_ms" -> ms0, "end_ms" -> ms1,
        "ops" -> rec.ops.toSeq) ++ rec.extra
      if (tr && (idx + 1 == modes.size || !modes(idx + 1))) detachListener()
    }
    val layers = if (traced) layerTotals(records.toSeq) else Map.empty
    Map(
      "workload" -> workload, "cores" -> cores,
      "cold_start_s" -> coldStartS, "setup_rounds_s" -> setupRounds, "warm_s" -> warmS,
      "resolve_s" -> resolveS.toSeq,
      "passes" -> records.toSeq, "layers" -> layers,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.take(20).toSeq) ++ w.summary
  }

  /** Per traced pass: self time per span name, and the engine's job and
    * task counts, each attributed to the pass and the innermost span that
    * was open when its job started.
    */
  private def layerTotals(records: Seq[Map[String, Any]]): Map[String, Any] = {
    val windows = records.zipWithIndex.collect {
      case (r, i) if r("traced") == true =>
        (i, r("start_ms").asInstanceOf[Long], r("end_ms").asInstanceOf[Long])
    }
    val stageOwner = mutable.Map.empty[Int, (Int, Int)] // stage -> (pass, span)
    val jobs = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    listener.jobs.asScala.foreach { case (ms, stages) =>
      windows.find { case (_, a, b) => a <= ms && ms <= b }.foreach { case (p, _, _) =>
        val span = tracer.spanAt(ms).map(_.id).getOrElse(0)
        jobs((p, span)) += 1
        stages.foreach(stageOwner(_) = (p, span))
      }
    }
    val tasks = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    val eng = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
    listener.tasks.asScala.foreach { t =>
      stageOwner.get(t.stage).foreach { case key @ (p, _) =>
        tasks(key) += 1
        eng((p, "busy")) += t.busyMs / 1000.0
        eng((p, "shuffle")) += t.shuffleWrite / 1048576.0
        eng((p, "spill")) += t.spill / 1048576.0
      }
    }
    tracer.spanCounts = tracer.spans.map(s =>
      s.id -> (jobs((s.pass, s.id)), tasks((s.pass, s.id)))).toMap
    windows.map { case (p, _, _) =>
      val r = records(p)
      val passS = r("pass_s").asInstanceOf[Double]
      p.toString -> (tracer.selfTime(p) ++ Map(
        "engine.jobs" -> jobs.collect { case ((q, _), n) if q == p => n }.sum.toDouble,
        "engine.tasks" -> tasks.collect { case ((q, _), n) if q == p => n }.sum.toDouble,
        "engine.task_busy_s" -> eng((p, "busy")),
        "engine.core_util" -> eng((p, "busy")) / (passS * cores),
        "engine.shuffle_write_mb" -> eng((p, "shuffle")),
        "engine.spill_mb" -> eng((p, "spill")),
        "engine.gc_s" -> r("gc_s").asInstanceOf[Double]))
    }.toMap
  }
}

/** The fixed operation lists. */
object Workloads {
  /** Eight HiveQL queries of the headline set, one per kind of operator:
    * filter, inner, full outer and anti join, grouping sets, ranking
    * window, top-k per group and conditional scalars.
    */
  val interactive: Seq[String] = Seq(
    "q02_filter_predicates", "q03_join_orders_customers",
    "q06_full_outer_nation_counts", "q08_anti_join_idle_customers",
    "q15_grouping_sets_customer", "q21_window_rank_top_customers",
    "q26_topk_parts_per_brand", "q31_conditional_buckets")

  /** Multi-job curation queries, each with the engine package that does
    * its work: execution time is attributed to that layer.
    */
  val curation: Seq[(String, String)] = Seq(
    "q42_dedup_simhash" -> "functions",
    "q180_semdedup_scaled" -> "pipeline",
    "q142_pagerank_purchases" -> "graph")
}

/** One generated CSV upload and the totals of its good rows. */
final case class Upload(id: Int, delim: Char, bytes: Array[Byte],
    good: Totals, bad: Int)

/** Totals of a set of good rows: of one upload, or of a table. */
final class Totals {
  var rows = 0L
  var qty = 0L
  var cents = 0L
  var minQty = Int.MaxValue
  var maxQty = Int.MinValue
  var minCents = Long.MaxValue
  var maxCents = Long.MinValue
  val perStore = mutable.Map.empty[String, (Long, Long)]

  def add(store: String, q: Int, c: Long): Unit = {
    rows += 1; qty += q; cents += c
    minQty = math.min(minQty, q); maxQty = math.max(maxQty, q)
    minCents = math.min(minCents, c); maxCents = math.max(maxCents, c)
    val (n, s) = perStore.getOrElse(store, (0L, 0L))
    perStore(store) = (n + 1, s + q)
  }

  def add(o: Totals): Unit = {
    rows += o.rows; qty += o.qty; cents += o.cents
    minQty = math.min(minQty, o.minQty); maxQty = math.max(maxQty, o.maxQty)
    minCents = math.min(minCents, o.minCents); maxCents = math.max(maxCents, o.maxCents)
    o.perStore.foreach { case (st, (n, q)) =>
      val (n0, q0) = perStore.getOrElse(st, (0L, 0L))
      perStore(st) = (n0 + n, q0 + q)
    }
  }
}

/** Seeded uploads. Every good row has the same width and every 50th row
  * carries one extra field, which the salvaging parse must reject, so all
  * uploads of one row count have one byte size. The delimiter rotates
  * through the sniffer's candidates.
  */
final class UploadGen(seed: Long) {
  private val Delims = Seq(',', ';', '\t', '|')
  private var nextId = 0L

  def upload(id: Int, rows: Int): Upload = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + id + 1)
    val d = Delims(math.floorMod(id, Delims.size))
    val sb = new StringBuilder(rows * 26)
    sb ++= s"id${d}store${d}qty${d}amount\n"
    val good = new Totals
    var bad = 0
    (0 until rows).foreach { r =>
      val store = f"S${rnd.nextInt(40)}%02d"
      val qty = 1 + rnd.nextInt(99)
      val cents = 100L + rnd.nextLong(9999900L)
      nextId += 1
      sb ++= f"$nextId%08d$d$store$d$qty%02d$d${cents / 100}%05d.${cents % 100}%02d"
      if (r % 50 == 49) { sb ++= s"${d}x"; bad += 1 }
      else good.add(store, qty, cents)
      sb += '\n'
    }
    Upload(id, d, sb.toString.getBytes(UTF_8), good, bad)
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
