package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Fixture-table access (TESTDATA.md), and the engine's one parquet
  * read ([[parquet]]). One parquet file per fixture table.
  *
  * Mirrors the reference's "external table over files in object
  * storage" model (reference backend/hive_manager.py:169-181 registers
  * S3-located external tables); here the location is a parquet path and
  * Spark's datasource layer provides the scan with predicate pushdown
  * and column pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Each fixture table is resolved once per (session, path) and the
    * analyzed DataFrame reused, as a catalog would: at 100 TB, listing
    * and footer reads per query per table are a real cluster tax, and
    * metastores exist to resolve a table's schema once. Resolving
    * submits no Spark job: [[parquet]] reads the schema from one footer
    * on the driver. Fixture dirs are immutable for the life of a JVM (ScaleUp
    * writes only to dirs it never reads back through Tables), so no
    * invalidation path is needed. Keyed weakly by session so stopped
    * spec sessions don't pin their plans.
    */
  private val frameCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  private def cached(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val per = frameCache.synchronized {
      var m = frameCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        frameCache.put(spark, m)
      }
      m
    }
    per.computeIfAbsent(key, _ => build)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else cached(spark, s"$dir/$name.parquet")(parquet(spark, s"$dir/$name.parquet"))

  /** A parquet location as the driver resolved it: the path's own status
    * (file or directory) and a batch read of it.
    */
  final case class ParquetAt(root: FileStatus, frame: DataFrame)

  /** `spark.read.parquet(path)` without its schema-inference job, the one
    * parquet read of the engine. The schema comes from one footer read
    * on the driver through the Hadoop FS API and is converted by Spark's
    * own `ParquetFileFormat.readSchemaFromFooter`, so it equals the
    * inferred one; the read is then `spark.read.schema(s).parquet(path)`.
    * Spark's inference runs a one-task job per read even for one file:
    * on a 4-core host, whbench's set-up round resolved its 20 tables in
    * 1.5–1.7 s with 20 jobs, and in 0.32 s with none through this path.
    *
    * A footer with a TIMESTAMP(NANOS) column sets
    * `spark.sql.legacy.parquet.nanosAsLong` on the session: without it
    * Spark rejects the type, and its reader consults the flag again when
    * the scan runs. Other files change no session conf. A session that
    * merges parquet schemas (`spark.sql.parquet.mergeSchema`) gets
    * Spark's own inference; so does a directory with no data file, which
    * fails as `spark.read.parquet` does. A missing path throws Hadoop's
    * FileNotFoundException.
    */
  def parquetAt(spark: SparkSession, path: String): ParquetAt = {
    val conf = GraftSqlBridge.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val frame = schemaFile(fs, root) match {
      case Some(f) =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        if (hasNanos(meta.getFileMetaData.getSchema))
          spark.conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "true")
        if (spark.conf.get(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED.key).toBoolean)
          spark.read.parquet(path)
        else spark.read
          .schema(GraftSqlBridge.parquetSchema(spark, new Footer(f.getPath, meta)))
          .parquet(path)
      case None => spark.read.parquet(path)
    }
    ParquetAt(root, frame)
  }

  def parquet(spark: SparkSession, path: String): DataFrame = parquetAt(spark, path).frame

  /** The file whose footer Spark's inference reads when it does not merge
    * schemas (`ParquetUtils.inferSchema`): of the leaf files Spark lists
    * under `root`, sorted by path, a `_common_metadata` summary, else a
    * `_metadata` summary, else the first data file.
    */
  private def schemaFile(fs: FileSystem, root: FileStatus): Option[FileStatus] = {
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isFile) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => GraftSqlBridge.hiddenPathName(c.getPath.getName))
        .flatMap(leaves)
    val files = leaves(root).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
  }

  private def hasNanos(t: Type): Boolean =
    if (t.isPrimitive) t.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _ => false
    }
    else t.asGroupType.getFields.asScala.exists(hasNanos)

  /** The events fixture with `ts` as TIMESTAMP ([[eventTs]]). */
  def events(spark: SparkSession, dir: String): DataFrame =
    cached(spark, s"$dir/events.parquet#retyped") {
      eventTs(parquet(spark, s"$dir/events.parquet"))
    }

  /** `events.ts` has shipped in three parquet layouts across driver
    * fixture generations, and all three must read back as one Spark
    * type (TIMESTAMP, UTC instant) or every windowed/watermarked query
    * breaks. `df` is a batch or streaming read of an events file:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; [[parquet]]
    *    reads it as long (legacy flag) and this truncates ns→µs — exactly
    *    what DuckDB does reading the same file.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark maps it to
    *    TIMESTAMP_NTZ, which Structured Streaming event time and
    *    unix_micros both reject. Cast to TIMESTAMP — with the session
    *    timezone pinned to UTC the wall-clock reinterpretation is the
    *    identity, matching DuckDB's naive reading.
    *  - TIMESTAMP(MICROS, UTC-adjusted) (ScaleUp-written): already
    *    TIMESTAMP; pass through.
    */
  def eventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => df
    }

  /** The documents fixture is a single-row-group parquet file, which
    * Spark cannot split — without an explicit spread every tokenize/
    * hash/explode pipeline over it would run on ONE core. The rows
    * are tiny and the downstream per-row compute is heavy, so a
    * repartition to full parallelism costs one negligible shuffle and
    * wins back the whole cluster. (Same reasoning holds at 100 TB
    * whenever a narrow scan feeds CPU-heavy per-row work.)
    */
  def docs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)

  /** The embeddings fixture, spread to full parallelism for the same
    * reason as [[docs]]: a single-row-group file that feeds per-row
    * vector math (dot products, posexplode covariance passes) — q197's
    * statistics pass ran as one 2.3 s single-task stage at sf0.1
    * before the spread.
    */
  def emb(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)

  /** SQL `text` over the fixture tables of `dir`, with nothing
    * registered on the session. Each one-part table name in the text
    * that names a fixture table, in the query, its CTEs and its
    * subqueries, is bound to that table's frame ([[t]]) under an alias
    * of its name, which is how the analyzer expands a temp view; so the
    * plan is the one a view over the frame gives. Two callers on one
    * session can read different fixture directories at once. A CTE may
    * not take a fixture table's name.
    */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame =
    GraftSqlBridge.sql(spark, text)(bindFixtures(spark, dir))

  private def bindFixtures(spark: SparkSession, dir: String)(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(name), _, _) if all.contains(name.toLowerCase(Locale.ROOT)) =>
        val table = name.toLowerCase(Locale.ROOT)
        SubqueryAlias(table, t(spark, dir, table).queryExecution.analyzed)
      case w: UnresolvedWith =>
        w.cteRelations.map(_._1).find(n => all.contains(n.toLowerCase(Locale.ROOT)))
          .foreach(n => throw new IllegalArgumentException(s"CTE $n shadows a fixture table"))
        w.copy(cteRelations = w.cteRelations.map(c =>
          c.copy(_2 = bindFixtures(spark, dir)(c._2).asInstanceOf[SubqueryAlias])))
    }
}
