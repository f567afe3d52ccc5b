package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.layout.Compaction
import graft.objectstore.ObjectStoreFileSystem
import graft.streaming.EventStreams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins `Tables.parquet`, the engine's one parquet read: its schema
  * equals `spark.read.parquet(p).schema`, resolving a table submits no
  * Spark job, reading µs files changes no session conf, and no other
  * parquet read is left in `src/main`.
  */
class ParquetSchemaSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  private def sameSchema(s: SparkSession, path: String): Unit =
    assert(Tables.parquet(s, path).schema == s.read.parquet(path).schema, path)

  /** An events file with a TIMESTAMP(NANOS) `ts`, as non-Spark writers
    * (pandas, DuckDB) produce it; Spark cannot write this type.
    */
  private def nanosEvents(dir: String, ts: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
  }

  test("schema equals spark.read.parquet on every sf0.001 fixture table") {
    Tables.all.foreach(n => sameSchema(spark, s"${sf()}/$n.parquet"))
  }

  test("Spark-written directory: nested, decimal, NTZ and row-metadata types") {
    val dir = s"${tmp("written")}/t"
    spark.range(0, 30).select(
      col("id"),
      col("id").cast("decimal(12,2)").as("dec"),
      struct(col("id").as("a"), array(col("id"), lit(1L)).as("b")).as("st"),
      map(col("id").cast("string"), col("id").cast("double")).as("m"),
      array(struct(col("id").as("x"))).as("arr"),
      expr("to_timestamp_ntz('2024-01-02 03:04:05') + make_interval(0,0,0,0,0,0,id)")
        .as("ntz"),
      // kept only in the Spark schema the writer stores in the footer:
      // parquet has no field metadata and stores the interval as int64
      col("id").cast("string").as("tagged",
        new MetadataBuilder().putString("comment", "kept").build()),
      expr("make_dt_interval(0, 0, 0, id)").as("dti"))
      .repartition(3).write.parquet(dir)
    assert(new File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 3)
    sameSchema(spark, dir)
    val s = Tables.parquet(spark, dir).schema
    assert(s("tagged").metadata.getString("comment") == "kept")
    assert(s("dti").dataType.isInstanceOf[DayTimeIntervalType])
    assert(s("ntz").dataType == TimestampNTZType)
    assert(Tables.parquet(spark, dir).count() == 30)
  }

  test("directory: the footer Spark picks, first data file by path or a summary") {
    val dir = tmp("pick")
    spark.range(1).select(col("id").as("x")).write.parquet(s"$dir/w1")
    spark.range(1).select(col("id").cast("string").as("y")).write.parquet(s"$dir/w2")
    def part(w: String) = new File(s"$dir/$w").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val mixed = Files.createDirectories(Paths.get(s"$dir/mixed"))
    Files.copy(part("w2"), mixed.resolve("b.parquet"))
    Files.copy(part("w1"), mixed.resolve("a.parquet"))
    sameSchema(spark, mixed.toString)
    assert(Tables.parquet(spark, mixed.toString).schema.fieldNames.toSeq == Seq("x"))
    Files.copy(part("w2"), mixed.resolve("_common_metadata"))
    sameSchema(spark, mixed.toString)
    assert(Tables.parquet(spark, mixed.toString).schema.fieldNames.toSeq == Seq("y"))
  }

  test("TIMESTAMP(NANOS) reads through Tables.events as TIMESTAMP, truncated to µs") {
    val s = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = tmp("nanos")
    val ns = Seq(1700000000123456789L, 1700000001000000999L)
    nanosEvents(dir, ns)
    assert(!s.conf.getAll.contains(key))
    val ev = Tables.events(s, dir)
    assert(s.conf.get(key) == "true")
    assert(!spark.conf.getAll.contains(key), "the flag is set on the reading session only")
    sameSchema(s, s"$dir/events.parquet")
    assert(Tables.parquet(s, s"$dir/events.parquet").schema("ts").dataType == LongType)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).collect()
      .map(_.getLong(0)).toSeq == ns.map(_ / 1000))
  }

  test("an empty directory fails as spark.read.parquet does") {
    val dir = tmp("empty")
    val want = intercept[AnalysisException](spark.read.parquet(dir))
    val got = intercept[AnalysisException](Tables.parquet(spark, dir))
    assert(got.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(got.getMessage == want.getMessage)
  }

  test("partitioned directory, and spark.sql.parquet.mergeSchema=true") {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    val dir = tmp("merge")
    s.range(2).select(col("id").as("x")).write.parquet(s"$dir/k=1")
    s.range(2).select(col("id").cast("string").as("y")).write.parquet(s"$dir/k=2")
    sameSchema(spark, dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq == Seq("x", "k"))
    sameSchema(s, dir)
    assert(Tables.parquet(s, dir).schema.fieldNames.toSeq == Seq("x", "y", "k"))
  }

  test("resolving the 10 sf0.01 tables on a fresh session submits no job") {
    val s = spark.newSession()
    assert(jobsOf(Tables.all.foreach(n => Tables.t(s, sf("sf0.01"), n).schema)) == 0)
  }

  test("Compaction.compact submits 2 jobs: the shuffle and the write, no inference") {
    val dir = tmp("compact")
    spark.range(0, 1000).repartition(8).write.mode("overwrite").parquet(dir)
    assert(jobsOf(Compaction.compact(spark, dir, targetBytes = 1L << 20)) == 2)
    assert(Tables.parquet(spark, dir).count() == 1000)
  }

  test("reading the µs fixtures changes no session conf") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Seq("sf0.001", "sf0.01").foreach { d =>
      Tables.all.foreach(n => Tables.t(s, sf(d), n).schema)
      EventStreams.readEvents(s, sf(d)).schema
    }
    assert(s.conf.getAll == before)
  }

  test("an events directory on s3a streams its part files") {
    ObjectStoreFileSystem.install(spark)
    ObjectStoreFileSystem.clearBucket("pqlake")
    val dir = "s3a://pqlake/sf"
    Tables.events(spark, sf()).write.parquet(s"$dir/events.parquet")
    val streamed = EventStreams.tumblingCounts(spark, dir)
      .agg(sum("n")).head.getLong(0)
    assert(streamed == Tables.events(spark, sf()).count())
    ObjectStoreFileSystem.clearBucket("pqlake")
  }

  test("src/main reads parquet only through Tables.parquet") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    val read = """\.read(\s*\.\s*(option|options|schema)\([^()]*\))*\s*\.\s*""" +
      """(parquet\(|format\(\s*"parquet"\s*\))"""
    val hits = Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => read.r.findAllIn(Files.readString(p)).map(_ => p.toString))
      .toVector.distinct
    assert(hits == Vector("src/main/scala/graft/Tables.scala"), hits)
  }
}
