package graft.ingest

import com.univocity.parsers.csv.CsvParser
import graft.types.Types
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructType}

/** CSV ingestion: delimiter sniffing + sample-bounded schema
  * inference + registration — the reference's `POST /process-csv`
  * pipeline (backend/csv_processor.py:36-110, app.py:32-118) rebuilt
  * on Spark's datasource layer.
  *
  * Hive's order (schema fixed before the load, data loaded once): the
  * sniff and the inference read one bounded head of the upload on the
  * driver through the Hadoop FS API and run no Spark job; the full
  * file is then parsed distributed with that schema. Where the
  * reference downloads the whole CSV into driver memory
  * (csv_processor.py:77), only the head (≤ `sampleRows` lines) reaches
  * the driver here. The reference also sniffs a delimiter but
  * hard-codes ',' in DDL (csv_processor.py:91 vs hive_manager.py:174)
  * — a bug SURVEY.md §7 says to fix, not copy: the sniffed delimiter
  * is used everywhere here.
  */
object CsvIngest {

  val Candidates: Seq[Char] = Seq(',', ';', '\t', '|')

  /** Object-layout normalization (reference csv_processor.py:43-71):
    * a root-level upload `<dir>/<id>.csv` is moved into its own
    * directory `<dir>/<id>/<id>.csv` so the directory can serve as a
    * table LOCATION. Returns the directory path. No-op if already
    * nested. Goes through the Hadoop FileSystem API, so it works against
    * ANY scheme Spark can read — local paths and the object-store
    * locations the reference actually uses
    * (`s3a://bucket/uploads/<id>/<id>.csv`, built at
    * backend/hive_manager.py:94-103; the move itself is the
    * copy_object/delete_object pair at backend/csv_processor.py:43-71).
    * On an object store the "directory" is only a key prefix and the
    * rename is copy+delete per object.
    */
  def normalizeUploadLayoutFs(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    val stem = p.getName.replaceAll("\\.[^.]+$", "")
    if (parent != null && parent.getName == stem) parent.toString
    else {
      val dir = new org.apache.hadoop.fs.Path(parent, stem)
      fs.mkdirs(dir)
      if (!fs.rename(p, new org.apache.hadoop.fs.Path(dir, p.getName)))
        throw new java.io.IOException(s"rename failed: $path -> $dir")
      dir.toString
    }
  }

  final case class IngestResult(
      table: String,
      delimiter: String,
      schema: StructType,
      columns: Seq[(String, String)], // name -> Hive type name
      rowCount: Long,
      badRowCount: Long = 0)

  /** Sniff the delimiter from the first non-blank line — the line Spark
    * takes as the header (candidates `,;\t|`, most frequent wins, comma
    * fallback — reference csv_processor.py:25-34 semantics). Runs no
    * Spark job.
    */
  def sniffDelimiter(spark: SparkSession, path: String): String =
    sniff(head(spark, path, 1))

  /** Infer the schema from only the first `sampleRows` non-blank lines
    * (the reference caps inference at MAX_SAMPLE_SIZE=1000 rows). The
    * inference is Spark's own — the same header rule and per-row type
    * fold that `spark.read.option("inferSchema", "true").csv(lines)`
    * applies — run on the driver, so it submits no Spark job.
    */
  def inferSchema(
      spark: SparkSession, path: String, delimiter: String,
      header: Boolean, sampleRows: Int): StructType =
    infer(spark, head(spark, path, sampleRows + (if (header) 1 else 0)),
      delimiter, header)

  /** Ingest: sniff → infer on the head → distributed read with the
    * fixed schema → register as a catalog view under the sanitized
    * name. Returns the schema payload the reference's API responds
    * with (app.py:100-111 shape).
    *
    * Rows are salvaged — the reference's per-row fallback when a
    * batched INSERT fails (hive_manager.py:317-325: the failing batch
    * is retried row by row, keeping the good rows and counting the
    * bad). Spark-native form: PERMISSIVE parsing routes each
    * unparseable line into the corrupt-record column, good rows
    * register as the table, bad rows are counted and reported —
    * distributed, no per-row round-trips.
    *
    * Cost contract: exactly one Spark job (the good/bad count) and
    * nothing persisted. The view is a filter over the RDD of the
    * full-width parse, so every later read of it (the caller's
    * `INSERT … SELECT`, a `count()`) parses every column and sees the
    * same good rows the count saw; a view over the file scan itself
    * would let column pruning parse fewer fields, and Spark refuses a
    * scan that needs only the corrupt-record column. An upload with no
    * header or data line is an `IllegalArgumentException`.
    */
  def ingestSalvaged(
      spark: SparkSession, path: String, rawName: String,
      header: Boolean = true, sampleRows: Int = 1000,
      suffix: Option[String] = None): IngestResult = {
    val lines = head(spark, path, sampleRows + (if (header) 1 else 0))
    val delim = sniff(lines)
    val schema = infer(spark, lines, delim, header)
    if (schema.isEmpty)
      throw new IllegalArgumentException(s"empty upload, no header or data line: $path")
    val corrupt = "_corrupt_record"
    val parsed = spark.read
      .options(readOptions(delim, header))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(schema.add(corrupt, StringType))
      .csv(path)
    val rows = parsed.queryExecution.toRdd
    val corruptAt = schema.length
    val (good, bad) = GraftSqlBridge.withSqlConf(spark) {
      rows.mapPartitions { it =>
        var g, b = 0L
        it.foreach(r => if (r.isNullAt(corruptAt)) g += 1 else b += 1)
        Iterator.single((g, b))
      }.fold((0L, 0L)) { case ((g1, b1), (g2, b2)) => (g1 + g2, b1 + b2) }
    }
    val table = Types.sanitizeTableName(rawName, suffix)
    GraftSqlBridge.overRdd(parsed, rows)
      .filter(col(corrupt).isNull).drop(corrupt)
      .createOrReplaceTempView(table)
    IngestResult(
      table, delim, schema,
      schema.fields.toSeq.map(f => f.name -> Types.hiveName(f.dataType)),
      good, bad)
  }

  private def readOptions(delimiter: String, header: Boolean): Map[String, String] =
    Map("sep" -> delimiter, "header" -> header.toString)

  /** Spark's options for a CSV read with these settings, built the way
    * `DataFrameReader.csv` builds them from the session.
    */
  private def csvOptions(
      spark: SparkSession, delimiter: String, header: Boolean): CSVOptions = {
    val conf = spark.sessionState.conf
    new CSVOptions(readOptions(delimiter, header) + ("inferSchema" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
  }

  private def sniff(lines: Seq[String]): String = {
    val first = lines.headOption.getOrElse("")
    val (best, n) = Candidates.map(c => c -> first.count(_ == c)).maxBy(_._2)
    if (n == 0) "," else best.toString
  }

  /** Spark's CSV inference over `lines` (first line = header, or the
    * column count when there is none), folded on the driver.
    */
  private def infer(
      spark: SparkSession, lines: Seq[String], delimiter: String,
      header: Boolean): StructType = GraftSqlBridge.withSqlConf(spark) {
    val opts = csvOptions(spark, delimiter, header)
    val parser = new CsvParser(opts.asParserSettings)
    lines.headOption.flatMap(l => Option(parser.parseLine(l))) match {
      case None => new StructType()
      case Some(first) =>
        val names = CSVUtils.makeSafeHeader(
          first, spark.sessionState.conf.caseSensitiveAnalysis, opts)
        val inference = new CSVInferSchema(opts)
        val types = CSVUtils.filterHeaderLine(lines.iterator, lines.head, opts)
          .flatMap(l => Option(parser.parseLine(l)))
          .foldLeft(Array.fill[DataType](names.length)(NullType))(inference.inferRowType)
        StructType(inference.toStructFields(types, names))
    }
  }

  /** The first `n` non-blank lines of the upload at `path` — a file, or
    * the first non-empty data file (by name, skipping `_`/`.` names, as
    * Spark's file listing does) of a directory — read once through the
    * Hadoop FS API and decompressed by the codec its name implies.
    */
  private def head(spark: SparkSession, path: String, n: Int): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val files = (if (st.isDirectory) fs.listStatus(p) else Array(st))
      .filter { s =>
        val name = s.getPath.getName
        s.isFile && s.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")
      }
    files.minByOption(_.getPath.toString).fold(Seq.empty[String]) { s =>
      val raw = fs.open(s.getPath)
      val in = Option(new CompressionCodecFactory(conf).getCodec(s.getPath))
        .fold[java.io.InputStream](raw)(_.createInputStream(raw))
      try {
        val reader = new LineReader(in, conf)
        val line = new Text()
        // the line reader under Spark's text and CSV sources drops a
        // leading UTF-8 byte-order mark; so does this one
        val all = Iterator.continually(line).takeWhile(reader.readLine(_) > 0)
          .zipWithIndex.map { case (t, i) =>
            if (i == 0) t.toString.stripPrefix("\uFEFF") else t.toString
          }
        CSVUtils.filterCommentAndEmpty(all, csvOptions(spark, ",", header = false)).take(n).toList
      } finally in.close()
    }
  }
}
