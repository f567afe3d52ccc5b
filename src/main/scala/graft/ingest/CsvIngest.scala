package graft.ingest

import graft.types.Types
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV ingestion: delimiter sniffing + sample-bounded schema
  * inference + registration — the reference's `POST /process-csv`
  * pipeline (backend/csv_processor.py:36-110, app.py:32-118) rebuilt
  * on Spark's datasource layer.
  *
  * Scale notes vs the reference: the reference downloads the whole
  * CSV into driver memory (csv_processor.py:77) — here only the
  * sniff (first line) and the inference sample (`sampleRows` lines)
  * ever reach the driver; the full file is read distributed with the
  * inferred schema applied. The reference also sniffs a delimiter
  * but hard-codes ',' in DDL (csv_processor.py:91 vs
  * hive_manager.py:174) — a bug SURVEY.md §7 says to fix, not copy:
  * the sniffed delimiter is used everywhere here.
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

  /** Sniff the delimiter from the first line (candidates `,;\t|`,
    * comma fallback — reference csv_processor.py:25-34 semantics).
    */
  def sniffDelimiter(spark: SparkSession, path: String): String = {
    val first = spark.read.text(path).limit(1).collect()
      .headOption.map(_.getString(0)).getOrElse("")
    val counts = Candidates.map(c => c -> first.count(_ == c))
    val (best, n) = counts.maxBy(_._2)
    if (n == 0) "," else best.toString
  }

  /** Infer the schema from only the first `sampleRows` lines (the
    * reference caps inference at MAX_SAMPLE_SIZE=1000 rows): the
    * sample is re-parsed as CSV text, never the full file.
    */
  def inferSchema(
      spark: SparkSession, path: String, delimiter: String,
      header: Boolean, sampleRows: Int): StructType = {
    val sample: Dataset[String] = spark.read.textFile(path)
      .limit(sampleRows + (if (header) 1 else 0))
    spark.read
      .option("header", header.toString)
      .option("sep", delimiter)
      .option("inferSchema", "true")
      .csv(sample)
      .schema
  }

  /** Ingest: sniff → infer on sample → distributed read with the
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
    */
  def ingestSalvaged(
      spark: SparkSession, path: String, rawName: String,
      header: Boolean = true, sampleRows: Int = 1000,
      suffix: Option[String] = None): IngestResult = {
    import org.apache.spark.sql.functions.col
    val delim = sniffDelimiter(spark, path)
    val schema = inferSchema(spark, path, delim, header, sampleRows)
    val corrupt = "_corrupt_record"
    val parsed = spark.read
      .option("header", header.toString)
      .option("sep", delim)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .csv(path)
      // Spark disallows filtering raw CSV on only the corrupt-record
      // column; materialize the parse once for the good/bad split
      .cache()
    val good = parsed.filter(col(corrupt).isNull).drop(corrupt)
    val bad = parsed.filter(col(corrupt).isNotNull).count()
    val table = Types.sanitizeTableName(rawName, suffix)
    good.createOrReplaceTempView(table)
    IngestResult(
      table, delim, schema,
      schema.fields.toSeq.map(f => f.name -> Types.hiveName(f.dataType)),
      good.count(), bad)
  }
}
