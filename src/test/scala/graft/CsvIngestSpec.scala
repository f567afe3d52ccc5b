package graft

import java.nio.file.Files

import graft.ingest.CsvIngest
import org.apache.spark.sql.types._

class CsvIngestSpec extends SparkSpec {

  private def tmpCsv(content: String, name: String): String = {
    val dir = Files.createTempDirectory("graft-csv")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private def gzCsv(content: String, name: String): String = {
    val f = Files.createTempDirectory("graft-gz").resolve(name)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write(content.getBytes("UTF-8"))
    out.close()
    f.toString
  }

  test("sniffs comma, semicolon, tab and pipe; comma fallback") {
    assert(CsvIngest.sniffDelimiter(spark, tmpCsv("a,b,c\n1,2,3\n", "c.csv")) == ",")
    assert(CsvIngest.sniffDelimiter(spark, tmpCsv("a;b;c\n1;2;3\n", "s.csv")) == ";")
    assert(CsvIngest.sniffDelimiter(spark, tmpCsv("a\tb\tc\n1\t2\t3\n", "t.csv")) == "\t")
    assert(CsvIngest.sniffDelimiter(spark, tmpCsv("a|b|c\n1|2|3\n", "p.csv")) == "|")
    assert(CsvIngest.sniffDelimiter(spark, tmpCsv("single\nrow\n", "n.csv")) == ",")
  }

  test("ingest infers types from the sample and registers the view") {
    val path = tmpCsv(
      "id;price;flag;when\n1;1.5;true;2024-01-01\n2;2.5;false;2024-01-02\n",
      "typed.csv")
    val r = CsvIngest.ingestSalvaged(spark, path, "My Table!", header = true)
    assert(r.table == "My_Table_")
    assert(r.delimiter == ";")
    assert(r.rowCount == 2)
    val byName = r.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("id") == IntegerType)
    assert(byName("price") == DoubleType)
    assert(byName("flag") == BooleanType)
    assert(r.columns.toMap.apply("id") == "INT")
    assert(spark.table("My_Table_").count() == 2)
  }

  test("schema is fixed by the sample — rows beyond it are parsed with it") {
    // sample of 2 sees only ints; the later 'x' row must not widen the schema
    val path = tmpCsv("a\n1\n2\n3\nx\n", "fixed.csv")
    val r = CsvIngest.ingestSalvaged(spark, path, "fixed", sampleRows = 2)
    assert(r.schema.fields.head.dataType == IntegerType)
    // the unparseable row is counted as bad, never NULL-filled
    assert(r.rowCount == 3 && r.badRowCount == 1, r.toString)
    assert(spark.table("fixed").where("a IS NULL").count() == 0)
  }

  test("salvage ingest keeps good rows and counts malformed ones") {
    // row 3 has a non-numeric id and a malformed trailing field count;
    // the reference's per-row salvage (hive_manager.py:317-325) keeps
    // the parseable rows and drops the rest
    val path = tmpCsv(
      "id,price\n1,1.5\n2,2.5\nnot_a_number,oops,extra\n4,4.5\n",
      "dirty.csv")
    val r = CsvIngest.ingestSalvaged(spark, path, "dirty")
    assert(r.rowCount == 3, s"expected 3 salvaged rows, got ${r.rowCount}")
    assert(r.badRowCount == 1, s"expected 1 bad row, got ${r.badRowCount}")
    assert(spark.table(r.table).count() == 3)
  }

  test("headerless files use generated column names") {
    val path = tmpCsv("1,2\n3,4\n", "nohdr.csv")
    val r = CsvIngest.ingestSalvaged(spark, path, "nohdr", header = false)
    assert(r.schema.fieldNames.toSeq == Seq("_c0", "_c1"))
    assert(r.rowCount == 2)
  }

  test("gzipped uploads ingest transparently (sniff + infer + read)") {
    // warehouse uploads commonly arrive compressed; the driver's head
    // read (sniff, inference) picks the codec from the file name, the
    // distributed parse decodes through Spark's Hadoop codec layer
    val f = gzCsv("id;amt\n1;2.5\n2;3.5\n3;4.0\n", "sales.csv.gz")
    assert(CsvIngest.sniffDelimiter(spark, f) == ";")
    val r = CsvIngest.ingestSalvaged(spark, f, "gz_sales", header = true)
    assert(r.rowCount == 3)
    assert(r.schema("amt").dataType == DoubleType)
    assert(spark.table(r.table).agg(org.apache.spark.sql.functions.sum("amt"))
      .head.getDouble(0) == 10.0)
  }

  test("sniffs from the first non-blank line, the one Spark takes as the header") {
    val path = tmpCsv("\n  \na;b\n1;2\n", "blank_head.csv")
    assert(CsvIngest.sniffDelimiter(spark, path) == ";")
    val r = CsvIngest.ingestSalvaged(spark, path, "blank_head")
    assert(r.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(r.rowCount == 1 && r.badRowCount == 0, r.toString)
    assert(spark.table(r.table).collect().map(_.toSeq).toSeq == Seq(Seq(1, 2)))
  }

  test("an empty upload is an IllegalArgumentException naming the path") {
    Seq(tmpCsv("", "empty.csv"), tmpCsv("\n\n", "blank.csv")).foreach { path =>
      val e = intercept[IllegalArgumentException](
        CsvIngest.ingestSalvaged(spark, path, "empty"))
      assert(e.getMessage.contains(path), e.getMessage)
    }
  }

  test("a header-only upload registers an all-STRING table with no rows") {
    val r = CsvIngest.ingestSalvaged(spark, tmpCsv("a;b\n", "hdr_only.csv"), "hdr_only")
    assert(r.schema.map(f => f.name -> f.dataType) == Seq("a" -> StringType, "b" -> StringType))
    assert(r.rowCount == 0 && r.badRowCount == 0)
    assert(spark.table(r.table).count() == 0)
  }

  test("the view reads the full-width parse whatever columns a query names") {
    // the count saw row 3 as bad through its price; a read of id alone
    // (or a bare count) must not let it back in
    val path = tmpCsv("id,price\n1,1.5\n2,2.5\n3,oops\n", "narrow.csv")
    val r = CsvIngest.ingestSalvaged(spark, path, "narrow", sampleRows = 2)
    assert(r.rowCount == 2 && r.badRowCount == 1)
    assert(spark.table(r.table).count() == 2)
    assert(spark.table(r.table).select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("ingest leaves no RDD persisted and no plan cached") {
    // persisted RDDs are compared with the state before, not with an empty
    // context: nothing clears the session between tests. The plan cache is
    // cleared here first, so any plan cached by ingest shows.
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (1 to 3).foreach { i =>
      CsvIngest.ingestSalvaged(spark,
        tmpCsv(s"id;v\n$i;1.5\nx;2\n", s"leak$i.csv"), s"leak$i")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == persisted)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("sniff and inference run no Spark job; a salvaging ingest runs one") {
    val plain = tmpCsv("id;amt\n1;2.5\n2;x\n3;4.0\n", "jobs.csv")
    val gz = gzCsv("id;amt\n1;2.5\n2;x\n3;4.0\n", "jobs.csv.gz")
    Seq(plain, gz).foreach { path =>
      assert(jobsOf(CsvIngest.sniffDelimiter(spark, path)) == 0, path)
      assert(jobsOf(CsvIngest.inferSchema(spark, path, ";", header = true, 1000)) == 0, path)
      var r: CsvIngest.IngestResult = null
      assert(jobsOf { r = CsvIngest.ingestSalvaged(spark, path, "jobs", sampleRows = 1) } == 1,
        path)
      assert(r.rowCount == 2 && r.badRowCount == 1, r.toString)
    }
  }

  test("driver-side inference equals Spark's CSV inference over the same lines") {
    val cases = Seq(
      ("ints", "a,b\n1,-2\n3,4\n", true),
      ("longs", "a,b\n1,9000000000\n2,3\n", true),
      ("doubles", "a,b\n1.5,2\n-3e2,4.25\n", true),
      ("booleans", "a,b\ntrue,1\nFALSE,0\n", true),
      ("dates", "a,b\n2024-01-01,1\n2024-02-29,2\n", true),
      ("timestamps", "a,b\n2024-01-01 10:00:00,2024-01-01T10:00:00\n" +
        "2024-02-29 23:59:59.5,2024-03-01T00:00:00Z\n", true),
      ("empty cells", "a,b,c\n1,,x\n,2.5,\n", true),
      ("quoted delimiters", "a,b\n\"x,y\",1\n\"z\",2\n", true),
      ("duplicate and empty names", "a,A,,b,b\n1,2,3,4,5\n", true),
      ("CRLF line endings", "a,b\r\n1,2.5\r\n3,4.5\r\n", true),
      ("header = false", "1,x,2.5\n2,y,3.5\n", false),
      ("byte-order mark", "\uFEFFa,b\n1,2\n", true),
      ("byte-order mark, header = false", "\uFEFF1,x\n2,y\n", false),
      ("mixed widening", "a,b\n1,true\n2.5,x\n9000000000,\n", true))
    cases.foreach { case (what, content, header) =>
      val path = tmpCsv(content, "parity.csv")
      val lines = spark.read.textFile(path)
      val expected = spark.read.option("header", header.toString).option("sep", ",")
        .option("inferSchema", "true").csv(lines).schema
      assert(CsvIngest.inferSchema(spark, path, ",", header, 1000) == expected, what)
    }
  }
}
