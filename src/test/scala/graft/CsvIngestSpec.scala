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
    // warehouse uploads commonly arrive compressed; the Hadoop codec
    // layer decodes .gz on every read path (sniff sample, inference
    // sample, full scan) with no CsvIngest special-casing
    val dir = Files.createTempDirectory("graft-gz")
    val f = dir.resolve("sales.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write("id;amt\n1;2.5\n2;3.5\n3;4.0\n".getBytes("UTF-8"))
    out.close()
    assert(CsvIngest.sniffDelimiter(spark, f.toString) == ";")
    val r = CsvIngest.ingestSalvaged(spark, f.toString, "gz_sales", header = true)
    assert(r.rowCount == 3)
    assert(r.schema("amt").dataType == DoubleType)
    assert(spark.table(r.table).agg(org.apache.spark.sql.functions.sum("amt"))
      .head.getDouble(0) == 10.0)
  }
}
