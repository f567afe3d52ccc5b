package graft

import java.nio.file.Files

import graft.catalog.Warehouse
import graft.ingest.CsvIngest

/** Runnable tour of the engine facade — the reference's REST surface
  * (process-csv → tables → info → query → drop, reference
  * backend/app.py:32-233) as a library flow. `sbt "runMain
  * graft.EngineDemo"` prints each step.
  */
object EngineDemo {
  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft-demo")
    val spark = Session.builder(dir.toString)
      .appName("graft-demo")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-demo-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. "upload": a CSV lands somewhere reachable
    val csv = dir.resolve("sales.csv")
    Files.writeString(csv,
      "region;amount;when\nasia;10.5;2024-01-01\nasia;4.5;2024-01-02\neu;7.25;2024-01-01\n")

    // 2. process-csv: normalize upload layout, then sniff + infer +
    //    salvaging parse + register
    val loc = CsvIngest.normalizeUploadLayoutFs(spark, csv.toString)
    println(s"[demo] upload normalized into dir=$loc")
    val r = CsvIngest.ingestSalvaged(spark, loc, "Sales Upload!")
    println(s"[demo] ingested table=${r.table} delim='${r.delimiter}' " +
      s"rows=${r.rowCount} bad=${r.badRowCount}")
    r.columns.foreach { case (n, t) => println(s"[demo]   column $n: $t") }

    // 3. catalog: external table + info, after the deploy smoke probe
    //    (the reference's disabled test_table_creation, now working)
    val wh = new Warehouse(spark)
    println(s"[demo] warehouse selftest ok=${wh.selfTest().ok}")
    wh.drop("sales_ext")
    wh.createExternalCsv("sales_ext", loc, header = true, delimiter = ";")
    val info = wh.info("sales_ext")
    println(s"[demo] catalog tables=${wh.listTables().mkString(",")}")
    println(s"[demo] sales_ext rows=${info.rowCount} external=${info.isExternal}")

    // 4. the (D) surface: SQL over the registered table
    spark.sql(
      s"""SELECT region, round(sum(amount), 2) AS total
         |FROM sales_ext GROUP BY region ORDER BY region""".stripMargin)
      .collect()
      .foreach(row => println(s"[demo] total ${row.getString(0)} = ${row.getDouble(1)}"))

    // 4b. derived relations: a stored VIEW over the table, a CTAS
    //     materialization, and a cache pin for hot interactive reads
    spark.sql("DROP VIEW IF EXISTS sales_by_region")
    wh.drop("sales_top")
    wh.createView("sales_by_region",
      "SELECT region, round(sum(amount), 2) AS total FROM sales_ext GROUP BY region")
    wh.createTableAs("sales_top",
      "SELECT * FROM sales_by_region ORDER BY total DESC LIMIT 1")
    wh.cache("sales_by_region")
    println(s"[demo] view rows=${spark.table("sales_by_region").count()} " +
      s"ctas top=${spark.table("sales_top").head.getString(0)} " +
      s"cached=${wh.isCached("sales_by_region")}")
    wh.uncache("sales_by_region")
    spark.sql("DROP VIEW IF EXISTS sales_by_region")
    wh.drop("sales_top")

    // 4c. schema evolution: the full ALTER surface over a managed
    //     copy — add (null-filled on old files), drop (metadata-only),
    //     rename-column (rewrite; parquet resolves by name), rename
    wh.drop("sales_evolved")
    wh.drop("sales_hist")
    wh.createManaged("sales_hist", spark.table("sales_ext"))
    wh.alterAddColumns("sales_hist", Seq("discount" -> "DOUBLE"))
    wh.alterDropColumns("sales_hist", Seq("when"))
    wh.alterRenameColumn("sales_hist", "amount", "gross")
    val evolved = wh.alterRename("sales_hist", "sales_evolved")
    println(s"[demo] evolved schema=${wh.describe(evolved).fieldNames.mkString(",")} " +
      s"rows=${wh.info(evolved).rowCount}")
    wh.drop(evolved)

    // 5. custom expression injected via SparkSessionExtensions
    val h = spark.sql(
      "SELECT md5long60('graft') AS fast, CAST(conv(substring(md5('graft'), 1, 15), 16, 10) AS BIGINT) AS portable")
      .head()
    println(s"[demo] md5long60 fast=${h.getLong(0)} portable=${h.getLong(1)} equal=${h.getLong(0) == h.getLong(1)}")

    // 6. flagship query over the fixtures
    val flag = SparkEntry.entry(spark)
    println(s"[demo] flagship revenue-by-nation rows=${flag.count()}")

    // 7. streaming: sliding windows over the events fixture, run to
    //    completion through a real MicroBatchExecution
    val sliding = graft.streaming.EventStreams
      .slidingCounts(spark, "/root/testdata/sf0.001", "demo_sliding")
    println(s"[demo] streaming sliding windows=${sliding.count()}")

    // 8. skew-safe aggregation
    import org.apache.spark.sql.functions.{round, sum}
    val salted = graft.functions.Skew.saltedAggregate(
      Tables.parquet(spark, "/root/testdata/sf0.001/lineitem.parquet"),
      "l_returnflag", saltBuckets = 8,
      partial = Seq(sum("l_quantity").as("ps")),
      merge = Seq(round(sum("ps"), 2).as("qty")))
    salted.orderBy("l_returnflag").collect()
      .foreach(r => println(s"[demo] salted qty ${r.get(0)} = ${r.get(1)}"))

    // 9. the corpus-prep pipeline a training run ships: gate →
    //    exact dedup → LSH+connected-components dedup → packing
    val docs = Tables.docs(spark, "/root/testdata/sf0.001")
    val kept = graft.pipeline.CorpusPrep.prepare(docs, minTokens = 5)
    val packed = graft.pipeline.CorpusPrep.pack(kept, seqLen = 512)
    println(s"[demo] corpus prep: ${docs.count()} docs -> ${kept.count()} kept " +
      s"-> ${packed.count()} training sequences")

    // 10. z-order layout: re-cluster a table so range predicates on
    //     either column map to few files
    val zdir = dir.resolve("orders_z").toString
    graft.layout.ZOrder.cluster(
      Tables.parquet(spark, "/root/testdata/sf0.001/orders.parquet"),
      Seq("o_custkey", "o_totalprice"), numFiles = 4)
      .write.mode("overwrite").parquet(zdir)
    println(s"[demo] z-ordered orders into ${Tables.parquet(spark, zdir)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()} files")

    wh.drop("sales_ext")
    println(s"[demo] dropped; csv still present=${
      Files.exists(java.nio.file.Paths.get(loc, "sales.csv"))}")
    spark.stop()
  }
}
