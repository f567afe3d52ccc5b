package graft

import java.nio.file.Files

import graft.catalog.Warehouse

/** Production-mode proof: the SAME Warehouse facade the harness
  * exercises against Spark's in-memory catalog, driven against a REAL
  * Hive metastore (enableHiveSupport over an embedded Derby HMS —
  * the BASELINE "Spark SQL over Hive metastore + Parquet" deployment
  * shape, minus only the Thrift network hop). Run:
  *
  *   sbt "runMain graft.HiveDemo"
  *
  * Needs its own JVM because catalogImplementation is fixed at the
  * first SparkSession of a process — hence a main, not a ScalaTest
  * suite sharing the in-memory-catalog session.
  */
object HiveDemo {
  def main(args: Array[String]): Unit = {
    val wh = Files.createTempDirectory("graft-hive-wh")
    val ms = Files.createTempDirectory("graft-hive-ms")
    val spark = Session.builder(wh.toString)
      .appName("graft-hive-demo")
      .config("spark.sql.warehouse.dir", wh.toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$ms/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[hive] catalogImplementation=" +
      spark.conf.get("spark.sql.catalogImplementation"))

    val w = new Warehouse(spark)
    println(s"[hive] healthy=${w.healthy()}")

    // external CSV table: DDL goes through the Hive metastore client
    val dir = Files.createTempDirectory("graft-hive-data")
    Files.writeString(dir.resolve("sales.csv"),
      "region,amount\nasia,7.5\nasia,7.5\neu,7.25\n")
    val ext = w.createExternalCsv("hive sales!", dir.resolve("sales.csv").toString)
    println(s"[hive] created external table=$ext (sanitized from 'hive sales!')")
    val info = w.info(ext)
    println(s"[hive] rows=${info.rowCount} external=${info.isExternal} " +
      s"cols=${info.columns.map(_._1).mkString(",")}")

    // managed parquet table written INTO the Hive warehouse
    import spark.implicits._
    val mng = w.createManaged("hive_mng",
      Seq(("asia", 15.0), ("eu", 7.25)).toDF("region", "total"))
    println(s"[hive] tables=${w.listTables().mkString(",")}")

    // a query joining both through the metastore-backed catalog
    val joined = spark.sql(
      s"SELECT s.region, sum(s.amount) AS amt, max(t.total) AS total " +
        s"FROM ${graft.types.Types.quote(ext)} s JOIN $mng t USING (region) " +
        s"GROUP BY s.region ORDER BY s.region")
      .collect()
    joined.foreach(r => println(s"[hive] ${r.getString(0)} amt=${r.getDouble(1)} total=${r.getDouble(2)}"))

    // partitioned external table + MSCK REPAIR on the REAL metastore:
    // with Hive-managed filesource partitions the table sees ZERO
    // rows until recoverPartitions registers the directory layout —
    // the S6 contract the in-memory catalog can't exhibit (it lists
    // files directly). Layout: region=asia/ and region=eu/ CSV parts.
    val pdir = Files.createTempDirectory("graft-hive-part")
    Files.createDirectories(pdir.resolve("region=asia"))
    Files.createDirectories(pdir.resolve("region=eu"))
    Files.writeString(pdir.resolve("region=asia/part-0.csv"), "7.5\n7.5\n")
    Files.writeString(pdir.resolve("region=eu/part-0.csv"), "7.25\n1.0\n")
    val part = w.createExternalCsvPartitioned("hive_part_sales",
      pdir.toString, Seq("amount" -> "DOUBLE"), Seq("region" -> "STRING"))
    val before = spark.table(part).count()
    w.recoverPartitions(part)
    println(s"[hive] partitioned: rows before msck=$before " +
      s"after=${spark.table(part).count()} " +
      s"partitions=${w.partitions(part).mkString(",")}")
    w.drop(part)
    println(s"[hive] partitioned dropped; part file still present=" +
      Files.exists(pdir.resolve("region=asia/part-0.csv")))

    // schema evolution against the REAL metastore: add (null-filled),
    // drop (metadata-only via HiveExternalCatalog.alterTableDataSchema
    // — files untouched), rename-column (managed rewrite), rename
    w.alterAddColumns(mng, Seq("discount" -> "DOUBLE"))
    w.alterDropColumns(mng, Seq("discount"))
    w.alterRenameColumn(mng, "total", "gross")
    val mng2 = w.alterRename(mng, "hive_mng_evolved")
    println(s"[hive] evolved schema=${w.describe(mng2).fieldNames.mkString(",")} " +
      s"rows=${w.info(mng2).rowCount}")
    w.drop(mng2)

    // the deploy smoke probe, on the production catalog
    println(s"[hive] selftest ok=${w.selfTest().ok}")

    // EXTERNAL semantics survive the real metastore: drop keeps data
    w.drop(ext)
    w.drop(mng)
    println(s"[hive] dropped; csv still present=" +
      Files.exists(dir.resolve("sales.csv")))
    spark.stop()
  }
}
