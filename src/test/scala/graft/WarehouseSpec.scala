package graft

import java.nio.file.Files

import graft.catalog.Warehouse
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {

  private lazy val wh = new Warehouse(spark)

  test("health probe") {
    assert(wh.healthy())
  }

  test("health probe is two-sided: unreachable storage reports unhealthy") {
    // mirrors the reference /health (app.py:125-147): engine and
    // storage are probed independently
    val ok = wh.health()
    assert(ok.engine && ok.storage && ok.ok)
    val bad = wh.health(Some("nosuchfs://bucket/warehouse"))
    assert(bad.engine, "engine side unaffected by storage path")
    assert(!bad.storage && !bad.ok, "unresolvable scheme must fail storage")
    // a warehouse dir that merely doesn't exist yet is still healthy
    // (first managed write creates it) — reachability, not existence
    val fresh = wh.health(
      Some(s"${System.getProperty("java.io.tmpdir")}/graft-wh-never-created"))
    assert(fresh.storage)
  }

  test("selfTest round-trips create -> probe -> drop -> data preserved") {
    // the reference's disabled warehouse self-test
    // (hive_manager.py:351-384), working: every leg reports green and
    // the scratch table is gone afterwards
    val st = wh.selfTest()
    assert(st.created && st.probed && st.dropped && st.dataPreserved && st.ok)
    assert(!wh.exists(s"graft_selftest_p${ProcessHandle.current().pid()}"),
      "selfTest must clean up its scratch table")
  }

  test("partitioned external CSV: recoverPartitions + SHOW PARTITIONS + pruning") {
    val dir = Files.createTempDirectory("graft-wh-part")
    Files.createDirectories(dir.resolve("region=asia"))
    Files.createDirectories(dir.resolve("region=eu"))
    Files.writeString(dir.resolve("region=asia/p0.csv"), "1.5\n2.5\n")
    Files.writeString(dir.resolve("region=eu/p0.csv"), "4.0\n")
    wh.drop("part_sales")
    val t = wh.createExternalCsvPartitioned("part_sales", dir.toString,
      Seq("amount" -> "DOUBLE"), Seq("region" -> "STRING"))
    // the in-memory catalog lists files directly, so MSCK is a no-op
    // here (HiveDemoSpec proves the 0-rows-before contract on a real
    // metastore); this pins the DDL + recover + SHOW PARTITIONS surface
    wh.recoverPartitions(t)
    assert(spark.table(t).count() == 3)
    assert(wh.partitions(t) == Seq("region=asia", "region=eu"))
    // partition pruning: a filter on the partition col reads one dir
    val pruned = spark.table(t).where(col("region") === "eu")
    assert(pruned.select(input_file_name()).distinct().count() == 1)
    assert(pruned.agg(sum("amount")).head().getDouble(0) == 4.0)
    wh.drop(t)
    assert(Files.exists(dir.resolve("region=asia/p0.csv")),
      "drop must keep external partitioned data")
  }

  test("failed CREATE retries under a generated simple name (reference fallback)") {
    val dir = Files.createTempDirectory("graft-wh-retry")
    val f = dir.resolve("r.csv")
    Files.writeString(f, "k,v\n1,a\n")
    wh.drop("retry_t")
    assert(wh.createExternalCsv("retry_t", f.toString) == "retry_t")
    // same name again: CREATE TABLE collides -> the reference retries
    // once under a generated simple name (hive_manager.py:194-217)
    val fallback = wh.createExternalCsv("retry_t", f.toString)
    assert(fallback != "retry_t" && fallback.startsWith("table_"))
    assert(wh.exists(fallback))
    assert(wh.info(fallback).rowCount == 1)
    wh.drop(fallback); wh.drop("retry_t")
  }

  test("cache/drop/info accept the same raw name the create path sanitized") {
    import spark.implicits._
    wh.drop("cache-dash")
    val t = wh.createManaged("cache-dash", Seq((1, "a")).toDF("k", "v"))
    assert(t == "cache_dash")
    // the caller keeps using the raw name everywhere; every method
    // resolves it through the same sanitize rule
    wh.cache("cache-dash")
    spark.table(t).count()
    assert(wh.isCached("cache-dash"))
    wh.uncache("cache-dash")
    assert(!wh.isCached("cache-dash"))
    assert(wh.info("cache-dash").rowCount == 1)
    wh.drop("cache-dash")
    assert(!wh.exists("cache-dash"))
  }

  scaleTest("createBucketed tables join with no shuffle on the bucket key") {
    val o = Tables.t(spark, sf(), "orders")
    val c = Tables.t(spark, sf(), "customer")
    wh.drop("orders_wb"); wh.drop("customer_wb")
    assert(wh.createBucketed("orders_wb", o,
      Seq("o_custkey"), 8, sortCols = Seq("o_custkey")) == "orders_wb")
    assert(wh.createBucketed("customer_wb", c,
      Seq("c_custkey"), 8, sortCols = Seq("c_custkey")) == "customer_wb")
    val savedThreshold =
      spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_wb")
        .join(spark.table("customer_wb"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").count()
      val plan = joined.queryExecution.executedPlan.toString
      val keyExchanges =
        "Exchange hashpartitioning\\(o_custkey".r.findAllIn(plan).size +
          "Exchange hashpartitioning\\(c_custkey".r.findAllIn(plan).size
      assert(keyExchanges == 0,
        s"co-bucketed join must not shuffle its inputs:\n${plan.take(2000)}")
      assert(joined.agg(sum("count")).head().getLong(0) == o.count())
    } finally {
      savedThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      wh.drop("orders_wb"); wh.drop("customer_wb")
    }
  }

  test("external table lifecycle: create, exists, info, drop keeps data") {
    val dir = Files.createTempDirectory("graft-wh")
    val f = dir.resolve("ext.csv")
    Files.writeString(f, "k,v\n1,a\n2,b\n")
    wh.drop("ext_t")
    wh.createExternalCsv("ext_t", f.toString)
    assert(wh.exists("ext_t"))
    assert(wh.listTables().contains("ext_t"))
    val info = wh.info("ext_t")
    assert(info.rowCount == 2)
    assert(info.isExternal)
    assert(info.columns.map(_._1) == Seq("k", "v"))
    wh.refresh("ext_t")
    wh.drop("ext_t")
    assert(!wh.exists("ext_t"))
    assert(Files.exists(f)) // EXTERNAL semantics: drop keeps the data
  }

  test("external table path containing a quote is escaped in DDL") {
    val dir = Files.createTempDirectory("graft-o'brien")
    val f = dir.resolve("q.csv")
    Files.writeString(f, "a,b\n1,x\n")
    wh.drop("quoted_t")
    wh.createExternalCsv("quoted_t", f.toString)
    assert(wh.info("quoted_t").rowCount == 1)
    wh.drop("quoted_t")
  }

  test("managed table lifecycle") {
    import spark.implicits._
    wh.drop("mng_t")
    wh.createManaged("mng_t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    assert(wh.exists("mng_t"))
    val info = wh.info("mng_t")
    assert(info.rowCount == 3)
    assert(!info.isExternal)
    assert(wh.describe("mng_t").fieldNames.toSeq == Seq("k", "v"))
    wh.drop("mng_t")
    assert(!wh.exists("mng_t"))
  }

  test("ALTER TABLE: add columns null-fills existing data; rename moves the name") {
    import spark.implicits._
    wh.drop("alter_t"); wh.drop("alter_t2")
    wh.createManaged("alter_t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // add two columns — existing parquet files have no such column, so
    // reads must null-fill (schema evolution without rewriting data)
    wh.alterAddColumns("alter_t", Seq("score" -> "DOUBLE", "tag" -> "STRING"))
    assert(wh.describe("alter_t").fieldNames.toSeq == Seq("k", "v", "score", "tag"))
    val rows = spark.table("alter_t").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2), r.isNullAt(3)))
    assert(rows.toSeq == Seq((1L, "a", true, true), (2L, "b", true, true)))
    // new writes carry the evolved schema alongside the old files
    spark.sql("INSERT INTO alter_t VALUES (3, 'c', 0.5, 'new')")
    assert(spark.table("alter_t").where(col("tag") === "new").count() == 1)
    assert(wh.info("alter_t").rowCount == 3)
    // rename: old name gone, new name carries the data + evolved schema
    val t2 = wh.alterRename("alter_t", "alter_t2")
    assert(t2 == "alter_t2" && !wh.exists("alter_t") && wh.exists("alter_t2"))
    assert(wh.info("alter_t2").rowCount == 3)
    assert(wh.describe("alter_t2").fieldNames.toSeq == Seq("k", "v", "score", "tag"))
    // raw names flow through the same sanitize rule as every other verb
    val t3 = wh.alterRename("alter_t2", "alter-t3")
    assert(t3 == "alter_t3" && wh.exists("alter_t3"))
    wh.drop("alter_t3")
  }

  test("ALTER DROP COLUMN is metadata-only; RENAME COLUMN rewrites; types are parsed") {
    import spark.implicits._
    wh.drop("alterd_t")
    wh.createManaged("alterd_t",
      Seq((1L, "a", 0.5), (2L, "b", 0.7)).toDF("k", "v", "score"))
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("alterd_t"))
      .location.toString
    // drop: catalog schema shrinks, data survives, and the parquet
    // files still CARRY the dropped column (metadata-only, no rewrite)
    wh.alterDropColumns("alterd_t", Seq("score"))
    assert(wh.describe("alterd_t").fieldNames.toSeq == Seq("k", "v"))
    assert(spark.table("alterd_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    assert(spark.read.parquet(loc).schema.fieldNames.contains("score"),
      "drop must not rewrite files")
    // guards: unknown column, dropping everything
    intercept[IllegalArgumentException](
      wh.alterDropColumns("alterd_t", Seq("nope")))
    intercept[IllegalArgumentException](
      wh.alterDropColumns("alterd_t", Seq("k", "v")))
    // rename column: data + schema order carried (rewrite path)
    wh.alterRenameColumn("alterd_t", "v", "name")
    assert(wh.describe("alterd_t").fieldNames.toSeq == Seq("k", "name"))
    assert(spark.table("alterd_t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    // guards: source must exist, target must not collide
    intercept[IllegalArgumentException](
      wh.alterRenameColumn("alterd_t", "nope", "x"))
    intercept[IllegalArgumentException](
      wh.alterRenameColumn("alterd_t", "k", "name"))
    // a hostile "type" string must be rejected by the parser, never
    // spliced into DDL (it would inject an extra column definition)
    intercept[IllegalArgumentException](
      wh.alterAddColumns("alterd_t", Seq("x" -> "INT, injected INT")))
    assert(wh.describe("alterd_t").fieldNames.toSeq == Seq("k", "name"))
    wh.drop("alterd_t")
    // external tables refuse the rewrite-based rename
    val dir = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"), "graft_rencol_ext")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "d.csv"), true)
      try out.write("id,name\n1,alpha\n".getBytes("UTF-8")) finally out.close()
      wh.drop("rencol_ext")
      wh.createExternalCsv("rencol_ext", dir.toString)
      intercept[IllegalArgumentException](
        wh.alterRenameColumn("rencol_ext", "id", "id2"))
      wh.drop("rencol_ext")
    } finally fs.delete(dir, true)
  }

  test("RENAME COLUMN carries provider and bucket spec through the rewrite") {
    import spark.implicits._
    wh.drop("rencol_bkt")
    // an ORC bucketed+sorted table: a plain saveAsTable rewrite would
    // re-encode it in the session default (parquet) and silently drop
    // the bucketing — both change the DATA layout (ADVICE r13)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "score").write.format("orc")
      .bucketBy(4, "k").sortBy("score").saveAsTable("rencol_bkt")
    // rename the NON-bucket column: format + spec must survive
    wh.alterRenameColumn("rencol_bkt", "v", "label")
    def meta() = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("rencol_bkt"))
    assert(meta().provider.exists(_.equalsIgnoreCase("orc")))
    assert(meta().bucketSpec.exists(bs =>
      bs.numBuckets == 4 && bs.bucketColumnNames == Seq("k")
        && bs.sortColumnNames == Seq("score")))
    // rename the bucket column itself: the spec follows the new name
    wh.alterRenameColumn("rencol_bkt", "k", "id")
    assert(meta().bucketSpec.exists(_.bucketColumnNames == Seq("id")))
    assert(spark.table("rencol_bkt").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // no orphaned tmp table from the swap
    assert(!wh.listTables().exists(_.contains("_rencol_p")))
    wh.drop("rencol_bkt")
  }

  test("ANALYZE TABLE records row count and column stats for the CBO") {
    import spark.implicits._
    wh.drop("stats_t")
    // a crashed prior JVM can leave the managed location behind while
    // the (in-memory) catalog forgot the table — clear it
    val loc = new org.apache.hadoop.fs.Path(
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse/stats_t")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    wh.createManaged("stats_t", (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "v"))
    val (size, rows) = wh.analyze("stats_t")
    assert(size > 0)
    assert(rows.contains(BigInt(500)))
    // column-level NDV reached the catalog (what CBO join planning reads)
    val kStats = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("stats_t"))
      .stats.flatMap(_.colStats.get("k"))
    assert(kStats.flatMap(_.distinctCount).exists(_ >= BigInt(400)))
    wh.drop("stats_t")
  }

  test("managed table from a raw name is sanitized like the reference") {
    import spark.implicits._
    wh.drop("mng_dash")
    // Spark's catalog rejects '-' even backtick-quoted; the reference
    // sanitizes raw names before DDL (hive_manager.py:140) and so do we
    val t = wh.createManaged("mng-dash", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(t == "mng_dash")
    assert(wh.exists(t))
    assert(wh.info(t).rowCount == 2)
    wh.drop(t)
  }

  test("view + CTAS + cache lifecycle") {
    import spark.implicits._
    Seq("v_top", "ctas_t", "base_t").foreach { n =>
      spark.sql(s"DROP VIEW IF EXISTS $n")
      wh.drop(n)
    }
    wh.createManaged("base_t", Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "g"))
    // view: a stored query, re-evaluated per read
    val v = wh.createView("v_top", "SELECT g, count(*) AS n FROM base_t GROUP BY g")
    assert(spark.table(v).count() == 2)
    // CTAS: materialized once
    val c = wh.createTableAs("ctas_t", "SELECT * FROM base_t WHERE k <= 2")
    assert(spark.table(c).count() == 2)
    // cache pin/release
    wh.cache("base_t")
    spark.table("base_t").count() // materialize the lazy cache
    assert(wh.isCached("base_t"))
    wh.uncache("base_t")
    assert(!wh.isCached("base_t"))
    spark.sql("DROP VIEW IF EXISTS v_top")
    wh.drop(c); wh.drop("base_t")
  }

  /** VERDICT r7 #8: prove ANALYZE visibly pays — a plan must CHANGE
    * because stats exist. The scenario is the one raw file sizes
    * cannot solve: a dimension whose files are ABOVE the broadcast
    * threshold but whose FILTERED size is far below it. Without
    * column stats Spark's size-only estimator propagates the child
    * size through a Filter unchanged → sort-merge join; with
    * `ANALYZE ... FOR ALL COLUMNS` + CBO, equality selectivity = 1/NDV
    * shrinks the estimate ~100× → broadcast hash join. AQE is off for
    * the test so the flip is attributable to compile-time stats, not
    * runtime re-planning (at 100 TB the compile-time choice is what
    * saves the doomed shuffle from ever starting).
    */
  scaleTest("ANALYZE column stats flip a filtered-dim join from shuffle to broadcast") {
    val dir = Files.createTempDirectory("graft-cbo").toFile.getAbsolutePath
    // ~2000 rows of incompressible 32-char payload → parquet well
    // above the 32 KB threshold below
    spark.range(2000)
      .selectExpr("id AS d_key", "id % 100 AS d_bucket",
        "md5(CAST(id AS STRING)) AS d_pad")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/dim")
    spark.sql("DROP TABLE IF EXISTS cbo_dim")
    spark.sql("DROP TABLE IF EXISTS cbo_fact")
    spark.sql(s"CREATE TABLE cbo_dim USING parquet OPTIONS (path '$dir/dim')")
    wh.createManaged("cbo_fact",
      spark.range(100000).selectExpr("id % 2000 AS f_key"))
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "32kb")
      // d_pad is in the output so column pruning cannot shrink the
      // no-stats size estimate below the threshold on its own — the
      // flip must come from the FILTER selectivity, which only column
      // stats can supply
      def plan(): String = spark.sql(
        """SELECT sum(length(d_pad)) FROM cbo_fact
          |JOIN cbo_dim ON f_key = d_key
          |WHERE d_bucket = 7""".stripMargin)
        .queryExecution.executedPlan.toString
      val before = plan()
      assert(before.contains("SortMergeJoin") &&
        !before.contains("BroadcastHashJoin"),
        s"without stats the filtered dim must NOT broadcast:\n$before")
      val (sizeB, rowsB) = wh.analyze("cbo_dim")
      assert(rowsB.contains(BigInt(2000)), "ANALYZE must record rowCount")
      assert(sizeB > 32 * 1024, "the UNfiltered dim must stay above threshold")
      val after = plan()
      assert(after.contains("BroadcastHashJoin"),
        s"with column stats the filtered dim must broadcast:\n$after")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql("DROP TABLE IF EXISTS cbo_dim")
      wh.drop("cbo_fact")
    }
  }
}
