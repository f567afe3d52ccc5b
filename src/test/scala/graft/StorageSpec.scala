package graft

import java.nio.file.{Files, Paths}

import graft.ingest.CsvIngest
import org.apache.spark.sql.functions._

/** Storage-layer coverage: ORC read/write (SURVEY §2.1 S8),
  * partitioned writes with partition pruning, and the reference's
  * upload-layout normalization (S3).
  */
class StorageSpec extends SparkSpec {

  test("orc round-trip preserves schema and rows") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val src = Tables.t(spark, sf(), "nation")
    src.write.mode("overwrite").orc(s"$dir/nation_orc")
    val back = spark.read.orc(s"$dir/nation_orc")
    assert(back.schema == src.schema)
    assert(back.count() == 25)
    assert(back.exceptAll(src).isEmpty)
  }

  test("partitioned write prunes partitions at scan time") {
    val dir = Files.createTempDirectory("graft-part").toString
    Tables.t(spark, sf(), "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(s"$dir/orders_p")
    val part = spark.read.parquet(s"$dir/orders_p").filter(col("yr") === 1996)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(yr"),
      s"expected partition filter in scan:\n${plan.take(1500)}")
    // pruned result matches a full-scan filter
    val full = Tables.t(spark, sf(), "orders")
      .filter(year(col("o_orderdate")) === 1996).count()
    assert(part.count() == full)
    // physical layout: one directory per year
    assert(Files.list(Paths.get(s"$dir/orders_p")).iterator().hasNext)
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    // the 100 TB pattern: a fact partitioned on a key joined to a
    // filtered dimension — the partitions to read are only known
    // AFTER the dim filter runs, so Spark injects a runtime
    // DynamicPruning subquery into the fact scan instead of reading
    // every partition
    val dir = Files.createTempDirectory("graft-dpp").toString
    Tables.t(spark, sf(), "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(s"$dir/orders_p")
    val fact = spark.read.parquet(s"$dir/orders_p")
    val dim = spark.range(1992, 1999).select(
      col("id").cast("int").as("dyr"),
      when(col("id") === 1996, "pick").otherwise("skip").as("tag"))
    val joined = fact.join(broadcast(dim),
        fact("yr") === dim("dyr") && dim("tag") === "pick")
      .groupBy("yr").agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan should carry a DynamicPruning subquery:\n${plan.take(2000)}")
    val rows = joined.collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 1996)
  }

  test("upload layout normalization nests root-level files") {
    val dir = Files.createTempDirectory("graft-upl")
    val f = dir.resolve("table42.csv")
    Files.writeString(f, "a,b\n1,2\n")
    val loc = CsvIngest.normalizeUploadLayoutFs(spark, f.toString)
    assert(loc == dir.resolve("table42").toString)
    assert(Files.exists(Paths.get(loc, "table42.csv")))
    assert(!Files.exists(f))
    // idempotent: second call recognizes the nested layout
    assert(CsvIngest.normalizeUploadLayoutFs(spark, s"$loc/table42.csv") == loc)
    // and the normalized dir ingests as a table location
    val r = CsvIngest.ingestSalvaged(spark, loc, "upl42")
    assert(r.rowCount == 1)
  }

  test("dynamic partition overwrite rewrites only the touched partitions") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-dpo").toString + "/t"
    val o = Tables.t(spark, sf(), "orders")
      .withColumn("yr", year(col("o_orderdate")))
    o.write.partitionBy("yr").parquet(dir)
    val before = spark.read.parquet(dir)
    val n1996 = before.filter(col("yr") === 1996).count()
    val nTotal = before.count()
    // overwrite ONLY yr=1995 (one row, dynamic mode): with static
    // overwrite this would truncate the whole table first
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      before.filter(col("yr") === 1995).limit(1)
        .write.mode("overwrite").partitionBy("yr").parquet(dir)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("yr") === 1995).count() == 1,
      "the touched partition is replaced")
    assert(after.filter(col("yr") === 1996).count() == n1996,
      "untouched partitions must survive the overwrite")
    assert(after.count() < nTotal && after.count() > n1996)
  }

  test("DISTRIBUTE BY + SORT BY: rows are sorted within each partition") {
    val df = Tables.t(spark, sf(), "orders")
      .repartition(4, col("o_custkey"))          // DISTRIBUTE BY
      .sortWithinPartitions(col("o_totalprice")) // SORT BY
    val ok = df.select("o_totalprice").rdd
      .mapPartitions { it =>
        val v = it.map(_.getDouble(0)).toSeq
        Iterator(v == v.sorted)
      }.collect()
    assert(ok.forall(identity), "each partition must be internally sorted")
  }

  test("q241 IVM invariant: snapshot+delta merge equals the full recompute, key for key") {
    val merged = Q.byName("q241_incremental_view_maintenance").fn(spark, sf())
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val full = Tables.t(spark, sf(), "orders")
      .join(Tables.t(spark, sf(), "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.t(spark, sf(), "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(graft.functions.Portable.moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(merged == full,
      "incremental maintenance must reproduce the full aggregate exactly")
    // and the attribution columns must cover every order exactly once
    val rows = Q.byName("q241_incremental_view_maintenance").fn(spark, sf()).collect()
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_snapshot")) +
        r.getLong(r.fieldIndex("n_delta")) == r.getLong(r.fieldIndex("n_orders")))
    }
  }

  test("q260 holistic IVM: merged-histogram median lands within one bin of exact") {
    val rows = Q.byName("q260_quantile_view_maintenance").fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getBoolean(3), s"median outside the declared half-bin bound: $r")
      assert(math.abs(r.getDouble(2) - r.getDouble(1)) <= 1000.0)
    }
    // driver recompute of the merged-histogram estimate: bin counts
    // merge by addition, so the estimate must equal a direct
    // single-pass histogram's two-middle-bin-midpoint average
    val vals = Tables.t(spark, sf(), "orders")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val want = vals.groupBy(_._1).map { case (pr, xs) =>
      val hist = xs.map(x => math.floor(x._2 / 2000).toLong)
        .groupBy(identity).map { case (b, g) => b -> g.size.toLong }
      val n = xs.length.toLong
      val cums = hist.keys.toSeq.sorted
        .scanLeft((Long.MinValue, 0L)) { case ((_, cum), b) => (b, cum + hist(b)) }
        .drop(1)
      val blo = cums.find(_._2 >= (n + 1) / 2).get._1
      val bhi = cums.find(_._2 >= n / 2 + 1).get._1
      pr -> ((blo + bhi + 1.0) * 1000)
    }
    for (r <- rows)
      assert(r.getDouble(2) == want(r.getString(0)),
        s"estimated median for ${r.getString(0)}")
  }
}
