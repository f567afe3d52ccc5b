package graft

import graft.functions.{Dist, Portable}
import graft.graph.ConnectedComponents
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ConnectedComponents against hand-checked graphs; Dist.globalCumsum
  * against the naive single-partition window it replaces.
  */
class GraphDistSpec extends SparkSpec {

  test("connected components: chain, star, self-loop singleton") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), star 10-{11,12,13}, lone node 20
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 20L)).toDF("a", "b")
    val got = ConnectedComponents.run(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L)
    assert(got == want)
  }

  test("connected components: two chains merge through a shared node") {
    import spark.implicits._
    // 5-6-7 and 7-8-9 are one component labelled 5
    val edges = Seq((6L, 5L), (7L, 6L), (8L, 7L), (9L, 8L)).toDF("a", "b")
    val got = ConnectedComponents.run(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (5L to 9L).map(_ -> 5L).toMap)
  }

  test("connected components: empty edge list returns an empty table, not an NPE") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.run(edges).count() == 0)
  }

  test("connected components: an empty edge scan returns an empty table") {
    // unlike an empty local relation, the scan's pin has partitions,
    // so a result read from the released pin would fail
    val edges = Tables.t(spark, sf(), "orders").filter(col("o_totalprice") < 0)
      .select(col("o_orderkey").as("a"), col("o_custkey").as("b"))
    assert(ConnectedComponents.run(edges).count() == 0)
  }

  test("BandCluster.assign: bypass-eligible docs, chains and band collisions") {
    import spark.implicits._
    // docs 1,2 share band 100 (direct dup pair, 1 is head);
    // docs 3,4,5 chain through bands 201~202~203 (3 is head);
    // doc 6 is fully isolated (both bands unique) -> bypass path;
    // doc 7 has b0 == b1 (band collision) and is still isolated —
    // array_distinct keeps its self-collision from counting as a share
    val db = Seq(
      (1L, 100L, 101L), (2L, 100L, 102L),
      (3L, 201L, 202L), (4L, 202L, 203L), (5L, 203L, 204L),
      (6L, 300L, 301L),
      (7L, 400L, 400L)).toDF("doc_id", "b0", "b1")
    val got = graft.graph.BandCluster.assign(db)
      .select("doc_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L,
      6L -> 6L, 7L -> 7L)
    assert(got == want)
    // extra columns ride through untouched
    val extra = graft.graph.BandCluster.assign(db.withColumn("nt", col("doc_id") * 10))
      .select("doc_id", "nt")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(extra == (1L to 7L).map(i => i -> i * 10).toMap)
  }

  test("globalCumsum equals the single-partition window result") {
    import spark.implicits._
    val df = (1L to 500L).toDF("id")
      .withColumn("hk", Portable.md5Long(col("id").cast("string")))
      .withColumn("v", col("id") % 7 + 1)
      .repartition(4)
    val naive = df.withColumn("cum",
      sum("v").over(Window.orderBy("hk", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dist.globalCumsum(df, "hk", Seq("id"), "v", "cum", 8)
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == naive)
    // and it actually used >1 bucket (the point of the helper)
    val buckets = df.withColumn("b",
      floor(col("hk") / ((1L << 60) / 8)).cast("int"))
      .select("b").distinct().count()
    assert(buckets > 1)
  }

  test("globalCumsumBy equals the single-partition window result on both columns") {
    import spark.implicits._
    // arbitrary (non-hash) total order, two count columns
    val df = (1L to 400L).map(i => (i * 13 % 397, i % 3, i % 5))
      .toDF("k", "u", "l")
      .groupBy("k")
      .agg(sum("u").as("u"), sum("l").as("l"))
      .repartition(4)
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df
      .withColumn("u_cum", sum("u").over(w))
      .withColumn("l_cum", sum("l").over(w))
      .select("k", "u_cum", "l_cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dist = Dist.globalCumsumBy(df, Seq(col("k")), Seq("u", "l"), 6)
      .select("k", "u_cum", "l_cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dist == naive)
  }

  test("globalRank equals the single-partition window result") {
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, i * 37 % 101)).toDF("id", "score")
      .repartition(4)
    val naive = df.withColumn("rnk",
      row_number().over(Window.orderBy(col("score").desc, col("id"))).cast("long"))
      .select("id", "rnk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dist.globalRank(df, Seq(col("score").desc, col("id")), "rnk", 6)
      .select("id", "rnk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == naive)
  }
}
