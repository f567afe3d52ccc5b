package graft

import org.apache.spark.sql.functions._

/** The codegen'd merge-scan intersection count must equal the
  * interpreted array_intersect form on real token data.
  */
class SetOpsSpec extends SparkSpec {

  test("sorted_intersect_count equals size(array_intersect) on doc pairs") {
    val t = Tables.t(spark, sf(), "documents")
      .select(col("doc_id"),
        expr("array_sort(transform(array_distinct(filter(split(text, '\\\\s+'), x -> length(x) > 0)), t -> md5long60(t)))").as("toks"))
    val pairs = t.select(col("doc_id").as("a"), col("toks").as("ta"))
      .crossJoin(t.select(col("doc_id").as("b"), col("toks").as("tb")))
      .filter(col("a") < col("b") && col("a") % 7 === 0) // sample the pair space
    val mismatches = pairs
      .withColumn("fast", expr("sorted_intersect_count(ta, tb)"))
      .withColumn("slow", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("edge cases: empty, disjoint, identical") {
    import spark.implicits._
    val rows = Seq(
      (Array.empty[Long], Array(1L, 2L), 0),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L), 0),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L), 3),
      (Array(1L, 5L, 9L), Array(5L, 9L, 11L), 2))
    val got = rows.toDF("a", "b", "want")
      .withColumn("got", expr("sorted_intersect_count(a, b)"))
      .filter(col("got") =!= col("want"))
      .count()
    assert(got == 0)
  }
}
