package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

class SearchOps4Spec extends SparkSpec {
  import spark.implicits._

  test("q268: every retrieved row is admissible (same lang as its query)") {
    val got = queries.Vectors.q268.fn(spark, sf())
    val langs = Tables.docs(spark, sf()).select(col("doc_id"), col("lang"))
    val bad = got
      .join(langs.select(col("doc_id").as("query_id"), col("lang").as("ql")),
        "query_id")
      .join(langs.select(col("doc_id").as("cand_id"), col("lang").as("cl")),
        "cand_id")
      .filter(col("ql") =!= col("cl"))
      .count()
    assert(bad == 0, s"$bad retrieved rows violate the lang filter")
    val rows = got.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(5) == 0L || r.getLong(5) == 1L) // hits3 is 0/1
      assert(r.getLong(4) >= r.getInt(1))              // n_cand >= rn
    }
  }

  test("q268: pre-filtering recalls at least as much as post-filtering") {
    val ranked = queries.Vectors.rankedIndex(spark, sf())
    val cand = ranked.filter(col("crn") === 1).select(
      col("vec_id").as("cand_id"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("lang").as("clang"), col("cell"))
    val qs = ranked.filter(col("vec_id") < 20).select(
      col("vec_id").as("query_id"), col("embedding").as("qe"),
      col("nrm").as("qn"), col("lang").as("qlang"), col("cell").as("qcell"))
    def topk(pairs: org.apache.spark.sql.DataFrame, k: Int) = pairs
      .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
      .filter(col("rn") <= k)
      .select("query_id", "cand_id")
    val probedAll = cand.join(broadcast(qs),
        col("cell") === col("qcell") && col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id", "qe", "qn", "ce", "cn", "qlang", "clang")
      .distinct()
    // PRE: filter inside the probe, THEN take top-3
    val pre = topk(probedAll.filter(col("clang") === col("qlang")), 3)
    // POST: take the unfiltered top-3, THEN filter it
    val post = topk(probedAll, 3)
      .join(probedAll.select("query_id", "cand_id", "qlang", "clang").distinct(),
        Seq("query_id", "cand_id"))
      .filter(col("clang") === col("qlang"))
      .select("query_id", "cand_id")
    // exact filtered ground truth (brute force, all same-lang vectors)
    val exactQs = ranked.filter(col("crn") === 1 && col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("lang").as("qlang"))
    val exact = topk(cand.crossJoin(broadcast(exactQs))
      .filter(col("clang") === col("qlang") && col("cand_id") =!= col("query_id")),
      3)
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.join(exact, Seq("query_id", "cand_id"), "left_semi").count()
    val (hPre, hPost) = (hits(pre), hits(post))
    assert(hPre >= hPost,
      s"pre-filter hits $hPre < post-filter hits $hPost")
    assert(hPre > 0, "pre-filter retrieved nothing from the exact top-3")
  }
}
