package graft

import org.apache.spark.sql.functions._

/** The codegen'd VecDot/VecDist2 expressions must be bit-identical to
  * the interpreted higher-order-function form they replaced (which is
  * also what the DuckDB oracle runs).
  */
class VecMathSpec extends SparkSpec {

  private lazy val emb = Tables.t(spark, sf(), "embeddings")

  test("vecdot is bit-identical to the aggregate(zip_with) fold") {
    val mismatches = emb
      .withColumn("fast", expr("vecdot(embedding, embedding)"))
      .withColumn("slow", expr(
        """aggregate(
          |  zip_with(embedding, embedding,
          |    (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("vecdist2 is bit-identical to the interpreted pow fold") {
    val shifted = emb.withColumn("e2",
      expr("transform(embedding, x -> CAST(x AS DOUBLE) + 0.25)"))
    val mismatches = shifted
      .withColumn("fast", expr("vecdist2(embedding, e2)"))
      .withColumn("slow", expr(
        """aggregate(
          |  zip_with(embedding, e2,
          |    (x, y) -> pow(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2)),
          |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("mixed float/double inputs and empty arrays") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5, 0.25, 2.0)),
      (Array.empty[Float], Array.empty[Double]))
      .toDF("f", "d")
      .select(expr("vecdot(f, d)").as("dot"), expr("vecdist2(f, d)").as("d2"))
      .collect()
    assert(df(0).getDouble(0) == 1.0 * 0.5 + 2.0 * 0.25 + 3.0 * 2.0)
    assert(df(1).getDouble(0) == 0.0 && df(1).getDouble(1) == 0.0)
  }

  test("vecdot rejects non-array inputs at analysis time") {
    intercept[Exception] {
      spark.sql("SELECT vecdot('a', 'b')").collect()
    }
  }
}
