package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent recomputations for the q191-q195 curation additions.
  * Each check re-derives the operator's answer through a DIFFERENT
  * formulation (naive global window, HOF shingling, batch election,
  * driver-side brute force) so a regression in the scale-path
  * machinery (Dist cumsum, kernels, the streaming election) fails
  * here even before the oracle run.
  */
class CurationOps2Spec extends SparkSpec {

  test("q191 AUC equals the naive global-rank formulation") {
    val row = Q.byName("q191_classifier_auc").fn(spark, sf()).collect().head
    val auc = row.getDouble(row.fieldIndex("auc"))
    // naive: midrank-based Mann-Whitney on a single global window —
    // the formulation Dist.globalCumsumBy replaces at scale
    val scored = Tables.docs(spark, sf())
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.Portable.tokens(col("text"))).as("tok"))
      .withColumn("w",
        (pmod(graft.functions.Portable.md5Long(col("tok")), lit(64)) * 37 + 11) % 97 - 48)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
      .withColumn("score", round(
        col("wsum").cast("double") / (col("n_toks").cast("double") * 97.0), 6))
      .withColumn("pos", (col("lang") === "en").cast("long"))
    val ranked = scored
      .withColumn("r", rank().over(Window.orderBy("score")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("score")))
      .withColumn("midrank", col("r") + (col("cnt") - 1) / 2.0)
    val agg = ranked.agg(
      sum(when(col("pos") === 1, col("midrank"))).as("rsum"),
      sum(col("pos")).as("np"),
      sum(lit(1L) - col("pos")).as("nn")).collect().head
    val np = agg.getLong(1).toDouble
    val nn = agg.getLong(2).toDouble
    val u = agg.getDouble(0) - np * (np + 1) / 2.0
    assert(math.abs(auc - u / (np * nn)) < 1e-6,
      s"scale-path auc $auc vs naive ${u / (np * nn)}")
  }

  test("q192 duplicated-span mass matches a HOF re-shingling") {
    val fast = Q.byName("q192_span_dup_mass").fn(spark, sf())
      .select("doc_id", "n_win", "n_dup").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // independent path: materialize the anchored windows via
    // higher-order functions (no kernel), then the same >=2-doc count
    val sh = Tables.docs(spark, sf())
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"), explode(expr(
        """filter(array_distinct(transform(sequence(1, length(text) - 39),
          |  i -> md5long60(substring(text, i, 40)))), h -> h % 4 = 0)""".stripMargin)).as("h"))
    val cnt = sh.groupBy("h").agg(count(lit(1)).as("nd"))
    val slow = sh.join(cnt, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(fast == slow)
  }

  test("q193 streaming election equals the batch election") {
    val streamed = Q.byName("q193_stream_neardup_filter").fn(spark, sf())
      .collect().map(r => (r.getLong(0), r.getInt(r.fieldIndex("kept")))).toMap
    val sigs = Tables.docs(spark, sf())
      .select(col("doc_id"), graft.functions.Portable.tokenSet(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
    val win = sigs.groupBy("sig").agg(min("doc_id").as("winner"))
    val batch = sigs.join(win, "sig")
      .groupBy("doc_id")
      .agg(min(when(col("winner") === col("doc_id"), 1).otherwise(0)).as("kept"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(streamed == batch)
    // first writer always wins: the smallest doc_id can lose no band
    val minDoc = streamed.keys.min
    assert(streamed(minDoc) == 1)
  }

  test("jl_project kernel equals the folded Column formulation") {
    def sgn(i: Int, j: Int): Double =
      if (graft.functions.Md5Long60.hashBytes(s"jl:$i:$j".getBytes("US-ASCII")) % 2 == 0) 1.0
      else -1.0
    val diff = Tables.t(spark, sf(), "embeddings")
      .withColumn("fast", expr("jl_project(embedding, 16)"))
      .withColumn("slow", array((0 until 16).map { j =>
        (0 until 64).map(i =>
          col("embedding").getItem(i).cast("double") * lit(sgn(i, j)))
          .reduceLeft(_ + _)
      }: _*))
      .filter(expr("exists(zip_with(fast, slow, (a, b) -> a <> b), x -> x)"))
      .count()
    assert(diff == 0)
  }

  test("q194 recall audit matches driver-side brute force") {
    val out = Q.byName("q194_jl_projection_recall").fn(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(r.fieldIndex("hits")))).toMap
    val vecs = Tables.t(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def sgn(i: Int, j: Int): Double =
      if (graft.functions.Md5Long60.hashBytes(s"jl:$i:$j".getBytes("UTF-8")) % 2 == 0) 1.0
      else -1.0
    val proj = vecs.map { case (id, e) =>
      id -> Array.tabulate(16)(j =>
        (0 until 64).foldLeft(0.0)((a, i) => a + e(i).toDouble * sgn(i, j)))
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).foldLeft(0.0)((s, p) => s + math.pow(p._1 - p._2, 2))
    for (p <- vecs.keys.filter(_ % 100 == 0)) {
      val others = vecs.keys.filter(_ != p).toSeq
      val pe = vecs(p).map(_.toDouble)
      val top = (order: Long => Double) =>
        others.sortBy(v => (order(v), v)).take(10).toSet
      val exact = top(v => d2(vecs(v).map(_.toDouble), pe))
      val approx = top(v => d2(proj(v), proj(p)))
      assert(out(p) == exact.intersect(approx).size.toLong, s"probe $p")
    }
  }

  test("q196 top component is unit-norm and aligns with brute-force PCA") {
    val rows = Q.byName("q196_pca_top_component").fn(spark, sf()).collect()
    val load = rows.sortBy(_.getInt(0)).map(_.getDouble(1))
    assert(math.abs(load.map(x => x * x).sum - 1.0) < 1e-4)
    val vs = rows.head.getDouble(rows.head.fieldIndex("var_share"))
    assert(vs > 0 && vs <= 1.0)
    // independent path: exact covariance (no rounding) + the same
    // power iteration, driver-side
    val e = Tables.t(spark, sf(), "embeddings").select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = e.length
    val d = 64
    val m = Array.tabulate(d)(i => e.map(_(i)).sum / n)
    val c = Array.tabulate(d, d)((i, j) =>
      e.map(v => v(i) * v(j)).sum / n - m(i) * m(j))
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val nr = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nr)
    }
    val dot = math.abs(load.zip(v).map { case (a, b) => a * b }.sum)
    assert(dot > 0.999, s"alignment $dot")
  }

  test("q197 trained probe beats the zero model on its own objective") {
    val rows = Q.byName("q197_trained_quality_probe").fn(spark, sf()).collect()
    assert(rows.length == 64)
    val mse = rows.head.getDouble(rows.head.fieldIndex("train_mse"))
    // the zero-weight model's loss is mean(y²) = the positive share
    val e = Tables.t(spark, sf(), "embeddings").select(col("vec_id"))
    val lab = Tables.docs(spark, sf())
      .select(col("doc_id").as("vec_id"),
        (col("lang") === "en").cast("double").as("y"))
    val yy = e.join(lab, "vec_id").agg(avg(col("y"))).head.getDouble(0)
    assert(mse >= 0 && mse < yy, s"mse $mse vs zero-model $yy")
  }

  test("q198 aHash groups contain every exact-payload duplicate") {
    // sf0.1: the smaller fixtures contain no exact text dups at all
    val out = Q.byName("q198_media_perceptual_dedup").fn(spark, sf("sf0.1"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("canonical"))).toMap
    // identical payloads (= identical text, the payload derivation)
    // must land in one signature group: same canonical for both
    val dups = Tables.docs(spark, sf("sf0.1"))
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) >= 2)
      .collect().map(_.getSeq[Long](1))
    assert(dups.nonEmpty, "fixture should contain exact dups")
    dups.foreach { ids =>
      val cans = ids.map(id => out.get(id)).distinct
      assert(cans.size == 1 && cans.head.isDefined,
        s"exact dups $ids must share one aHash group")
    }
  }

  test("q195 per-dim health covers every dimension with sane bounds") {
    val rows = Q.byName("q195_embedding_dim_health").fn(spark, sf()).collect()
    assert(rows.length == 64)
    assert(rows.map(_.getInt(0)).toSeq == (0 until 64))
    val nVec = Tables.t(spark, sf(), "embeddings").count()
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n")) == nVec)
      assert(r.getDouble(r.fieldIndex("minv")) <= r.getDouble(r.fieldIndex("mean")))
      assert(r.getDouble(r.fieldIndex("mean")) <= r.getDouble(r.fieldIndex("maxv")))
    }
  }
}
