package graft

import org.apache.spark.sql.functions._

class CorpusOps5Spec extends SparkSpec {
  import spark.implicits._

  /** Chunk-hash multiset of one text via the production CDC kernel. */
  private def cdcHashes(text: String): Seq[Long] = {
    Seq(text).toDF("text")
      .select(functions.Portable.tokens(col("text")).as("toks"))
      .withColumn("bnds", expr(queries.Storage.cdcBoundsExpr("toks")))
      .select(explode(expr(queries.Storage.cdcChunksExpr("toks", "bnds")))
        .as("c"))
      .select(col("c.h")).as[Long].collect().toSeq
  }

  /** q74-style fixed-stride chunk hashes (50-token windows, stride 40). */
  private def fixedHashes(text: String): Seq[Long] = {
    Seq(text).toDF("text")
      .select(functions.Portable.tokens(col("text")).as("toks"))
      .withColumn("nt", size(col("toks")))
      .withColumn("start", explode(expr("sequence(1, nt, 40)")))
      .select(expr("md5long60(array_join(slice(toks, start, 50), ' '))").as("h"))
      .as[Long].collect().toSeq
  }

  // ~400 words drawn from a 97-word vocabulary: enough distinct
  // tokens that ~1/8 are content boundaries
  private val words = (0 until 400).map(i => s"w${(i * 31) % 97}")
  private val original = words.mkString(" ")
  // one word INSERTED mid-document — the shift every stride-based
  // chunker loses alignment to
  private val edited =
    (words.take(200) ++ Seq("INSERTED") ++ words.drop(200)).mkString(" ")

  test("CDC chunking is shift-resistant: a 1-word insert perturbs at most 2 chunks") {
    val a = cdcHashes(original)
    val b = cdcHashes(edited)
    assert(a.size >= 20, s"expected many chunks, got ${a.size}") // ~400/8
    // multiset intersection
    val shared = a.groupBy(identity).map { case (h, g) =>
      math.min(g.size, b.count(_ == h))
    }.sum
    // the insert lands inside exactly one original chunk; that chunk
    // (and at most the one a fresh boundary splits off) changes —
    // everything else must survive byte-identically
    assert(shared >= a.size - 2,
      s"CDC lost alignment: ${a.size - shared} of ${a.size} chunks changed")
  }

  test("fixed-stride chunking loses alignment after the same edit") {
    val a = fixedHashes(original)
    val b = fixedHashes(edited)
    val shared = a.groupBy(identity).map { case (h, g) =>
      math.min(g.size, b.count(_ == h))
    }.sum
    val aCdc = cdcHashes(original)
    val sharedCdc = {
      val bCdc = cdcHashes(edited)
      aCdc.groupBy(identity).map { case (h, g) =>
        math.min(g.size, bCdc.count(_ == h))
      }.sum
    }
    // every fixed window at or after the edit shifts by one token —
    // only the fully-before-the-edit windows survive; CDC keeps
    // strictly more (relative to its own chunk count)
    assert(shared < a.size / 2,
      s"fixed-stride unexpectedly survived the shift: $shared of ${a.size}")
    assert(sharedCdc.toDouble / aCdc.size > shared.toDouble / a.size,
      "CDC must beat fixed-stride on shared-chunk fraction after an edit")
  }

  test("q266 report is internally consistent on fixtures") {
    val rows = queries.Storage.q266.fn(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nChunks, nDistinct, dup, chars, dupChars, bp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
      assert(nChunks == nDistinct + dup)
      assert(dupChars <= chars && bp == dupChars * 10000 / chars)
    }
  }
}
