package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus operators, third batch: a real iterative BPE merge-rule
  * trainer (q123 mines the FIRST merge candidates; this trains five
  * successive rules where each round's pair statistics reflect all
  * earlier merges — the actual Sennrich et al. training loop).
  */
object CorpusOps3 {

  /** Five BPE merge rounds over the corpus. Symbols live in a
    * space-separated string per token; each round is (1) one
    * map-side pair count over current symbols, (2) a 1-row top-pair
    * frame broadcast into (3) one `replace` pass that applies the
    * merge corpus-wide. Fully declarative — no driver collect; the
    * per-round cost is one aggregation + one map over the corpus, so
    * five rounds are a constant 5× of one pass at any scale. Both
    * engines scan `replace` left-to-right non-overlapping, so merged
    * corpora stay bit-identical. Output: the learned merge table
    * (round, pair, frequency at merge time) — the artifact a
    * tokenizer ships.
    */
  /** " d a t a " — sentinel spaces so a pair match is always
    * space-delimited on both sides.
    */
  private[queries] def spaced(c: Column): Column =
    concat(lit(" "), regexp_replace(c, "(.)", "$1 "))

  /** The Sennrich training loop shared by q216 (emit the merge
    * table) and q233 (encode the corpus with it): `rounds` rounds of
    * one codegen'd [[graft.functions.SymbolPairs]] pair count + the
    * 1-row top-pair merge applied corpus-wide. `corpus0` must carry a
    * `sy` symbol column; other columns ride along untouched (q233
    * keeps `lang`). When `applyLast` the final round's merge is
    * applied too (an encoder needs the fully merged corpus; the
    * trainer's last rule needs no application).
    *
    * Materialization discipline (r14, guide §1.2 step 1 — remove
    * passes): the tokenize+explode INPUT is pinned once and every
    * round's pair scan reads those blocks through a LAZY chain of the
    * earlier rounds' merge `replace`s. The previous shape re-encoded
    * and re-pinned the full corpus every round — per round one extra
    * corpus-sized block-manager write whose only reader was the next
    * round's scan (ProfileJobs: ~0.6 s of q216's 3.8 s at sf0.1, and
    * at 100 TB each avoided pin is a full cluster-storage pass). A
    * chain of ≤ `rounds` codegen'd string replaces per scan is
    * strictly cheaper than materializing each intermediate. The merge
    * rule is read off the 1-row pinned `top` frame (a bounded-by-
    * construction driver read, like the CC loop's convergence sum)
    * and applied as a string LITERAL, so the chain carries no
    * per-round broadcast join either. An empty top (no pairs left)
    * empties the corpus via `limit(0)` — exactly the old
    * crossJoin-with-empty semantics.
    *
    * Each round's 1-row top frame stays pinned (merges reads them at
    * the end); the single corpus pin lives until the caller's action
    * has consumed the returned frames (the bench drops pins between
    * queries; a production loop would swap in a reliable
    * `checkpoint`, same lifecycle). Returns (merge table, final
    * corpus) — the corpus is `Some` ONLY when `applyLast` (trainer
    * mode has no encoded corpus to hand back; `None` makes that
    * contract explicit at compile time, ADVICE r6).
    */
  private[queries] def bpeRounds(
      s: SparkSession, corpus0: DataFrame, rounds: Int,
      applyLast: Boolean): (DataFrame, Option[DataFrame]) = {
    def pairCounts(c: DataFrame): DataFrame = c
      .select(explode(expr("symbol_pairs(sy)")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
    var corpus = Pins.pin(corpus0)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val top = Pins.pin(pairCounts(corpus)
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(lit(r).as("round"), col("pair"), col("n"))) // 1 row — pins the round's rule
      merges = if (merges == null) top else merges.unionAll(top)
      if (r < rounds || applyLast) {
        // 1-row read off the pinned frame; the merge applies lazily
        corpus = top.take(1).headOption match {
          case Some(row) =>
            val mp = row.getString(1)
            corpus.withColumn("sy", replace(col("sy"),
              lit(" " + mp + " "), lit(" " + mp.replace(" ", "") + " ")))
          case None => corpus.limit(0)
        }
      }
    }
    (merges, if (applyLast) Some(corpus) else None)
  }

  val q216 = Q(
    "q216_bpe_train",
    (s, dir) => {
      val corpus0 = Tables.docs(s, dir)
        .select(explode(Portable.tokens(col("text"))).as("tok"))
        .select(spaced(col("tok")).as("sy"))
      // single-symbol tokens yield an empty pair array (explode
      // emits nothing); round 5 needs no corpus update — its merge
      // rule is the last output
      val (merges, _) = bpeRounds(s, corpus0, 5, applyLast = false)
      merges.orderBy("round")
    },
    Some {
      // the same five rounds unrolled as chained CTEs; DuckDB's
      // replace has the identical left-to-right scan. Split each
      // symbol string ONCE per row (an inner SELECT), not once per
      // lambda element — measured 1.8x on the pair scan (r7 #5)
      val pairSql = (c: String) =>
        s"""SELECT pair, count(*) AS n FROM (
           |  SELECT unnest(list_transform(range(1, len(parts)),
           |    i -> concat(parts[i], ' ', parts[i + 1]))) AS pair
           |  FROM (SELECT string_split(trim(sy), ' ') AS parts FROM $c))
           |GROUP BY 1""".stripMargin
      val rounds = (1 to 5).map { r =>
        s"""t$r AS MATERIALIZED (SELECT pair, n FROM (${pairSql(s"c${r - 1}")})
           |       ORDER BY n DESC, pair LIMIT 1),
           |c$r AS MATERIALIZED (SELECT replace(sy, concat(' ', t$r.pair, ' '),
           |          concat(' ', replace(t$r.pair, ' ', ''), ' ')) AS sy
           |        FROM c${r - 1}, t$r)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 5).map(r =>
        s"SELECT $r AS round, pair, n FROM t$r").mkString("\nUNION ALL ")
      s"""WITH c0 AS MATERIALIZED (
         |  SELECT concat(' ', regexp_replace(tok, '(.)', '\\1 ', 'g')) AS sy
         |  FROM (SELECT unnest(${Portable.tokensSql("text")}) AS tok
         |        FROM documents)),
         |$rounds
         |SELECT CAST(round AS INTEGER) AS round, pair, n FROM (
         |  $sel)
         |ORDER BY round""".stripMargin
    })

  /** Contrastive-training negative mining for the first 20 query
    * docs: three HARD negatives (same language, closest length, but
    * verified NOT near-dups — token Jaccard < 0.5 via the codegen'd
    * sorted-hash intersect) and two RANDOM negatives (different
    * language, ranked by the portable md5 of the pair key, so the
    * "random" draw is reproducible across engines and cluster
    * sizes). The tiny query side broadcasts against the corpus —
    * q48's scale shape — and each negative list is a per-query
    * window over that bounded candidate stream.
    */
  val q219 = Q(
    "q219_negative_mining",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Portable.md5Sorted(Portable.tokenSet(col("text"))).as("th"))
      val qs = d.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("lang").as("qlang"),
          col("n_chars").as("qchars"), col("th").as("qth"))
      val hard = d.join(broadcast(qs),
          col("lang") === col("qlang") && col("doc_id") =!= col("qid"))
        .withColumn("c", expr("sorted_intersect_count(th, qth)"))
        .withColumn("jac",
          col("c") / (size(col("th")) + size(col("qth")) - col("c")))
        .filter(col("jac") < 0.5)
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(abs(col("n_chars") - col("qchars")), col("doc_id"))))
        .filter(col("rank") <= 3)
        .select(col("qid").as("query_id"), lit("hard").as("kind"),
          col("rank"), col("doc_id").as("neg_id"))
      val rand = d.join(broadcast(qs), col("lang") =!= col("qlang"))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(Portable.md5Long(concat(lit("neg:"), col("qid"), lit(":"),
            col("doc_id"))), col("doc_id"))))
        .filter(col("rank") <= 2)
        .select(col("qid").as("query_id"), lit("random").as("kind"),
          col("rank"), col("doc_id").as("neg_id"))
      hard.unionByName(rand).orderBy("query_id", "kind", "rank")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang, n_chars, ${Portable.tokenSetSql("text")} AS toks
      |  FROM documents),
      |qs AS (SELECT doc_id AS qid, lang AS qlang, n_chars AS qchars,
      |         toks AS qtoks
      |       FROM d WHERE doc_id < 20),
      |hard AS (
      |  SELECT qid AS query_id, 'hard' AS kind, rank, doc_id AS neg_id FROM (
      |    SELECT qs.qid, d.doc_id,
      |      row_number() OVER (PARTITION BY qs.qid
      |        ORDER BY abs(d.n_chars - qs.qchars), d.doc_id) AS rank
      |    FROM d JOIN qs ON d.lang = qs.qlang AND d.doc_id <> qs.qid
      |    WHERE len(list_intersect(d.toks, qs.qtoks)) /
      |          len(list_distinct(list_concat(d.toks, qs.qtoks))) < 0.5)
      |  WHERE rank <= 3),
      |rand AS (
      |  SELECT qid AS query_id, 'random' AS kind, rank, doc_id AS neg_id FROM (
      |    SELECT qs.qid, d.doc_id,
      |      row_number() OVER (PARTITION BY qs.qid
      |        ORDER BY ${Portable.md5LongSql(
             "concat('neg:', qid, ':', doc_id)")}, d.doc_id) AS rank
      |    FROM d JOIN qs ON d.lang <> qs.qlang)
      |  WHERE rank <= 2)
      |SELECT CAST(query_id AS BIGINT) AS query_id, kind,
      |  CAST(rank AS INTEGER) AS rank, neg_id
      |FROM (SELECT * FROM hard UNION ALL SELECT * FROM rand)
      |ORDER BY query_id, kind, rank""".stripMargin))

  val all: Vector[Q] = Vector(q216, q219)
}
