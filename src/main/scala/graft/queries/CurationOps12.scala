package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 curation wave: skyline / Pareto-frontier selection — the
  * multi-criteria preference query. Curation rules that cut on one
  * score (q105's gate, q226's MMR) answer "best by THIS metric";
  * the skyline answers "not beaten on ALL metrics at once" — the
  * candidate set a human reviews when no single weighting is agreed
  * (classic preference-query operator: Börzsönyi et al., "The
  * Skyline Operator", ICDE 2001).
  */
object CurationOps12 {

  /** Per-language Pareto frontier of (token count, distinct-token
    * count): a document is on the frontier iff no same-language
    * document has BOTH ≥ tokens and ≥ types with at least one
    * strict — the "long AND lexically rich" shortlist.
    *
    * Scale shape — the skyline WITHOUT the Θ(n²) dominance
    * self-join: one documents scan computes (toks, types) per doc
    * (pinned once — it feeds the cell aggregate AND the final
    * membership join, the r10 multi-branch rule); cells collapse to
    * one row per (lang, toks) with the max types (bounded by
    * #langs × distinct doc lengths, NOT corpus size); a running max
    * over each language's cells ordered by toks DESC marks frontier
    * cells (a cell survives iff its max-types strictly beats every
    * longer cell's — same-length lower-types docs are dominated by
    * the cell max, equal (toks, types) ties all survive, neither
    * strictly dominating); the tiny frontier broadcasts back onto
    * the per-doc frame for membership. The per-lang window runs over
    * the CELL frame, never the corpus.
    */
  val q288 = Q(
    "q288_pareto_frontier",
    (s, dir) => {
      // feeds cells + the membership join
      val perDoc = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(Portable.tokens(col("text"))).cast("long").as("toks"),
          size(Portable.tokenSet(col("text"))).cast("long").as("types")))
      val cells = perDoc.groupBy("lang", "toks").agg(max("types").as("types"))
      val wLonger = Window.partitionBy("lang").orderBy(col("toks").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = cells
        .withColumn("best_longer", max("types").over(wLonger))
        .filter(col("best_longer").isNull || col("types") > col("best_longer"))
        .select("lang", "toks", "types")
      perDoc.join(broadcast(frontier), Seq("lang", "toks", "types"))
        .select("doc_id", "lang", "toks", "types")
        .orderBy("lang", "toks", "doc_id")
    },
    Some(s"""WITH per_doc AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |    CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS toks,
      |    CAST(len(${Portable.tokenSetSql("text")}) AS BIGINT) AS types
      |  FROM documents),
      |cells AS (
      |  SELECT lang, toks, max(types) AS types FROM per_doc GROUP BY 1, 2),
      |fr AS (
      |  SELECT lang, toks, types FROM (
      |    SELECT lang, toks, types,
      |      max(types) OVER (PARTITION BY lang ORDER BY toks DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_longer
      |    FROM cells)
      |  WHERE best_longer IS NULL OR types > best_longer)
      |SELECT doc_id, lang, toks, types
      |FROM per_doc JOIN fr USING (lang, toks, types)
      |ORDER BY lang, toks, doc_id""".stripMargin))

  val all: Vector[Q] = Vector(q288)
}
