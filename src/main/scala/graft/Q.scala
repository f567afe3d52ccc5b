package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark-first implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same parquet tables. Queries without an oracle get the
  * driver's weaker rows-only check.
  *
  * Determinism contract (SURVEY.md §5): every query ends in a total
  * ORDER BY (or is a single-row aggregate); float aggregates are
  * rounded; oracle ORDER BYs say NULLS FIRST to match Spark's
  * ascending default.
  *
  * `build` may call any kernel of the one SQL kernel table
  * ([[graft.plans.GraftExtensions.kernels]]) by name: [[fn]] registers
  * the table on the session it is given before building, so a query
  * runs on any session, with or without the extension.
  *
  * A query owns what it makes. Run it through [[run]]: the frame is
  * built and consumed inside one [[Pins.scoped]] scope, which releases
  * every pin the query made, on any thread it started. SQL-text queries
  * bind fixture tables inside their plan ([[Tables.sql]]) and streaming
  * queries drop their sinks ([[graft.streaming.EventStreams]]), so a run
  * leaves no persisted RDD, temp view or conf change on the session,
  * and two clients can run queries on one session at once. [[fn]] alone
  * builds the frame with no scope: its pins live until the caller drops
  * them.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** include in the Bench headline set */
    bench: Boolean = true) {

  /** The query's frame over the fixtures in `dir`, built on `spark`. */
  val fn: (SparkSession, String) => DataFrame = { (spark, dir) =>
    graft.plans.GraftExtensions.register(spark)
    build(spark, dir)
  }

  /** Build the query over `dir`, hand the frame to `consume`, then
    * release every pin the query made, also when either step throws.
    */
  def run[T](spark: SparkSession, dir: String)(consume: DataFrame => T): T =
    Pins.scoped(spark)(consume(fn(spark, dir)))
}

object Q {

  /** Pedagogical quadratic baselines — correct at every tested SF but
    * blocked on FIXED-cardinality keys ((lang,source) / label /
    * label-centroid cells), so their pair volume grows quadratically
    * with the corpus (q139 measured 175× cost at 10× data). A
    * registry entry is the product surface, and at 100 TB these are
    * outage-shaped, so they live OUTSIDE the registry: the scale-safe
    * forms hold the registry slots (q41 MinHash-LSH / q42 SimHash for
    * text near-dup, q180 sampled-quantizer SemDeDup for embeddings)
    * and these stay available for recall audits (SemDeDupSpec), plan
    * pins (PlanSpec) and brute-force parity checks (BaselineSpec).
    *
    * q237 is demoted for a DIFFERENT, equally final reason: the
    * driver's hash canonicalization reads Spark parquet decimals as
    * `decimal.Decimal` objects but DuckDB oracle decimals as float64
    * (`.df()` does that at every precision), so a decimal OUTPUT
    * column can never hash green at the gate even when value-equal —
    * see the q237 scaladoc for the round-8 probe evidence.
    * BaselineSpec pins its values so the decimal aggregation path
    * stays tested.
    */
  def baselines: Vector[Q] = Vector(
    queries.TextOps.q40, queries.VectorOps.q67, queries.VectorOps.q139,
    queries.CurationOps8.q237)

  /** Lookup across registry + demoted baselines (specs use this). */
  def byName(name: String): Q =
    (registry ++ baselines).find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))

  /** All query modules, in SURVEY.md §2 category order. */
  def registry: Vector[Q] =
    queries.Relational.all ++
      queries.Relational2.all ++
      queries.Relational3.all ++
      queries.Aggregates.all ++
      queries.Analytics.all ++
      queries.Scalars.all ++
      queries.Events.all ++
      queries.TextOps.all ++
      queries.VectorOps.all ++
      queries.MultimodalOps.all ++
      queries.StreamingOps.all ++
      queries.Extended.all ++
      queries.PipelineOps.all ++
      queries.CorpusOps.all ++
      queries.Relational4.all ++
      queries.CorpusOps2.all ++
      queries.SearchOps.all ++
      queries.Relational5.all ++
      queries.GraphOps.all ++
      queries.PipelineOps2.all ++
      queries.Analytics2.all ++
      queries.Scalars2.all ++
      queries.CurationOps.all ++
      queries.CurationOps2.all ++
      queries.CurationOps3.all ++
      queries.CurationOps4.all ++
      queries.CurationOps5.all ++
      queries.CurationOps6.all ++
      queries.Analytics3.all ++
      queries.CorpusOps3.all ++
      queries.PipelineOps3.all ++
      queries.StreamingOps2.all ++
      queries.GraphOps2.all ++
      queries.Analytics4.all ++
      queries.CurationOps7.all ++
      queries.StorageOps.all ++
      queries.CorpusOps4.all ++
      queries.SearchOps2.all ++
      queries.CurationOps8.all ++
      queries.CurationOps9.all ++
      queries.WarehouseOps.all ++
      queries.SearchOps3.all ++
      queries.Analytics5.all ++
      queries.SketchOps.all ++
      queries.ReleaseOps.all ++
      queries.CorpusOps5.all ++
      queries.IvmOps.all ++
      queries.SearchOps4.all ++
      queries.StorageOps2.all ++
      queries.GraphOps3.all ++
      queries.CurationOps10.all ++
      queries.SearchOps5.all ++
      queries.StorageOps3.all ++
      queries.CurationOps11.all ++
      queries.SearchOps6.all ++
      queries.GraphOps4.all ++
      queries.SearchOps7.all ++
      queries.CurationOps12.all ++
      queries.CurationOps13.all ++
      queries.CurationOps14.all
}
