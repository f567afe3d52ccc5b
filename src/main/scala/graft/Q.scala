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
    oracle: Option[String] = None) {

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
    queries.TextDedup.q40, queries.Vectors.q67, queries.Vectors.q139,
    queries.Aggregates.q237)

  /** Lookup across registry + demoted baselines (specs use this). */
  def byName(name: String): Q =
    (registry ++ baselines).find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))

  /** All query modules, in SURVEY.md §2 category order. */
  def registry: Vector[Q] =
    queries.Relational.all ++
      queries.Aggregates.all ++
      queries.Scalars.all ++
      queries.Events.all ++
      queries.Storage.all ++
      queries.Sketches.all ++
      queries.Analytics.all ++
      queries.Statistics.all ++
      queries.Graph.all ++
      queries.TextDedup.all ++
      queries.Vectors.all ++
      queries.Embeddings.all ++
      queries.Retrieval.all ++
      queries.Tokenizers.all ++
      queries.Multimodal.all ++
      queries.Pipeline.all ++
      queries.Quality.all ++
      queries.Privacy.all
}
