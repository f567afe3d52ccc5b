package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins

/** Near-dup cluster assignment over an LSH band-signature table —
  * the shared construction behind q100 and the corpus-prep pipeline
  * (q107): two docs are in one cluster iff a chain of shared band
  * values connects them, i.e. clusters are connected components of
  * the band graph whose edge set is each doc's (b0, b1) pair.
  *
  * The scale-critical piece is the candidate bypass: a doc can only
  * reach another doc through a SHARED band, so a doc whose bands each
  * occur in exactly one doc is an isolated two-node component and its
  * cluster is itself — it never needs to enter the component loop.
  * After exact dedup most of a real corpus is in this class, so the
  * multi-round CC shuffles run over just the dup-candidate subgraph:
  * Θ(candidates) per round, not Θ(corpus). Removing an isolated
  * component cannot change any other component, so the assignment is
  * identical by construction — q100's and q107's DuckDB oracles (which
  * compute components over the FULL band graph) pin the equivalence on
  * every correctness run.
  *
  * Cost of the bypass: one map-side-combinable band-multiplicity
  * aggregate plus two hash joins of the narrow signature frame —
  * flat work traded against ~10 CC hops over the full corpus.
  */
object BandCluster {

  /** @param db one row per doc with long columns `doc_id`, `b0`, `b1`
    *           (extra columns are carried through untouched)
    * @return `db`'s rows plus a `cluster` column = min doc_id of the
    *         doc's near-dup cluster
    */
  def assign(db: DataFrame): DataFrame = {
    // band multiplicity in DOCS (array_distinct: a doc whose two
    // bands collide must not count that band twice and fake a share)
    val bc = db
      .select(explode(array_distinct(array(col("b0"), col("b1")))).as("band"))
      .groupBy("band").agg(count(lit(1)).as("c"))
    // pinned: the marked frame feeds the candidate edges, the
    // candidate cluster join AND the isolated-doc arm — a handful of
    // longs per doc, never any payload column heavier than the input
    val marked = Pins.pin(db
      .join(bc.select(col("band").as("b0"), col("c").as("c0")), Seq("b0"))
      .join(bc.select(col("band").as("b1"), col("c").as("c1")), Seq("b1"))
      .withColumn("__iso", col("c0") === 1 && col("c1") === 1)
      .drop("c0", "c1"))
    val cand = marked.filter(!col("__iso")).drop("__iso")
    val comp = ConnectedComponents.run(
      cand.select(col("b0").as("a"), col("b1").as("b")))
    val clustered = cand.join(comp, cand("b0") === comp("node"))
      .withColumn("cluster",
        min(col("doc_id")).over(Window.partitionBy("component")))
      .drop("node", "component")
    clustered.unionByName(
      marked.filter(col("__iso")).drop("__iso")
        .withColumn("cluster", col("doc_id")))
  }

  /** DuckDB form of the band graph's components over a relation
    * `src(b0, b1, …)`, for a `WITH RECURSIVE` oracle: CTEs `edges`,
    * `nodes`, `reach` and `comp(node, cl)`, where `cl` is the min band
    * node of `node`'s component.
    */
  def componentsSql(src: String = "db"): String =
    s"""edges AS (SELECT b0 AS a, b1 AS b FROM $src UNION SELECT b1, b0 FROM $src),
       |nodes AS (SELECT DISTINCT b0 AS node FROM $src UNION SELECT DISTINCT b1 FROM $src),
       |reach AS (
       |  SELECT node, node AS lab FROM nodes
       |  UNION
       |  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b),
       |comp AS (SELECT node, min(lab) AS cl FROM reach GROUP BY node)""".stripMargin
}
