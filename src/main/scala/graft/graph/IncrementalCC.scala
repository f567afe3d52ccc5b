package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pins

/** Delete-aware incremental connected-components maintenance
  * (VERDICT r8 #4) — the missing half of q262's insert-only IVM:
  * real dedup state also absorbs takedowns, and deletions break
  * min-label composition two ways q262's contraction cannot express:
  * the removed edges' component label may BE a removed node (the
  * label carrier vanishes), and removing a cut edge SPLITS a
  * component into pieces no label merge can produce.
  *
  * The scale-correct shape: deletions can only split components
  * (never merge them), and a surviving component lies wholly inside
  * ONE snapshot component — so only components that actually LOST an
  * edge need relabelling. The refresh (1) marks each stored edge as
  * lost or surviving, (2) marks the snapshot components incident to
  * a lost edge as affected, (3) re-runs CC over ONLY the surviving
  * edges of affected components, and (4) composes: nodes in
  * unaffected components keep their stored label verbatim. Refresh
  * cost is Θ(lost edges + affected components), never Θ(corpus) —
  * the q241/q255/q260/q262 IVM contract extended to removals. An
  * edge shared by a removed and a surviving document is NOT lost, so
  * such a takedown triggers no recompute at all — the diff, not the
  * takedown list, decides.
  *
  * r14 shape change (guide §2.4, measured with ProfileJobs): the
  * edge diff is ONE flagged frame, not a snap/surv `exceptAll`. The
  * r13 path materialised the snapshot distinct, the surviving
  * distinct AND an exceptAll over both — three shuffles of the edge
  * set, re-derived from the doc frame at every consumer (~1.0 s of
  * q264's 8.0 s at sf0.1). Callers that own a per-edge removal flag
  * (q264: bool_and(removed) over the doc rows — one aggregation)
  * pass it straight to [[fromFlags]]; the generic entry point
  * derives the flag with a single left join and shares every
  * downstream consumer (snapshot CC, lost set, affected filter,
  * surviving node set) through one pinned frame.
  *
  * Correctness: unaffected components have an unchanged edge set, so
  * the full recompute reproduces their stored min-node label
  * exactly; affected components are recomputed from scratch over
  * their surviving edges, which is BY DEFINITION what the full
  * recompute does there (GraphOps2Spec pins a label-carrier removal
  * and a component split; q264's oracle is the full recursive
  * closure over the surviving edge set).
  */
object IncrementalCC {

  /** @param snapEdges the stored snapshot edge set (long cols `a`,`b`)
    * @param survEdges the surviving edge set after deletions — must
    *                  be a SUBSET of `snapEdges` (same normalization)
    * @param pinAndRelease see [[fromFlags]]
    * @return one row per surviving node:
    *         (node, component, was_affected) where component is the
    *         min surviving node id of its component and was_affected
    *         marks nodes whose snapshot component lost an edge
    */
  def withDeletions(snapEdges: DataFrame, survEdges: DataFrame,
      pinAndRelease: Boolean = false): DataFrame = {
    val flags = snapEdges.distinct()
      .join(survEdges.distinct().withColumn("__s", lit(1)), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("__s").isNull.as("lost"))
    fromFlags(flags, pinAndRelease)
  }

  /** Same refresh from a pre-flagged edge frame `(a, b, lost)` — one
    * row per distinct stored edge, `lost` = true iff the edge is
    * absent from the surviving set. The frame is pinned ONCE here and
    * feeds all four consumers.
    *
    * @param pinAndRelease false (default) returns the composed frame
    *                 LAZY and leaves the intermediate checkpoints
    *                 pinned — right for a one-shot query (q264),
    *                 where an extra eager materialization of the
    *                 output costs a full Θ(nodes) pass inside the
    *                 operator (measured ~+12% on q264 at sf0.1) and
    *                 the JVM ends anyway. True pins the output and
    *                 RELEASES the flagged/snapshot/affected/recomputed
    *                 checkpoints first (Rotate rule 1) — REQUIRED in
    *                 the long-lived refresh-loop deployment, where
    *                 this runs per takedown batch and the lazy mode
    *                 would pin another Θ(nodes) snapshot per call;
    *                 the pinned result is exactly the artifact the
    *                 loop stores as its next snapshot
    *                 (IncrementalCCReleaseSpec pins that the loop
    *                 mode frees every intermediate block).
    */
  def fromFlags(edgeFlags: DataFrame,
      pinAndRelease: Boolean = false): DataFrame = {
    // stored state: in production this frame is persisted at
    // snapshot-build time and read back here; recomputing it in the
    // operator keeps the query self-contained (q262's convention)
    val ef = Pins.pin(edgeFlags)
    // CC.run's output is already an eager checkpoint crossing back on
    // the caller's session — no re-pin (the r13 double pin cost a
    // full extra label pass per call)
    val snap = ConnectedComponents.run(ef.select("a", "b"))
    val affected = Pins.pin(ef.filter(col("lost"))
      .select(explode(array(col("a"), col("b"))).as("node")).distinct()
      .join(snap, "node")
      .select(col("component").as("aff")).distinct()) // bounded by #touched components
    val surv = ef.filter(!col("lost"))
    // surviving edges inside affected components; both endpoints of
    // a snapshot edge share a label, so tagging via `a` suffices
    val inAffected = surv
      .join(snap.select(col("node").as("a"), col("component").as("ca")), "a")
      .join(affected, col("ca") === col("aff"), "left_semi")
      .select("a", "b")
    val recomp = ConnectedComponents.run(inAffected)
    val survNodes = surv
      .select(explode(array(col("a"), col("b"))).as("node")).distinct()
    val out = survNodes
      .join(snap, Seq("node")) // every surviving node was in the snapshot
      .join(broadcast(affected), col("component") === col("aff"), "left")
      .join(recomp.select(col("node"), col("component").as("newc")),
        Seq("node"), "left")
      .select(col("node"),
        when(col("aff").isNotNull, col("newc"))
          .otherwise(col("component")).as("component"),
        col("aff").isNotNull.as("was_affected"))
    if (!pinAndRelease) out
    else {
      // refresh-loop mode: materialize the refreshed labels, then
      // release every intermediate pin (Rotate rule 1 — valid only
      // once the sole consumer, the output, has materialized)
      val pinned = Pins.pin(out)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(ef)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(snap)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(affected)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(recomp)
      pinned
    }
  }
}
