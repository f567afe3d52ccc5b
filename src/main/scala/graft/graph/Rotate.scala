package graft.graph

import org.apache.spark.sql.DataFrame
import graft.Pins

/** THE checkpoint-rotation policy for iterative operators
  * (VERDICT r8 #8) — one documented place for the rules q221/q142/
  * the streaming IVM each re-derived, so the next iterative operator
  * inherits the measured policy instead of re-measuring it.
  *
  * Rules (each measured, see the citing call sites):
  *
  * 1. SUPERSEDE, don't accumulate: when a pinned frame is replaced
  *    by a derived pinned frame (an edge set re-filtered, a view
  *    merged with a delta), unpersist the predecessor as soon as the
  *    successor has materialized — a localCheckpoint holds real
  *    block-manager memory, and an unbounded chain of them is the
  *    leak that kills long refresh loops. ONLY valid once every
  *    consumer of the predecessor has materialized: a checkpointed
  *    frame cannot recompute its truncated lineage (q254's per-round
  *    graphs stay pinned until the audit union materializes — that
  *    is correct, not a leak).
  *
  * 2. SHRINK-GATE the rotation: re-materializing a loop-invariant
  *    frame to a smaller filtered copy pays a full materialization
  *    to make later scans cheaper — worth it ONLY when the frame
  *    actually shrank. q221 measured both failure modes: rotating
  *    unconditionally on a 60-core that retains 99.7% of nodes was
  *    2.0× slower at sf10 (r7); never rotating leaves eroding graphs
  *    scanning dead edges (r6). The measured gate: rotate when the
  *    live set fell below [[shrinkGate]] of its previous size.
  *
  * 3. The deciding count must be CHEAP: gate on an already-pinned,
  *    node-sized frame (one action on cached blocks), never on a
  *    count that itself triggers the work being gated.
  */
object Rotate {

  /** Gate of rule 2 — q221's measured break-even (sf1 + sf10,
    * BENCH_sf10_targeted_r8): below it, re-materializing the shrunk
    * frame repays its cost within a round; above it, keep probing
    * the pinned frame with semi-joins.
    */
  val shrinkGate = 0.8

  /** Rule 2's decision. */
  def shrank(prevCount: Long, nextCount: Long): Boolean =
    nextCount < shrinkGate * prevCount

  /** Rule 1: pin `next` ([[graft.Pins.pin]], so the running query's
    * scope also releases it when the query ends), then release the
    * superseded predecessor's blocks now. Pass `prev = null` on the
    * first iteration.
    *
    * The pin is deserialized (MEMORY_AND_DISK). A serialized pin
    * (MEMORY_AND_DISK_SER) was measured on q221 (sf10, 48 GB driver,
    * best-of-2 canary-stamped): storage peak 16.2 → 9.8 GB, but wall
    * 84.6 s @ canary 1.66 (deserialized) vs 97.8 s @ canary 1.10
    * (serialized) — the per-scan deserialization pass costs more than
    * the saved GC scan on a 3-round peel.
    */
  def supersede(next: DataFrame, prev: DataFrame): DataFrame = {
    val pinned = Pins.pin(next)
    if (prev != null)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(prev)
    pinned
  }
}
