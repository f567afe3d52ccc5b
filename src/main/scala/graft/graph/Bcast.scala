package graft.graph

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{approx_count_distinct, broadcast}

/** Broadcast gate for iterative operators' per-round NODE-sized
  * frames (labels, contributions, degree tables), shared so
  * [[ConnectedComponents]] and q142/q220/q286/q201 inherit one policy
  * instead of five constants: the loop KNOWS the frame is ≤ nodeCount rows of a few
  * longs — a size the planner cannot estimate through a pinned RDD
  * (guide §3.1/§8, "use what you know that the optimizer does not") —
  * so below the gate every per-round join carries an explicit
  * broadcast hint and the loop-invariant EDGE side is never
  * exchanged, sorted, or shuffle-written at all (without the hint the
  * planner must stage a full edge exchange per round before AQE can
  * demote the join to broadcast — the map-side shuffle write of the
  * big side still happens, once per round).
  *
  * 4M nodes ≈ 64-96 MB framed (two longs / long+decimal), the
  * comfortable end of broadcast sizing; above the gate the label side
  * is cluster-scale and operators keep their shuffle-join shape.
  * Node counts are OBSERVED on the edge pin action
  * (`Dataset.observe` + approx_count_distinct — delivered through an
  * eager localCheckpoint, measured in the CC loop), so the gate is
  * data-derived and costs no extra pass; approximate counts are fine
  * for a performance gate (never semantics).
  */
object Bcast {

  val maxNodes: Long = 4000000L

  /** The per-round hint: broadcast `df` iff the observed node count
    * cleared the gate.
    */
  def hint(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Pin an edge frame and observe, on that pin's one action, the
    * approximate distinct counts of its two endpoint columns: returns
    * (pinned edges, count of `a`, count of `b`). Each caller turns the
    * counts into its own gate against [[maxNodes]].
    */
  def pinCounted(edges: DataFrame, a: Column, b: Column): (DataFrame, Long, Long) = {
    val obs = Observation()
    val e = Pins.pin(edges.observe(obs,
      approx_count_distinct(a).as("na"), approx_count_distinct(b).as("nb")))
    val m = obs.getAsJava
    (e, m.get("na").asInstanceOf[Long], m.get("nb").asInstanceOf[Long])
  }
}
