package graft.queries

import graft.Q
import graft.streaming.EventStreams

/** SURVEY.md §2.9 streaming stretch goal: the tumbling-window
  * aggregate executed through Structured Streaming (file source →
  * watermark → windowed state → memory sink). Its oracle is the same
  * batch SQL as q34 — the unified-model guarantee that the streaming
  * result equals the batch result over the same data is exactly what
  * the check verifies.
  */
object StreamingOps {

  val q56 = Q(
    "q56_stream_tumbling_counts",
    (s, dir) =>
      EventStreams.tumblingCounts(s, dir)
        .orderBy("wstart", "event_type"),
    // the batch tumbling oracle IS the streaming oracle — unified model
    Events.q34.oracle)

  /** Sliding windows (T2) through the streaming engine: overlapping
    * windows mean every event feeds two state rows; the watermark
    * bounds that state. Shares q35's batch oracle.
    */
  val q80 = Q(
    "q80_stream_sliding_counts",
    (s, dir) =>
      EventStreams.slidingCounts(s, dir)
        .orderBy("wstart"),
    Events.q35.oracle)

  /** Stream-static enrichment join through the streaming engine: the
    * stream joins a broadcast static dimension inside each
    * micro-batch before the windowed aggregation. The oracle rebuilds
    * the same static side with range() and replays the tumbling
    * window as epoch math.
    */
  val q91 = Q(
    "q91_stream_enriched_counts",
    (s, dir) =>
      EventStreams.enrichedTumblingCounts(s, dir)
        .orderBy("wstart", "segment"),
    Some(s"""SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS wstart,
      |  CAST(seg_user % 3 AS INTEGER) AS segment,
      |  count(*) AS n, ${graft.functions.Portable.moneySumSql("value")} AS sum_value
      |FROM events
      |JOIN (SELECT unnest(range(0, 100)) AS seg_user) segs
      |  ON user_id = seg_user
      |GROUP BY 1, 2
      |ORDER BY wstart, segment""".stripMargin))

  /** Stream-stream interval join (T6): purchases ⋈ errors within 30
    * minutes per user, both sides watermarked so join state is
    * evictable. The oracle is the equivalent batch range self-join —
    * the unified-model guarantee again.
    */
  val q124 = Q(
    "q124_stream_stream_join",
    (s, dir) =>
      EventStreams.purchaseErrorJoin(s, dir)
        .orderBy("p_id", "e_id"),
    Some("""SELECT p.event_id AS p_id, e.event_id AS e_id, p.user_id
      |FROM events p JOIN events e
      |  ON p.event_type = 'purchase' AND e.event_type = 'error'
      | AND e.user_id = p.user_id
      | AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTE
      |ORDER BY p_id, e_id""".stripMargin))

  val all: Vector[Q] = Vector(q56, q80, q91, q124)
}
