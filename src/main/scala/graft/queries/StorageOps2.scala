package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** Scan-pruning indexes, part two. Zone maps (q242) prune predicates
  * CORRELATED with the layout order — ranges over a sort key. They
  * are useless for point lookups on an uncorrelated column: when
  * shards are laid out by doc_id, every shard's (min, max) envelope
  * of a CONTENT HASH spans nearly the whole 60-bit range, so a
  * content-addressed lookup ("is this exact text already stored?" —
  * the dedup-store hot path) keeps every shard. The classic answer is
  * a per-shard Bloom filter; this one is built from PORTABLE hash
  * bits (bit = h % 4096 — a k=1 Bloom filter both engines compute
  * bit-identically), so the whole index, probe evaluation and
  * false-positive behavior are oracle-checkable.
  *
  * Scale design: the index is Θ(shards × 4096 bits) REGARDLESS of
  * corpus size — built in one scan whose map-side distinct collapses
  * duplicate (shard, bit) pairs before the wire; probes broadcast
  * against the bit table; nothing rescans documents at lookup time.
  * No false negatives is structural (every stored hash set its bit),
  * and the audit pins it per probe.
  */
object StorageOps2 {

  /** Per-shard hash-bit (Bloom) index vs zone maps for 20
    * content-hash point lookups over 16 doc_id-ranged shards.
    * `zone_kept` ≈ all 16 (the envelope never excludes), `bloom_kept`
    * collapses toward 1 + false positives; `true_shard_kept` pins the
    * no-false-negative contract row by row.
    */
  val q270 = Q(
    "q270_bloom_shard_index",
    (s, dir) => {
      val hashed = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.md5Long(col("text")).as("h"))
      // 16 layout shards by doc_id range (the zone-map-friendly order)
      val mx = hashed.agg(max("doc_id").as("mx"))
      val sharded = Pins.pin(hashed.crossJoin(broadcast(mx))
        .select(col("doc_id"), col("h"),
          least(floor(col("doc_id") * 16 / (col("mx") + 1)), lit(15L))
            .cast("long").as("shard"))) // one scan feeds index build + probes
      val zones = sharded.groupBy("shard")
        .agg(min("h").as("zlo"), max("h").as("zhi"))
      val bloom = sharded // map-side distinct: <= shards x 4096 rows survive
        .select(col("shard"), (col("h") % 4096).as("bit")).distinct()
      val probes = sharded.filter(col("doc_id") < 20)
        .select(col("doc_id").as("probe_id"), col("h").as("hp"),
          col("shard").as("true_shard"))
      val zoneKept = probes.join(broadcast(zones),
          col("hp") >= col("zlo") && col("hp") <= col("zhi"))
        .groupBy("probe_id").agg(count(lit(1)).as("zone_kept"))
      val bloomHits = probes.join(broadcast(bloom),
          col("hp") % 4096 === col("bit"))
      val bloomKept = bloomHits.groupBy("probe_id")
        .agg(count(lit(1)).as("bloom_kept"),
          max(col("shard") === col("true_shard")).as("true_shard_kept"))
      probes.select("probe_id")
        .join(zoneKept, Seq("probe_id"), "left")
        .join(bloomKept, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("zone_kept"), lit(0L)).as("zone_kept"),
          coalesce(col("bloom_kept"), lit(0L)).as("bloom_kept"),
          coalesce(col("true_shard_kept"), lit(false)).as("true_shard_kept"))
        .orderBy("probe_id")
    },
    Some(s"""WITH hashed AS (
      |  SELECT doc_id, ${Portable.md5LongSql("text")} AS h FROM documents),
      |mx AS (SELECT max(doc_id) AS mx FROM hashed),
      |sharded AS (
      |  SELECT doc_id, h,
      |    least(CAST(floor(doc_id * 16 / (mx + 1)) AS BIGINT), 15) AS shard
      |  FROM hashed CROSS JOIN mx),
      |zones AS (
      |  SELECT shard, min(h) AS zlo, max(h) AS zhi FROM sharded GROUP BY 1),
      |bloom AS (
      |  SELECT DISTINCT shard, h % 4096 AS bit FROM sharded),
      |probes AS (
      |  SELECT doc_id AS probe_id, h AS hp, shard AS true_shard
      |  FROM sharded WHERE doc_id < 20),
      |zk AS (
      |  SELECT probe_id, count(*) AS zone_kept
      |  FROM probes JOIN zones ON hp >= zlo AND hp <= zhi GROUP BY 1),
      |bk AS (
      |  SELECT probe_id, count(*) AS bloom_kept,
      |    max(shard = true_shard) AS true_shard_kept
      |  FROM probes JOIN bloom ON hp % 4096 = bit GROUP BY 1)
      |SELECT p.probe_id,
      |  CAST(coalesce(zone_kept, 0) AS BIGINT) AS zone_kept,
      |  CAST(coalesce(bloom_kept, 0) AS BIGINT) AS bloom_kept,
      |  coalesce(true_shard_kept, false) AS true_shard_kept
      |FROM probes p
      |LEFT JOIN zk ON p.probe_id = zk.probe_id
      |LEFT JOIN bk ON p.probe_id = bk.probe_id
      |ORDER BY p.probe_id""".stripMargin))

  val all: Vector[Q] = Vector(q270)
}
