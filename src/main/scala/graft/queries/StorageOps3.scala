package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable => P}
import org.apache.spark.sql.functions._

/** Round-10 storage/layout wave 5 — the two shard-management ops a
  * 100 TB corpus store runs between releases:
  *
  *   - q280: the SEEDED GLOBAL SHUFFLE that training exports need
  *     (decorrelate document order from ingest order, reproducibly)
  *     plus the audit that proves it worked — shard sizes balanced
  *     AND every source interleaved into every shard at its global
  *     rate. Assignment is pure per-row hash arithmetic (top bits of
  *     a seeded 60-bit hash): no global sort, no NTILE over a
  *     single-partition window, nothing ordered corpus-wide — the
  *     0-shuffle layout step, with balance delivered by hash
  *     uniformity and MEASURED in the output rather than assumed.
  *
  *   - q281: consistent-hashing vs modulo when a shard is ADDED
  *     (16 → 17). Modulo reassigns almost every key (any key with
  *     ck%16 ≠ ck%17 moves — ~16/17 of them); a hash ring with 8
  *     virtual nodes per shard moves only the keys whose ring
  *     successor became the new shard (E[moved] = 1/17). The op
  *     emits both movement rates in integer basis points — the
  *     rebalance-cost estimate a storage planner reads before
  *     scaling the shard count.
  *
  * Scale: q280 is one scan + two bounded aggregates (shards ×
  * sources). q281 joins keys against a CONSTANT-size broadcast ring
  * (136 points) — Θ(keys · |ring|) row-ops, linear in keys; ring
  * point hashes are fixed strings, so cross-engine determinism is a
  * property of the fixed ring, not of the data.
  */
object StorageOps3 {

  /** Seeded pseudo-shuffle into 16 shards + interleave audit. Shard =
    * top 4 bits of md5₆₀("shuf1:" ⊕ doc_id). Per shard: row count,
    * size share in basis points, and the worst per-source deviation
    * of the shard's source mix from the global mix (both mixes in
    * integer basis points — exact integer division, no float ever).
    * A deviation near 0 bp says every shard is a faithful sample of
    * the corpus; a shard stuck at one source means the "shuffle"
    * preserved ingest locality and a training epoch would see
    * correlated batches.
    */
  val q280 = Q(
    "q280_seeded_shard_shuffle",
    (s, dir) => {
      // pinned: the audit reads the assignment along four branches
      // (total, global mix, shard sizes, shard × source cells)
      val sharded = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          shiftright(P.md5Long(concat(lit("shuf1:"),
            col("doc_id").cast("string"))), 56).as("shard")))
      val total = sharded.count()
      // all shares in integer basis points via `div` — exact integer
      // division in both engines, no float ever
      val bySrc = sharded.groupBy("source").agg(count(lit(1)).as("n_src"))
        .withColumn("bp_global", expr(s"n_src * 10000 div $total"))
      val byShardSrc = sharded.groupBy("shard", "source")
        .agg(count(lit(1)).as("n_ss"))
      val byShard = sharded.groupBy("shard").agg(count(lit(1)).as("n_docs"))
      // full shard × source spine: a source ABSENT from a shard is a
      // deviation of its whole global share, not a skipped row
      byShard.crossJoin(bySrc.select("source", "bp_global"))
        .join(byShardSrc, Seq("shard", "source"), "left")
        .na.fill(0L, Seq("n_ss"))
        .withColumn("bp_in_shard", expr("n_ss * 10000 div n_docs"))
        .groupBy("shard", "n_docs")
        .agg(max(abs(col("bp_in_shard") - col("bp_global"))).as("max_src_dev_bp"))
        .select(col("shard"), col("n_docs"),
          expr(s"n_docs * 10000 div $total").as("share_bp"),
          col("max_src_dev_bp"))
        .orderBy("shard")
    },
    Some(s"""WITH sharded AS (
      |  SELECT doc_id, source,
      |    ${P.md5LongSql("concat('shuf1:', CAST(doc_id AS VARCHAR))")} >> 56
      |      AS shard
      |  FROM documents),
      |tot AS (SELECT count(*) AS n FROM sharded),
      |by_src AS (
      |  SELECT source, count(*) * 10000 // (SELECT n FROM tot) AS bp_global
      |  FROM sharded GROUP BY 1),
      |by_shard AS (SELECT shard, count(*) AS n_docs FROM sharded GROUP BY 1),
      |by_ss AS (
      |  SELECT shard, source, count(*) AS n_ss FROM sharded GROUP BY 1, 2),
      |spine AS (
      |  SELECT s.shard, s.n_docs, by_src.source, by_src.bp_global,
      |    coalesce(n_ss, 0) AS n_ss
      |  FROM by_shard s CROSS JOIN by_src
      |  LEFT JOIN by_ss ON by_ss.shard = s.shard AND by_ss.source = by_src.source)
      |SELECT shard, n_docs,
      |  CAST(n_docs * 10000 // (SELECT n FROM tot) AS BIGINT) AS share_bp,
      |  CAST(max(abs(n_ss * 10000 // n_docs - bp_global)) AS BIGINT)
      |    AS max_src_dev_bp
      |FROM spine
      |GROUP BY 1, 2
      |ORDER BY shard""".stripMargin))

  /** Rebalance cost of adding shard 16 to a 16-shard layout, modulo
    * vs consistent hashing (8 virtual nodes per shard; successor =
    * smallest ring point ≥ key hash, wrapping to the ring minimum).
    * One summary row: key count, keys moved under each scheme, both
    * in integer basis points.
    */
  val q281 = Q(
    "q281_consistent_hash_rebalance",
    (s, dir) => {
      // r14 (guide §2.5, the q206 rule): each key fans out to 8·shards
      // ring points and aggregates back — ~256 rows of compute per
      // 16 input bytes — and the single-row-group sf-small file pins
      // that to one task. Repartition the key projection first;
      // cluster-derived count, not a constant.
      val keys = Tables.t(s, dir, "customer")
        .select(col("c_custkey").as("ck"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("ck"),
          P.md5Long(concat(lit("key:"), col("ck"))).as("hk"))
      def ring(shards: Int) = broadcast(
        s.range(shards.toLong * 8).select(
          expr("id div 8").as("shard"),
          P.md5Long(concat(lit("ring:"), expr("cast(id div 8 as string)"),
            lit(":"), expr("cast(id % 8 as string)"))).as("ph")))
      def assign(shards: Int, outCol: String) = keys
        .crossJoin(ring(shards))
        .groupBy("ck", "hk")
        .agg(
          expr("min_by(shard, ph) FILTER (WHERE ph >= hk)").as("succ"),
          expr("min_by(shard, ph)").as("wrap"))
        .select(col("ck"), coalesce(col("succ"), col("wrap")).as(outCol))
      assign(16, "ch_old").join(assign(17, "ch_new"), "ck")
        .select(col("ck"), col("ch_old"), col("ch_new"),
          (pmod(col("ck"), lit(16)) =!= pmod(col("ck"), lit(17))).as("mod_moved"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("mod_moved"), 1L).otherwise(0L)).as("moved_mod"),
          sum(when(col("ch_old") =!= col("ch_new"), 1L).otherwise(0L)).as("moved_ch"))
        .select(col("n_keys"),
          col("moved_mod"), expr("moved_mod * 10000 div n_keys").as("moved_mod_bp"),
          col("moved_ch"), expr("moved_ch * 10000 div n_keys").as("moved_ch_bp"))
    },
    Some {
      def ringSql(shards: Int) =
        s"""SELECT v // 8 AS shard,
           |  ${P.md5LongSql("concat('ring:', CAST(v // 8 AS VARCHAR), ':', CAST(v % 8 AS VARCHAR))")} AS ph
           |FROM (SELECT unnest(range(0, ${shards * 8})) AS v)""".stripMargin
      s"""WITH keys AS (
         |  SELECT c_custkey AS ck,
         |    ${P.md5LongSql("concat('key:', CAST(c_custkey AS VARCHAR))")} AS hk
         |  FROM customer),
         |ring_old AS (${ringSql(16)}),
         |ring_new AS (${ringSql(17)}),
         |a_old AS (
         |  SELECT ck, coalesce(
         |    min_by(shard, ph) FILTER (WHERE ph >= hk), min_by(shard, ph))
         |    AS ch_old
         |  FROM keys CROSS JOIN ring_old GROUP BY ck, hk),
         |a_new AS (
         |  SELECT ck, coalesce(
         |    min_by(shard, ph) FILTER (WHERE ph >= hk), min_by(shard, ph))
         |    AS ch_new
         |  FROM keys CROSS JOIN ring_new GROUP BY ck, hk),
         |j AS (
         |  SELECT a_old.ck AS ck, ch_old, ch_new,
         |    (a_old.ck % 16) <> (a_old.ck % 17) AS mod_moved
         |  FROM a_old JOIN a_new ON a_old.ck = a_new.ck)
         |SELECT count(*) AS n_keys,
         |  CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT) AS moved_mod,
         |  CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS moved_mod_bp,
         |  CAST(sum(CASE WHEN ch_old <> ch_new THEN 1 ELSE 0 END) AS BIGINT) AS moved_ch,
         |  CAST(sum(CASE WHEN ch_old <> ch_new THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
         |    AS moved_ch_bp
         |FROM j""".stripMargin
    })

  val all: Vector[Q] = Vector(q280, q281)
}
