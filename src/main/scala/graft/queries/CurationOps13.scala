package graft.queries

import graft.{Pins, Q}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** Round-12 second wave — two warehouse-operations reads the earlier
  * waves stop short of:
  *
  *   - q289 survivorship: near-dup CLUSTERING (q100) answers "which
  *     docs are copies"; the MDM question a warehouse then faces is
  *     "which copy do we KEEP, and what provenance does the merged
  *     record carry" — deterministic survivorship rules + lineage
  *     aggregation per cluster.
  *   - q290 reshard audit: adding one shard to a corpus layout moves
  *     data; HOW MUCH depends on the assignment function. The audit
  *     measures both answers on the actual corpus — consistent-hash
  *     ring (8 vnodes/shard) vs naive modulo — the number that
  *     decides whether a 100 TB rebalance is a ~6% move or a ~94%
  *     rewrite.
  */
object CurationOps13 {

  /** Survivorship selection over the q100 near-dup clusters: per
    * multi-member cluster, the surviving document under the
    * deterministic rule (longest n_chars, then smallest doc_id) plus
    * merged provenance (member count, distinct sources, sorted source
    * list). The argmax is a lexicographic min(struct(-n_chars,
    * doc_id, source)) inside the per-cluster aggregate — no window,
    * no second shuffle; the oracle mirrors it as row_number() = 1
    * over (n_chars DESC, doc_id).
    *
    * Scale shape: identical to q100 (pinned signature frame, band
    * candidate bypass, CC over the dup subgraph only), plus ONE extra
    * per-cluster aggregate; source/n_chars ride the signature frame
    * so documents is still scanned once.
    */
  val q289 = Q(
    "q289_dedup_survivorship",
    (s, dir) => {
      // n_chars is coalesced to -1 on BOTH sides (ADVICE r12 #3):
      // Spark's struct ordering sorts a null field FIRST inside
      // min(struct(...)), while DuckDB's row_number ORDER BY n_chars
      // DESC puts NULLs LAST — a null-chars doc would make the two
      // engines pick different survivors. With the sentinel, a
      // null-chars doc always loses to any real (>= 0) length in both
      // engines, and ties fall through to doc_id identically.
      val db = Pins.pin(graft.Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          coalesce(col("n_chars").cast("long"), lit(-1L)).as("n_chars"),
          Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1) // token-free docs leave the oracle's unnest too
        .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1")))
      graft.graph.BandCluster.assign(db)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"),
          min(struct((-col("n_chars")).as("neg_chars"),
            col("doc_id").as("sid"), col("source").as("ssrc"))).as("w"),
          countDistinct("source").as("n_sources"),
          concat_ws(",", sort_array(collect_set(col("source")))).as("sources"))
        .filter(col("n_docs") >= 2)
        .select(col("cluster"), col("n_docs"),
          col("w.sid").as("survivor_id"),
          col("w.ssrc").as("survivor_source"),
          (-col("w.neg_chars")).as("survivor_chars"),
          col("n_sources"), col("sources"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM documents),
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
      |mh AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
      |db AS (
      |  SELECT doc_id,
      |    min(CASE WHEN band = 0 THEN bucket END) AS b0,
      |    min(CASE WHEN band = 1 THEN bucket END) AS b1
      |  FROM (
      |    SELECT doc_id, seed // 8 AS band,
      |      ${Portable.md5LongSql("concat(seed // 8, '|', string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)))")} AS bucket
      |    FROM mh GROUP BY doc_id, seed // 8)
      |  GROUP BY doc_id),
      |edges AS (SELECT b0 AS a, b1 AS b FROM db UNION SELECT b1, b0 FROM db),
      |nodes AS (SELECT DISTINCT b0 AS node FROM db UNION SELECT DISTINCT b1 FROM db),
      |reach AS (
      |  SELECT node, node AS lab FROM nodes
      |  UNION
      |  SELECT e.a AS node, r.lab FROM edges e JOIN reach r ON r.node = e.b),
      |comp AS (SELECT node, min(lab) AS cl FROM reach GROUP BY node),
      |mem AS (
      |  SELECT c.cl, db.doc_id, d.source,
      |    COALESCE(CAST(d.n_chars AS BIGINT), -1) AS n_chars
      |  FROM db JOIN comp c ON db.b0 = c.node
      |  JOIN documents d ON d.doc_id = db.doc_id),
      |rk AS (
      |  SELECT cl, doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY cl ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM mem),
      |agg AS (
      |  SELECT cl, min(doc_id) AS cluster, count(*) AS n_docs,
      |    count(DISTINCT source) AS n_sources,
      |    string_agg(DISTINCT source, ',' ORDER BY source) AS sources
      |  FROM mem GROUP BY cl)
      |SELECT cluster, n_docs, rk.doc_id AS survivor_id,
      |  rk.source AS survivor_source, rk.n_chars AS survivor_chars,
      |  n_sources, sources
      |FROM agg JOIN rk ON agg.cl = rk.cl AND rk.rn = 1
      |WHERE n_docs >= 2
      |ORDER BY cluster""".stripMargin))

  /** Reshard-cost audit, 16 → 17 shards, per source: the fraction of
    * documents that MOVE under (a) a consistent-hash ring with 8
    * virtual nodes per shard (a doc lands on the clockwise successor
    * of its 60-bit hash; only docs whose successor becomes one of the
    * new shard's vnodes move — ~8/136 expected) vs (b) naive modulo
    * placement (everything whose hash changes residue — ~16/17
    * expected). All arithmetic is exact 60-bit integers; the ring is
    * a 136-row broadcast, both generations assigned in ONE aggregate
    * over the doc × ring-point frame (gen-1 argmin via a null-safe
    * min over the 128 old points, gen-2 over all 136).
    */
  val q290 = Q(
    "q290_reshard_audit",
    (s, dir) => {
      val s2 = s
      import s2.implicits._
      val mod60 = 1L << 60
      // ring: shards 0..16 × vnodes 0..7; shard 16 exists only in
      // generation 2
      val ring = (0 to 16).flatMap(sh => (0 to 7).map(v => (sh, v))).toDF("sh", "v")
        .select(col("sh").cast("long").as("shard"),
          Portable.md5Long(concat(lit("node:"), col("sh").cast("string"),
            lit(":"), col("v").cast("string"))).as("r"),
          (col("sh") < 16).as("in1"))
      val docsH = graft.Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          Portable.md5Long(concat(lit("ring:"), col("doc_id").cast("string"))).as("h"))
      val assigned = docsH.join(broadcast(ring))
        .withColumn("delta", pmod(col("r") - col("h"), lit(mod60)))
        .groupBy("doc_id", "source", "h")
        .agg(
          min(when(col("in1"),
            struct(col("delta").as("d"), col("shard").as("sh")))).as("a1"),
          min(struct(col("delta").as("d"), col("shard").as("sh"))).as("a2"))
        .select(col("source"),
          (col("a1.sh") =!= col("a2.sh")).cast("long").as("moved_ring"),
          (pmod(col("h"), lit(16L)) =!= pmod(col("h"), lit(17L)))
            .cast("long").as("moved_mod"))
      assigned.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("moved_ring").as("moved_ring"), sum("moved_mod").as("moved_mod"))
        .select(col("source"), col("n_docs"), col("moved_ring"), col("moved_mod"),
          round(col("moved_ring").cast("double") / col("n_docs"), 6).as("rate_ring"),
          round(col("moved_mod").cast("double") / col("n_docs"), 6).as("rate_mod"))
        .orderBy("source")
    },
    Some(s"""WITH ring AS (
      |  SELECT CAST(s.range AS BIGINT) AS shard,
      |    ${Portable.md5LongSql("concat('node:', CAST(s.range AS VARCHAR), ':', CAST(v.range AS VARCHAR))")} AS r,
      |    s.range < 16 AS in1
      |  FROM range(17) s CROSS JOIN range(8) v),
      |dh AS (
      |  SELECT doc_id, source,
      |    ${Portable.md5LongSql("concat('ring:', CAST(doc_id AS VARCHAR))")} AS h
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, source, h, shard, in1,
      |    ((r - h) % 1152921504606846976 + 1152921504606846976)
      |      % 1152921504606846976 AS delta
      |  FROM dh CROSS JOIN ring),
      |r1 AS (
      |  SELECT doc_id, shard AS sh1,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY delta, shard) AS rn
      |  FROM pairs WHERE in1),
      |r2 AS (
      |  SELECT doc_id, source, h, shard AS sh2,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY delta, shard) AS rn
      |  FROM pairs),
      |mv AS (
      |  SELECT r2.source,
      |    CASE WHEN r1.sh1 <> r2.sh2 THEN 1 ELSE 0 END AS moved_ring,
      |    CASE WHEN r2.h % 16 <> r2.h % 17 THEN 1 ELSE 0 END AS moved_mod
      |  FROM r2 JOIN r1 ON r1.doc_id = r2.doc_id AND r1.rn = 1 AND r2.rn = 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(moved_ring) AS BIGINT) AS moved_ring,
      |  CAST(sum(moved_mod) AS BIGINT) AS moved_mod,
      |  round(CAST(sum(moved_ring) AS DOUBLE) / count(*), 6) AS rate_ring,
      |  round(CAST(sum(moved_mod) AS DOUBLE) / count(*), 6) AS rate_mod
      |FROM mv
      |GROUP BY 1
      |ORDER BY source""".stripMargin))

  val all: Vector[Q] = Vector(q289, q290)
}
