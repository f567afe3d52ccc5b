package graft.queries

import graft.{Pins, Q}
import graft.functions.Portable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 wave: the WRITE side of exact-substring dedup. q192
  * (CurationOps2) audits cross-document duplicated-span mass and
  * labels each document keep/trim/drop — but nothing EXECUTES the
  * trim (VERDICT r12 missing #3). q291 is the operator a corpus
  * pipeline runs next: per document, the retained character ranges
  * after every cross-document duplicated span is excised — the
  * byte-range form of Lee et al.'s exact-substring dedup output,
  * which a writer then applies with zero further text scans.
  */
object CurationOps14 {

  /** Span excision over the q192 window population: 40-char anchored
    * windows (winnowing, h % 4 == 0 — the same content-defined
    * selection, so excision hits exactly the spans the audit counted),
    * a window is duplicated when its hash occurs in >= 2 DISTINCT
    * documents (q192's cross-document rule), and every occurrence of a
    * duplicated window excises its [pos, pos+39] character range.
    * Overlapping/adjacent excisions merge into islands; the output is
    * the COMPLEMENT — one row per maximal retained range, `(doc_id,
    * keep_start, keep_end, keep_len)`, docs with nothing excised
    * emitting their full [1, len] range. Docs under 40 chars are out
    * of the window population (q192's filter) and out of this output.
    *
    * Scale shape: one explode + one groupBy on 60-bit hashes + one
    * semi-join back (linear in corpus size, q192's exact shape), then
    * interval-merge via two windows PARTITIONED BY doc_id — the
    * per-partition work is each doc's own duplicated-window count, so
    * the shuffle is keyed and bounded by per-doc span volume, never
    * corpus-global. The anchor kernel keeps the exploded volume at
    * ~1/4 of the window count, and positions ride the same pass (no
    * second text scan).
    */
  /** Shared excision pipeline (q291 emits the ranges, q294 applies
    * them): returns (pinned ≥40-char docs frame, keep ranges
    * (doc_id, ks, ke)). A doc whose text is entirely excised emits
    * zero ranges.
    */
  private def keepRanges(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
      val docs = Pins.pin(graft.Tables.docs(s, dir)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"),
          col("text"))) // read twice: window source + untouched docs
      val sh = docs
        .select(col("doc_id"), col("len"),
          explode(expr("anchor_shingle_pos(text, 40, 4)")).as("w"))
        .select(col("doc_id"), col("len"),
          col("w.pos").as("s"), col("w.h").as("h"))
      // duplicated = occurs in >= 2 distinct docs (the within-doc
      // repeat is NOT excised on its own, matching q192's audit rule)
      val dup = sh.groupBy("h")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
        .select("h")
      // pinned: the plan audit showed the anchor kernel running a
      // THIRD time over the whole corpus just to feed the untouched
      // anti-join's doc-id side; spans is small (duplicated-window
      // occurrences only), and pinning it caps the kernel at the two
      // irreducible passes (position stream + dup-hash groupBy, whose
      // subtrees differ after column pruning and can't share a scan)
      val spans = Pins.pin(sh.join(dup, Seq("h"), "left_semi")
        .select(col("doc_id"), col("len"), col("s"), (col("s") + 39L).as("e")))
      // classic interval merge: an excision starts a new island unless
      // it overlaps or touches the running max end of its predecessors
      val ord = Window.partitionBy("doc_id").orderBy("s", "e")
      val prevMax = max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1))
      val merged = spans
        .withColumn("ni",
          when(prevMax.isNull || col("s") > prevMax + 1L, 1L).otherwise(0L))
        .withColumn("isl", sum("ni").over(ord))
        .groupBy("doc_id", "len", "isl")
        .agg(min("s").as("xs"), max("e").as("xe"))
      // retained ranges = gap before each island + tail after the last
      val byStart = Window.partitionBy("doc_id").orderBy("xs")
      val touched = merged
        .withColumn("prev_end", coalesce(lag("xe", 1).over(byStart), lit(0L)))
        .withColumn("is_last",
          col("xs") === max("xs").over(Window.partitionBy("doc_id")))
        .select(col("doc_id"), explode(array(
          struct((col("prev_end") + 1L).as("ks"), (col("xs") - 1L).as("ke")),
          struct(when(col("is_last"), col("xe") + 1L).otherwise(lit(1L)).as("ks"),
            when(col("is_last"), col("len")).otherwise(lit(0L)).as("ke")))).as("r"))
        .select(col("doc_id"), col("r.ks").as("ks"), col("r.ke").as("ke"))
        .filter(col("ks") <= col("ke"))
      val untouched = docs
        .join(spans.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(1L).as("ks"), col("len").as("ke"))
      (docs, touched.unionAll(untouched))
  }

  /** DuckDB twin of [[keepRanges]]: CTEs through `keep(doc_id, ks,
    * ke)`, whose rows with ks > ke are empty ranges.
    */
  private def keepRangesSql: String =
    s"""d AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len, text
       |  FROM documents WHERE length(text) >= 40),
       |ex AS (
       |  SELECT doc_id, len,
       |    unnest(range(1, len - 38)) AS pos, text
       |  FROM d),
       |sh AS (
       |  SELECT doc_id, len, pos AS s,
       |    ${Portable.md5LongSql("substr(text, CAST(pos AS INTEGER), 40)")} AS h
       |  FROM ex),
       |an AS (SELECT * FROM sh WHERE h % 4 = 0),
       |dup AS (SELECT h FROM an GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |spans AS (SELECT doc_id, len, s, s + 39 AS e FROM an JOIN dup USING (h)),
       |isl AS (
       |  SELECT doc_id, len, s, e,
       |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w + 1
       |         THEN 1 ELSE 0 END AS ni
       |  FROM spans
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY s, e
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |isl2 AS (
       |  SELECT doc_id, len, s, e,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
       |                  ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM isl),
       |merged AS (
       |  SELECT doc_id, len, isl, min(s) AS xs, max(e) AS xe
       |  FROM isl2 GROUP BY 1, 2, 3),
       |g AS (
       |  SELECT doc_id, len, xs, xe,
       |    coalesce(lag(xe) OVER (PARTITION BY doc_id ORDER BY xs), 0) AS prev_end,
       |    xs = max(xs) OVER (PARTITION BY doc_id) AS is_last
       |  FROM merged),
       |keep AS (
       |  SELECT doc_id, prev_end + 1 AS ks, xs - 1 AS ke FROM g
       |  UNION ALL
       |  SELECT doc_id, xe + 1, len FROM g WHERE is_last
       |  UNION ALL
       |  SELECT doc_id, 1, len FROM d
       |  WHERE doc_id NOT IN (SELECT doc_id FROM spans))""".stripMargin

  val q291 = Q(
    "q291_span_excision",
    (s, dir) =>
      keepRanges(s, dir)._2
        .select(col("doc_id"), col("ks").as("keep_start"), col("ke").as("keep_end"),
          (col("ke") - col("ks") + 1L).as("keep_len"))
        .orderBy("doc_id", "keep_start"),
    Some(s"""WITH $keepRangesSql
      |SELECT doc_id, ks AS keep_start, ke AS keep_end,
      |  ke - ks + 1 AS keep_len
      |FROM keep WHERE ks <= ke
      |ORDER BY doc_id, keep_start""".stripMargin))

  /** Stratified interleaved corpus shuffle — the TRAINING-ORDER
    * operator: a deterministic (seed-stable, hash-keyed) global
    * shuffle that additionally ROUND-ROBINS the strata, so every
    * training batch prefix sees all sources uniformly from batch one
    * instead of whatever a plain hash order happens to front-load.
    * Per doc: within-source rank under the hash order, then the
    * interleave position (all rank-1 docs source-ordered, then all
    * rank-2, a source dropping out once exhausted) ≡ row_number over
    * (rnk, source).
    *
    * Scale shape: NO global window and NO per-source window (source
    * cardinality is tiny, so PARTITION BY source would be |corpus|/S
    * rows in one task — the single-partition problem in stripes).
    * Within-source rank = [[graft.functions.Dist.globalRank]] over
    * (source, h, doc_id) minus per-source offsets (an S-row broadcast
    * derived from the rank frame itself); the interleave position is
    * CLOSED-FORM from the S-row count table — pos(s, r) =
    * Σ_{s'} min(n_{s'}, r−1) + |{s' < s : n_{s'} ≥ r}| + 1 — so the
    * second global ordering pass the naive formulation needs
    * disappears into an S-row broadcast join + per-doc aggregate.
    */
  val q293 = Q(
    "q293_stratified_interleave",
    (s, dir) => {
      val docs = graft.Tables.docs(s, dir)
        .select(col("doc_id"), col("source"),
          Portable.md5Long(concat(lit("shuf:"),
            col("doc_id").cast("string"))).as("h"))
      val ranked = graft.functions.Dist.globalRank(
        docs, Seq(col("source"), col("h"), col("doc_id")), "gr",
        s.sparkContext.defaultParallelism)
      // S rows; read as offsets AND interleave table
      val counts = Pins.pin(ranked.groupBy("source").agg(count(lit(1)).as("n")))
      val offs = counts.alias("a")
        .join(counts.alias("b"), col("b.source") < col("a.source"), "left_outer")
        .groupBy(col("a.source").as("source"))
        .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
      val wr = ranked
        .join(broadcast(offs), "source")
        .select(col("doc_id"), col("source"), (col("gr") - col("off")).as("rnk"))
      wr.join(broadcast(counts.select(col("source").as("s2"), col("n"))))
        .groupBy("doc_id", "source", "rnk")
        .agg((sum(least(col("n"), col("rnk") - 1L)) +
          sum(when(col("s2") < col("source") && col("n") >= col("rnk"), 1L)
            .otherwise(0L)) + 1L).as("pos"))
        .orderBy("pos")
    },
    Some(s"""WITH h AS (
      |  SELECT doc_id, source,
      |    ${Portable.md5LongSql("concat('shuf:', CAST(doc_id AS VARCHAR))")} AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      |      AS BIGINT) AS rnk
      |  FROM h)
      |SELECT doc_id, source, rnk,
      |  CAST(row_number() OVER (ORDER BY rnk, source) AS BIGINT) AS pos
      |FROM r ORDER BY pos""".stripMargin))

  /** q291 APPLIED: the cleaned text itself. Ranges join back to the
    * pinned docs frame and each document's retained substrings are
    * concatenated in range order — the emit step a corpus writer runs
    * after the excision plan. Output stays narrow at any corpus size:
    * the full cleaned text is materialized per row inside the engine
    * (and hashed with the portable 60-bit md5 both engines share) but
    * only its hash, length, range count and a 40-char preview are
    * emitted — enough for the oracle to prove the reconstruction
    * byte-identical without shipping the corpus through the gate.
    * Fully-excised docs emit no row (zero retained ranges), matching
    * q291.
    */
  val q294 = Q(
    "q294_span_excision_apply",
    (s, dir) => {
      val (docs, ranges) = keepRanges(s, dir)
      ranges
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("ks"), col("ke")))).as("rs"),
          count(lit(1)).as("n_keep"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn("clean_text", expr(
          "concat_ws('', transform(rs, r -> substring(text, CAST(r.ks AS INT), CAST(r.ke - r.ks + 1 AS INT))))"))
        .select(col("doc_id"), col("n_keep"),
          length(col("clean_text")).cast("long").as("clean_len"),
          Portable.md5Long(col("clean_text")).as("clean_hash"),
          substring(col("clean_text"), 1, 40).as("clean_prefix"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $keepRangesSql,
      |kept AS (SELECT doc_id, ks, ke FROM keep WHERE ks <= ke),
      |built AS (
      |  SELECT k.doc_id, count(*) AS n_keep,
      |    string_agg(substr(d.text, CAST(k.ks AS INTEGER),
      |      CAST(k.ke - k.ks + 1 AS INTEGER)), '' ORDER BY k.ks) AS clean_text
      |  FROM kept k JOIN d ON d.doc_id = k.doc_id
      |  GROUP BY 1)
      |SELECT doc_id, n_keep,
      |  CAST(length(clean_text) AS BIGINT) AS clean_len,
      |  ${Portable.md5LongSql("clean_text")} AS clean_hash,
      |  substr(clean_text, 1, 40) AS clean_prefix
      |FROM built ORDER BY doc_id""".stripMargin))

  /** Incremental ingest near-dup ADMISSION — the corpus-maintenance
    * counterpart of q41's batch LSH dedup and q193's streaming
    * first-writer-wins: an incoming batch (doc_id % 10 == 7) is
    * screened against the STANDING corpus's LSH band buckets only —
    * an asymmetric bucket join, so the incoming batch pays
    * |batch| × band-collision work, never batch × corpus and never
    * batch². Per incoming doc: band count, colliding-band count, the
    * smallest standing doc sharing a bucket (provenance for the
    * reject note), and the admission verdict. Batch-internal
    * collisions are deliberately NOT screened here (two novel near-
    * dup incomings both admit) — that is q41's intra-corpus pass on
    * the next compaction; the scaladoc'd split keeps both operators
    * single-purpose.
    */
  val q295 = Q(
    "q295_ingest_admission",
    (s, dir) => {
      val sigs = graft.Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
      val standing = sigs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
        .groupBy("sig").agg(min("doc_id").as("rep"))
      sigs.filter(pmod(col("doc_id"), lit(10)) === 7)
        .join(standing, Seq("sig"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          sum(when(col("rep").isNotNull, 1L).otherwise(0L)).as("n_hits"),
          min("rep").as("first_match"))
        .withColumn("admitted", col("n_hits") === 0L)
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM documents),
      |tf AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
      |${graft.functions.MinHashBands.sigsSql("tf")},
      |standing AS (
      |  SELECT band, sig, min(doc_id) AS rep
      |  FROM sigs WHERE doc_id % 10 <> 7 GROUP BY 1, 2),
      |inc AS (SELECT doc_id, band, sig FROM sigs WHERE doc_id % 10 = 7)
      |SELECT inc.doc_id, count(*) AS n_bands,
      |  CAST(sum(CASE WHEN rep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  min(rep) AS first_match,
      |  (sum(CASE WHEN rep IS NOT NULL THEN 1 ELSE 0 END) = 0) AS admitted
      |FROM inc
      |LEFT JOIN standing ON standing.band = inc.band AND standing.sig = inc.sig
      |GROUP BY 1
      |ORDER BY 1""".stripMargin))

  val all: Vector[Q] = Vector(q291, q293, q294, q295)
}
