package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import graft.functions.{Portable => P}
import graft.graph.ConnectedComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text dedup (SURVEY.md §2.13 L1/L2): exact, blocked-Jaccard,
  * MinHash-LSH, SimHash and containment near-dup detection, dedup
  * clusters and survivorship, duplicated-span mass and excision, the
  * consensus keeper over every verdict, keeper and incremental dedup,
  * streaming and ingest-time admission, and the audits of the LSH
  * parameters themselves.
  */
object TextDedup {

  /* SURVEY.md §2.13 / BASELINE north-star: training-data text dedup —
    * exact + near dedup (token Jaccard, MinHash-LSH, SimHash), n-gram
    * Jaccard and shingle fingerprinting.
    *
    * Scale design: no operator ever materializes the O(n²) pair space.
    * Pair generation is always blocked — by (lang, source) for Jaccard,
    * by LSH band buckets for MinHash, by signature bytes for SimHash —
    * so the shuffle volume is Σ blockᵢ², not n². All hashes are the
    * portable md5-based 60-bit hash ([[Portable.md5Long]]) so the
    * DuckDB oracle replays the identical pipeline bit-for-bit.
    */

  /** L1 exact dedup by content hash: one shuffle on sha256(text). */
  val q39 = Q(
    "q39_dedup_exact",
    (s, dir) => {
      Tables.docs(s, dir)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    },
    Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_id""".stripMargin))

  /** Shared-item pair join: `ex` must have (bk, h, doc_id, n) where
    * bk is the block key and h the item hash, both longs. Returns
    * pairs with exact Jaccard ≥ `thresh` (|A∩B| = join count,
    * |A∪B| = |A|+|B|−|A∩B|). Never materializes the cross-pair
    * space: shuffle volume is Σ blockᵢ², and every shuffled column
    * is a fixed-width long (item/block strings are pre-hashed — at
    * ≤ vocab² distinct items, 60-bit collisions are impossible in
    * practice, so results equal the string-keyed oracle).
    */
  private def jaccardPairs(ex: DataFrame, thresh: Double): DataFrame =
    // shuffle-hash, not broadcast: the two sides are the same subplan,
    // so the shuffle exchange is computed once and reused (a broadcast
    // would collect 10⁵+ rows to the driver AND recompute the pipeline
    // for each side — measurably slower here, fatal at 100 TB).
    ex.alias("a").hint("shuffle_hash")
      .join(ex.alias("b"),
        col("a.bk") === col("b.bk") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jac", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= thresh)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
      .orderBy("doc_a", "doc_b")

  private def blockKey: org.apache.spark.sql.Column =
    Portable.md5Long(concat_ws("\u0001", col("lang"), col("source")))

  /** L2 near-dup via exact token-set Jaccard, blocked by
    * (lang, source). Strategy choice (vs q43's shared-item join):
    * this corpus has a ~31-word vocabulary, so almost every in-block
    * pair shares a token and the shared-token join degenerates to
    * ~8M pair-token rows at sf0.1. With DENSE overlap the right shape
    * is the block-local pair join — blocks shuffle once as whole
    * rows, pairs stream out of the join, and each pair's Jaccard is
    * one codegen'd merge scan over the sorted hash arrays. (q43 keeps
    * the shared-item join: shingle overlap is SPARSE, where exploding
    * by item prunes the pair space instead of inflating it.)
    *
    * DEMOTED quadratic baseline (round 5, [[graft.Q.baselines]]):
    * (lang, source) has FIXED cardinality, so blocks grow linearly
    * with the corpus and pair volume quadratically. q41/q42 hold the
    * registry slots; BaselineSpec pins this one against a driver-side
    * brute force and PlanSpec pins its exchange reuse.
    */
  val q40 = Q(
    "q40_dedup_jaccard_blocked",
    (s, dir) => {
      val ex = Tables.docs(s, dir)
        .select(col("doc_id"), blockKey.as("bk"),
          Portable.md5Sorted(Portable.tokenSet(col("text"))).as("toks"))
        .withColumn("n", size(col("toks")))
      ex.select(col("doc_id").as("doc_a"), col("bk"), col("toks").as("ta"), col("n").as("na"))
        .hint("shuffle_hash")
        .join(ex.select(col("doc_id").as("doc_b"), col("bk").as("bk2"),
          col("toks").as("tb"), col("n").as("nb")),
          col("bk") === col("bk2") && col("doc_a") < col("doc_b"))
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .withColumn("jac", col("c") / (col("na") + col("nb") - col("c")))
        .filter(col("jac") >= 0.7)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, lang, source, ${Portable.tokenSetSql("text")} AS toks
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS tok FROM ts)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(count(*) / (a.n + b.n - count(*)), 6) AS jac
      |FROM ex a JOIN ex b
      |  ON a.lang = b.lang AND a.source = b.source
      | AND a.tok = b.tok AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id, a.n, b.n
      |HAVING count(*) / (a.n + b.n - count(*)) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** L2 near-dup via MinHash + LSH: 16 seeded min-hashes, 2 bands of
    * 8 → candidates share a band signature → candidates verified with
    * exact Jaccard. Candidate volume is Σ bucket², the LSH scale
    * path. Band width 8 is deliberately strict: this corpus is
    * pathologically self-similar (shared 31-word vocabulary), so
    * 4-row bands put >50% of all docs into one bucket (measured 2.2M
    * candidate pairs at sf0.1 vs 0.5M with 8-row bands).
    */
  val q41 = Q(
    "q41_dedup_minhash_lsh",
    (s, dir) => {
      // toks/toksH/sigs pinned (r10): each is read along two branches
      // (signature self-join sides, candidate verify endpoints) and
      // unpinned the regex tokenization ran 4× and the per-token
      // MinHash twice — the q209/q228 recompute pattern; all three
      // frames are Θ(docs) rows of ids/hashes
      val toks = Pins.pin(Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks")))
      // verify-side token sets as SORTED 60-bit hashes: set sizes
      // (and thus Jaccard) are unchanged, but the 520k-pair verify
      // stage becomes one codegen'd merge scan per pair over
      // fixed-width longs (array_intersect/array_union would build
      // two interpreted hash sets per pair — the dominant cost of
      // the whole pipeline at sf0.1)
      val toksH = Pins.pin(toks.select(col("doc_id"),
        Portable.md5Sorted(col("toks")).as("toks")))
      // The whole signature matrix (16 min-hashes → 2 band sigs) is
      // ONE codegen'd pass per row ([[graft.functions.MinHashBands]]
      // — the HOF formulation interprets ~16×|toks| lambdas per doc):
      // zero shuffles before the bucket join (the explode+groupBy(min)
      // formulation shuffles |docs|×|tokens|×16 rows — needless).
      // Buckets are band-prefixed hashes of the same "b|seed:minh,…"
      // strings the oracle sorts and concatenates, so equality on the
      // bucket value alone IS the (band, signature) match.
      val sigs = Pins.pin(toks
        .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig")))
      val cand = sigs.alias("sa").hint("shuffle_hash")
        .join(sigs.alias("sb"),
          col("sa.sig") === col("sb.sig") &&
            col("sa.doc_id") < col("sb.doc_id"))
        .select(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(toksH.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
        .join(toksH.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .withColumn("jac", col("c") / (size(col("ta")) + size(col("tb")) - col("c")))
        .filter(col("jac") >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks
      |  FROM documents WHERE lang = 'en'),
      |${graft.functions.MinHashBands.sigsSql("toks")},
      |cand AS (
      |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.band = sb.band AND sa.sig = sb.sig AND sa.doc_id < sb.doc_id)
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(ta.toks, tb.toks)) /
      |        len(list_distinct(list_concat(ta.toks, tb.toks))), 6) AS jac
      |FROM cand
      |JOIN toks ta ON ta.doc_id = doc_a
      |JOIN toks tb ON tb.doc_id = doc_b
      |WHERE len(list_intersect(ta.toks, tb.toks)) /
      |      len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** L2 near-dup via 32-bit SimHash + byte-banding: hamming ≤ 3 pairs
    * are guaranteed to share at least one of the 4 signature bytes
    * (pigeonhole), so the pair search is bucket-local.
    */
  val q42 = Q(
    "q42_dedup_simhash",
    (s, dir) => {
      // one codegen'd [[SimHash32]] pass per doc: the exploded
      // formulation shuffles |docs|×|toks|×32 vote rows through two
      // aggregations for what is per-row integer math
      val sim = Tables.docs(s, dir).filter(col("lang") === "de")
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1) // exploded form emits no row for token-free docs
        .select(col("doc_id"), expr("simhash32(toks)").as("simhash"))
      val banded = sim
        .withColumn("band", explode(sequence(lit(0), lit(3))))
        .withColumn("byte", expr("(simhash div CAST(pow(2, band * 8) AS BIGINT)) % 256"))
      // shuffle join so the two identical sides resolve to ONE
      // exchange (ReusedExchange): without it each side re-tokenizes
      // and re-hashes the corpus — the q40 lesson in SimHash form
      banded.alias("x").hint("shuffle_hash")
        .join(banded.alias("y"),
          col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(
          col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.simhash").as("sa"), col("y.simhash").as("sb"))
        .distinct()
        .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH tok AS (
      |  SELECT doc_id, unnest(${Portable.tokenSetSql("text")}) AS tok
      |  FROM documents WHERE lang = 'de'),
      |bits AS (
      |  SELECT doc_id, i,
      |    2 * (((${Portable.md5LongSql("tok")} % 4294967296) // CAST(pow(2, i) AS BIGINT)) % 2) - 1 AS contrib
      |  FROM tok CROSS JOIN (SELECT unnest(range(32)) AS i) ii),
      |bal AS (SELECT doc_id, i, sum(contrib) AS bal FROM bits GROUP BY 1, 2),
      |sim AS (
      |  SELECT doc_id,
      |    CAST(sum((CASE WHEN bal >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, i) AS BIGINT)) AS BIGINT) AS simhash
      |  FROM bal GROUP BY 1),
      |banded AS (
      |  SELECT doc_id, simhash, band,
      |    (simhash // CAST(pow(2, band * 8) AS BIGINT)) % 256 AS byte
      |  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS band) bb),
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    x.simhash AS sa, y.simhash AS sb
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
      |FROM pairs
      |WHERE bit_count(xor(sa, sb)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Word-bigram (shingle) Jaccard near-dup, blocked by (lang,source)
    * — same scalable shared-shingle join as q40 at n-gram granularity.
    */
  val q43 = Q(
    "q43_ngram_jaccard",
    (s, dir) => {
      // Shingles as hashes from the start, via the one-pass
      // [[graft.functions.BigramHashes]] kernel (the zip_with-over-
      // two-slices HOF form it replaces was itself 8× faster than
      // positional element_at in a lambda, which re-evaluates the
      // source array per element) — distinct fixed-width longs, never
      // materialising the bigram strings.
      val ex = Tables.docs(s, dir)
        .select(col("doc_id"), blockKey.as("bk"),
          Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .withColumn("hs", expr("bigram_hashes(toks)"))
        .select(col("doc_id"), col("bk"),
          size(col("hs")).as("n"), explode(col("hs")).as("h"))
      jaccardPairs(ex, 0.4)
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, lang, source, ${Portable.tokensSql("text")} AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, source, len(shingles) AS n, unnest(shingles) AS sh
      |  FROM (SELECT doc_id, lang, source,
      |          list_distinct(list_transform(range(1, CAST(len(toks) AS BIGINT)),
      |            i -> toks[i] || ' ' || toks[i + 1])) AS shingles
      |        FROM ts WHERE len(toks) >= 2))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(count(*) / (a.n + b.n - count(*)), 6) AS jac
      |FROM sh a JOIN sh b
      |  ON a.lang = b.lang AND a.source = b.source
      | AND a.sh = b.sh AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id, a.n, b.n
      |HAVING count(*) / (a.n + b.n - count(*)) >= 0.4
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Document fingerprinting via 8-char rolling shingles: the min
    * shingle hash is the fingerprint (winnowing-lite), plus the
    * distinct-shingle cardinality.
    */
  val q47 = Q(
    "q47_fingerprint_shingles",
    (s, dir) => {
      // the whole per-doc aggregate (min hash + distinct-hash count
      // over every 8-char window) is ONE per-row kernel call
      // ([[graft.functions.ShingleFingerprint]]): the exploded form
      // shuffles |corpus chars| rows through a groupBy for what a
      // single text scan computes
      Tables.docs(s, dir)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), expr("shingle_fingerprint(text, 8)").as("fp"))
        .select(col("doc_id"),
          col("fp.fingerprint").as("fingerprint"),
          col("fp.n_shingles").as("n_shingles"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, min(h) AS fingerprint, count(DISTINCT h) AS n_shingles
      |FROM (
      |  SELECT doc_id, ${Portable.md5LongSql("sh")} AS h FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, CAST(length(text) AS BIGINT) - 6),
      |        i -> substr(text, CAST(i AS INTEGER), 8))) AS sh
      |    FROM documents WHERE length(text) >= 8))
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** Dedup with a keeper policy: documents are clustered by their
    * NORMALIZED content (sorted distinct-token set — bag-of-words
    * normalization, catching reordered/repeated-word copies that
    * byte-exact q39 misses); within each cluster the "best" document
    * (longest, then lowest id) is kept and the dropped→kept mapping
    * emitted — the form a pipeline actually applies, versus q39 which
    * reports clusters. One window over one shuffle on the 60-bit
    * cluster hash (fixed-width shuffle key, not the document text).
    */
  val q75 = Q(
    "q75_dedup_keep_best",
    (s, dir) => {
      Tables.docs(s, dir)
        .withColumn("ck",
          Portable.md5Long(array_join(array_sort(Portable.tokenSet(col("text"))), " ")))
        .withColumn("keep_id", first_value(col("doc_id")).over(
          Window.partitionBy("ck").orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id").as("dropped_id"), col("keep_id"))
        .orderBy("dropped_id")
    },
    Some(s"""SELECT doc_id AS dropped_id, keep_id FROM (
      |  SELECT doc_id, first_value(doc_id) OVER (PARTITION BY
      |    ${Portable.md5LongSql(s"array_to_string(list_sort(${Portable.tokenSetSql("text")}), ' ')")}
      |    ORDER BY n_chars DESC, doc_id) AS keep_id
      |  FROM documents)
      |WHERE doc_id <> keep_id
      |ORDER BY dropped_id""".stripMargin))

  /** Incremental dedup: a NEW batch of documents deduplicated against
    * an already-ingested corpus — the shape production pipelines
    * actually run (the corpus is never re-deduplicated; only the
    * delta is checked). Membership is the deterministic hash split
    * (batch ≈ 20%); content identity is the normalized token-set hash
    * (as q75). One semi-join against the corpus' distinct keys + one
    * window within the batch: at 100 TB the corpus side reduces to
    * its distinct ck set (far smaller than the corpus) before the
    * join, and the batch-side window only shuffles the delta.
    */
  val q81 = Q(
    "q81_dedup_incremental",
    (s, dir) => {
      val keyed = Tables.docs(s, dir)
        .withColumn("ck",
          Portable.md5Long(array_join(array_sort(Portable.tokenSet(col("text"))), " ")))
        .withColumn("is_corpus",
          pmod(Portable.md5Long(concat(lit("inc:"), col("doc_id").cast("string"))), lit(10)) < 8)
      val corpusKeys = keyed.filter(col("is_corpus"))
        .select(col("ck").as("cck")).distinct()
      keyed.filter(!col("is_corpus"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("ck").orderBy("doc_id")))
        .join(corpusKeys, col("ck") === col("cck"), "left_outer")
        .select(col("doc_id"),
          when(col("cck").isNotNull, "dup_of_corpus")
            .when(col("rn") > 1, "dup_in_batch")
            .otherwise("new").as("status"))
        .orderBy("doc_id")
    },
    Some(s"""WITH keyed AS (
      |  SELECT doc_id,
      |    ${Portable.md5LongSql(s"array_to_string(list_sort(${Portable.tokenSetSql("text")}), ' ')")} AS ck,
      |    ${Portable.md5LongSql("concat('inc:', CAST(doc_id AS VARCHAR))")} % 10 < 8 AS is_corpus
      |  FROM documents),
      |ck_corpus AS (SELECT DISTINCT ck AS cck FROM keyed WHERE is_corpus),
      |batch AS (
      |  SELECT doc_id, ck,
      |    row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn
      |  FROM keyed WHERE NOT is_corpus)
      |SELECT b.doc_id,
      |  CASE WHEN c.cck IS NOT NULL THEN 'dup_of_corpus'
      |       WHEN rn > 1 THEN 'dup_in_batch'
      |       ELSE 'new' END AS status
      |FROM batch b LEFT OUTER JOIN ck_corpus c ON b.ck = c.cck
      |ORDER BY doc_id""".stripMargin))

  /** Near-dup CLUSTERS, not pairs: each document hashes into its two
    * LSH band buckets (q41's signatures over the whole corpus), the
    * doc's (band-0, band-1) bucket pair becomes a graph edge, and
    * [[ConnectedComponents]] merges transitively-linked buckets — so
    * A≈B and B≈C land in ONE cluster even when A and C share no
    * bucket. This is the operator that turns q41's pair list into the
    * drop set a dedup pass actually applies. Output: one row per
    * cluster (its min doc id and size).
    *
    * Scale: the graph has ≤ |docs| edges of fixed-width longs —
    * negligible next to the corpus — and the component loop converges
    * in single-digit rounds on star-dominated LSH topology. The
    * signature stage is the same zero-shuffle per-row projection as
    * q41. (DuckDB needs a recursive-CTE transitive closure for the
    * same answer: 12.6 s at sf0.1 vs ~3 s here.)
    */
  val q100 = Q(
    "q100_dedup_cc_clusters",
    (s, dir) => {
      // localCheckpoint: the signature projection (16 md5 min-hashes
      // per doc, one codegen'd [[MinHashBands]] pass) feeds BOTH the
      // component loop and the final cluster join — without pinning
      // it the heaviest stage runs twice
      val db = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1) // token-free docs leave the oracle's unnest too
        .withColumn("bs", expr("minhash_bands(toks, 2, 8)"))
        .select(col("doc_id"),
          col("bs").getItem(0).as("b0"), col("bs").getItem(1).as("b1")))
      // shared band-graph clustering (candidate bypass + CC) — see
      // graph.BandCluster; isolated docs become their own n_docs=1
      // clusters without entering the component loop
      graft.graph.BandCluster.assign(db)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM documents),
      |${graft.functions.MinHashBands.bucketsSql("toks")},
      |${graft.graph.BandCluster.componentsSql()}
      |SELECT min(doc_id) AS cluster, count(*) AS n_docs
      |FROM db JOIN comp c ON db.b0 = c.node
      |GROUP BY c.cl
      |ORDER BY cluster""".stripMargin))

  /** L2+ sketch-accuracy audit: for a deterministic sample of doc
    * pairs, the 16-seed MinHash Jaccard estimate (positional
    * signature agreement / 16) against exact token-set Jaccard,
    * bucketed by true similarity. This is how you validate an LSH
    * dedup threshold before burning 100 TB of compute on it. The
    * signature is ONE codegen'd pass per row ([[graft.functions.MinHashSig]]);
    * the exact side reuses the sorted-hash merge scan.
    */
  val q118 = Q(
    "q118_minhash_estimate_error",
    (s, dir) => {
      // pin the token sets and both derived per-doc frames (r10): the
      // plan reads each along two branches (probe side + corpus
      // side), and unpinned the regex tokenization re-ran ~5× and the
      // per-token 16-hash MinHash twice over the full corpus — the
      // q209/q228 recompute pattern
      val ts = Pins.pin(Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1))
      val sigs = Pins.pin(ts.select(col("doc_id"), expr("minhash_sig(toks, 16)").as("sig")))
      val th = Pins.pin(ts.select(col("doc_id"), Portable.md5Sorted(col("toks")).as("th")))
      // The probe side is a FIXED-SIZE sample (~300 docs), not a
      // fixed fraction: `doc_id % 20` made the pair space 0.05·n² —
      // quadratic, measured 16x cost at 10x data. The modulus scales
      // with the corpus (count/300, floor 20) so audited pairs stay
      // ~300·n: linear, and ~300 probes per similarity bucket is
      // plenty to estimate a mean absolute sketch error.
      val mod = ts.select(greatest(lit(20L),
        ceil(count(lit(1)) / 300.0).cast("long")).as("mod"))
      val a = th.crossJoin(broadcast(mod))
        .filter(col("doc_id") % col("mod") === 0)
        .select(col("doc_id").as("doc_a"), col("th").as("ta"))
      val b = th.select(col("doc_id").as("doc_b"), col("th").as("tb"))
      b.join(broadcast(a), col("doc_b") =!= col("doc_a"))
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .withColumn("jac", col("c") / (size(col("ta")) + size(col("tb")) - col("c")))
        .join(broadcast(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa"))), "doc_a")
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .withColumn("matches", expr(
          "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"))
        .withColumn("est", col("matches") / lit(16.0))
        .groupBy(floor(col("jac") * 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(abs(col("est") - col("jac"))), 6).as("avg_err"))
        .orderBy("bucket")
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, toks FROM (
      |    SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks
      |    FROM documents WHERE lang = 'en')
      |  WHERE len(toks) >= 1),
      |${graft.functions.MinHashBands.minsSql("ts")},
      |md AS (SELECT greatest(20, CAST(ceil(count(*) / 300.0) AS BIGINT)) AS m FROM ts),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.toks, b.toks)) /
      |      len(list_distinct(list_concat(a.toks, b.toks))) AS jac
      |  FROM ts a CROSS JOIN md JOIN ts b
      |    ON a.doc_id % md.m = 0 AND b.doc_id <> a.doc_id),
      |m AS (
      |  SELECT p.doc_a, p.doc_b,
      |    sum(CASE WHEN x.minh = y.minh THEN 1 ELSE 0 END) AS matches
      |  FROM pairs p
      |  JOIN mh x ON x.doc_id = p.doc_a
      |  JOIN mh y ON y.doc_id = p.doc_b AND y.seed = x.seed
      |  GROUP BY 1, 2)
      |SELECT CAST(floor(jac * 10) AS INTEGER) AS bucket,
      |  count(*) AS n_pairs, round(avg(abs(matches / 16.0 - jac)), 6) AS avg_err
      |FROM pairs JOIN m USING (doc_a, doc_b)
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin))

  /** LSH band-parameter sensitivity — the S-curve audit a production
    * MinHash deployment runs before picking (bands, rows): for the
    * SAME 16 seeded min-hashes banded three ways (2×8, 4×4, 8×2),
    * report colliding-bucket and candidate-pair volume. Everything is
    * an aggregate over bucket COUNTS — Σ n·(n−1)/2 per bucket — so
    * the sweep never enumerates a pair and stays linear at any corpus
    * size (the enumeration itself is q41's job once parameters are
    * chosen).
    */
  val q187 = Q(
    "q187_lsh_band_sensitivity",
    (s, dir) => {
      // tokenized once, pinned: three band settings re-read the frame
      val toks = Pins.pin(Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks")))
      val settings = Seq((2, 8), (4, 4), (8, 2))
      settings.map { case (b, r) =>
        val sigs = toks.select(col("doc_id"),
          explode(expr(s"minhash_bands(toks, $b, $r)")).as("sig"))
        val buckets = sigs.groupBy("sig").agg(count(lit(1)).as("n"))
        val stats = buckets.agg(
          sum(when(col("n") > 1, 1).otherwise(0)).cast("long").as("buckets_gt1"),
          (sum(col("n") * (col("n") - 1)) / 2).cast("long").as("cand_pairs"))
        val dic = sigs.join(buckets.filter(col("n") > 1), "sig")
          .agg(countDistinct("doc_id").as("docs_in_cand"))
        stats.crossJoin(dic)
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("buckets_gt1"), col("cand_pairs"), col("docs_in_cand"))
      }.reduce(_ unionAll _).orderBy("bands")
    },
    Some {
      val mh =
        s"""WITH toks AS (
           |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks
           |  FROM documents WHERE lang = 'en'),
           |${graft.functions.MinHashBands.minsSql("toks")}""".stripMargin
      val per = Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
        val sig = graft.functions.MinHashBands.bandListSql(r)
        s"""SELECT $b AS bands, $r AS rows_per_band, buckets_gt1, cand_pairs,
           |  (SELECT count(DISTINCT s.doc_id)
           |   FROM ($sig) s
           |   JOIN (SELECT band, sig FROM (
           |           SELECT band, sig, count(*) AS n
           |           FROM ($sig) x
           |           GROUP BY 1, 2) y WHERE n > 1) bb
           |     ON s.band = bb.band AND s.sig = bb.sig) AS docs_in_cand
           |FROM (
           |  SELECT CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS buckets_gt1,
           |    CAST(sum(n * (n - 1)) / 2 AS BIGINT) AS cand_pairs
           |  FROM (
           |    SELECT band, sig, count(*) AS n FROM ($sig) x
           |    GROUP BY 1, 2) z) agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"$mh\n$per\nORDER BY bands"
    })

  /** Cross-document duplicated-span mass (the exact-substring dedup
    * report of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): 40-char windows are fingerprinted and
    * a window occurring in >= 2 documents is duplicated text; per
    * doc, the fraction of its sampled windows that exist elsewhere
    * and the resulting keep/trim/drop action. Windows are sampled by
    * CONTENT-DEFINED anchors ([[graft.functions.AnchorShingleHashes]]
    * — winnowing, Schleimer et al. 2003: keep h % 4 == 0, one
    * codegen'd pass per doc): selection depends on the window's
    * bytes, never its offset, so every copy of a duplicated span
    * samples the SAME windows regardless of alignment — a fixed
    * stride-4 grid would miss copies offset by 1-3 chars entirely,
    * while stride 1 shuffles |corpus chars| rows (measured 215 s +
    * task OOM at sf10; anchors cut it 4x with an unbiased estimate
    * of the same fraction). One explode + one groupBy on fixed-width
    * 60-bit hashes + one join back against only the DUPLICATED
    * window set (the groupBy output reuses the explode's exchange) —
    * linear in total text size, the 100 TB-safe shape (the
    * suffix-array formulation is sequential; hashed anchored spans
    * are its distributed equivalent).
    */
  val q192 = Q(
    "q192_span_dup_mass",
    (s, dir) => {
      val sh = Tables.docs(s, dir)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"),
          explode(expr("anchor_shingle_hashes(text, 40, 4)")).as("h"))
      val dup = sh.groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1L).as("isdup"))
      sh.join(dup, Seq("h"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_win"),
          sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_win"), 6))
        .withColumn("action",
          when(col("n_dup") / col("n_win") >= 0.5, "drop")
            .when(col("n_dup") / col("n_win") >= 0.2, "trim")
            .otherwise("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
      |  SELECT doc_id, h
      |  FROM (
      |    SELECT doc_id, unnest(list_filter(list_distinct(list_transform(
      |        range(1, CAST(length(text) AS BIGINT) - 38),
      |        i -> ${Portable.md5LongSql("substr(text, CAST(i AS INTEGER), 40)")})),
      |      h -> h % 4 = 0)) AS h
      |    FROM documents WHERE length(text) >= 40)),
      |cnt AS (SELECT h, count(*) AS nd FROM sh GROUP BY 1)
      |SELECT doc_id, count(*) AS n_win,
      |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac,
      |  CASE WHEN sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*) >= 0.5 THEN 'drop'
      |       WHEN sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*) >= 0.2 THEN 'trim'
      |       ELSE 'keep' END AS action
      |FROM sh JOIN cnt USING (h)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** Streaming first-writer-wins near-dup filter: documents arrive as
    * a stream, each doc's MinHash band signatures claim their LSH
    * buckets, and a running stateful aggregate elects the smallest
    * doc_id per bucket ([[graft.streaming.EventStreams.docBandWinners]]
    * — state is one row per distinct band signature, the exact
    * keyspace the batch LSH join shuffles on). A document survives
    * ingest iff it owns ALL of its buckets; a later doc colliding
    * with an earlier one on any band is rejected at arrival, before
    * it costs a single downstream byte. The final ownership table is
    * joined against the batch signature set, so output = per-doc
    * band count + kept verdict — identical to what the batch LSH
    * election computes over the same data (the unified-model
    * guarantee the oracle checks).
    */
  val q193 = Q(
    "q193_stream_neardup_filter",
    (s, dir) => {
      val winners = graft.streaming.EventStreams
        .docBandWinners(s, dir)
      val sigs = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokenSet(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))
      sigs.join(winners, "sig")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bands"),
          min(when(col("winner") === col("doc_id"), 1).otherwise(0))
            .cast("int").as("kept"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM documents),
      |tf AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
      |${graft.functions.MinHashBands.sigsSql("tf")},
      |win AS (SELECT band, sig, min(doc_id) AS winner FROM sigs GROUP BY 1, 2)
      |SELECT s.doc_id, count(*) AS n_bands,
      |  CAST(min(CASE WHEN w.winner = s.doc_id THEN 1 ELSE 0 END) AS INTEGER) AS kept
      |FROM sigs s JOIN win w ON w.band = s.band AND w.sig = s.sig
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin))

  /** Cross-source duplication matrix: for every source pair, how many
    * shared content fingerprints appear in both — the mirror-site
    * detector that decides which sources a 100 TB crawl can drop
    * wholesale. The fingerprint is the 12-token content prefix
    * (syndication copies share openings even when boilerplate tails
    * differ; exact sha256 finds nothing across these sources). The
    * shuffle is keyed by the fingerprint; the per-content source set
    * is bounded by #sources, so the pair stage is |sources|² per
    * content at worst, never corpus².
    */
  val q211 = Q(
    "q211_cross_source_dups",
    (s, dir) => {
      val bySrc = Tables.docs(s, dir)
        .select(concat_ws(" ",
          slice(graft.functions.Portable.tokens(col("text")), 1, 12)).as("pk"),
          col("source"))
        .groupBy("pk", "source")
        .agg(count(lit(1)).as("cnt"))
      bySrc.alias("x")
        .join(bySrc.alias("y"),
          col("x.pk") === col("y.pk") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .agg(count(lit(1)).as("shared_contents"),
          sum(least(col("x.cnt"), col("y.cnt"))).cast("long").as("dup_docs_lb"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH bysrc AS (
      |  SELECT array_to_string(${graft.functions.Portable.tokensSql("text")}[1:12], ' ')
      |      AS pk, source, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2)
      |SELECT x.source AS source_a, y.source AS source_b,
      |  count(*) AS shared_contents,
      |  CAST(sum(LEAST(x.cnt, y.cnt)) AS BIGINT) AS dup_docs_lb
      |FROM bysrc x JOIN bysrc y ON x.pk = y.pk AND x.source < y.source
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin))

  /** Containment (quote/subset) dedup: token-set containment
    * |A∩B| / min(|A|,|B|) ≥ 0.7 catches a document embedded inside a
    * larger one — a pair MinHash-LSH (which recalls JACCARD) misses
    * when the size ratio is large. Candidate generation blocks on
    * RARE 8-char shingle anchors (document frequency ≤ 10): pair
    * volume is bounded by Σ df² with df capped, so the blocking
    * stays bucket-local at any corpus size — the recall tradeoff
    * (pairs sharing only ubiquitous shingles are invisible) is the
    * documented cost. Verify is the codegen'd sorted-hash merge
    * intersect per candidate pair.
    */
  val q234 = Q(
    "q234_containment_dedup",
    (s, dir) => {
      val docs = Tables.docs(s, dir).filter(col("lang") === "en")
      val toksH = Pins.pin(docs
        .select(col("doc_id"), P.md5Sorted(P.tokenSet(col("text"))).as("th")))
      val sh = docs.filter(length(col("text")) >= 8)
        .select(col("doc_id"), explode(expr("char_shingle_hashes(text, 8)")).as("h"))
      val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10).select("h")
      // pin the rare-anchored subset (both self-join sides otherwise
      // re-explode the full shingle set) and the verify arrays (read
      // by both candidate endpoints). `sh` itself stays UNPINNED by
      // choice: at corpus scale it is Θ(total chars) rows and the
      // codegen'd shingle kernel recomputes cheaper than that spills;
      // it is derived exactly twice (df counts + anchor filter).
      val anchored = Pins.pin(sh.join(rare, Seq("h"), "left_semi"))
      val cand = anchored.alias("a")
        .join(anchored.alias("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(toksH.select(col("doc_id").as("doc_a"), col("th").as("ta")), "doc_a")
        .join(toksH.select(col("doc_id").as("doc_b"), col("th").as("tb")), "doc_b")
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .withColumn("containment",
          round(col("c") / least(size(col("ta")), size(col("tb"))), 6))
        .filter(col("containment") >= 0.7)
        .select(col("doc_a"), col("doc_b"), col("containment"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH docs AS (SELECT * FROM documents WHERE lang = 'en'),
      |toks AS (SELECT doc_id, ${P.tokenSetSql("text")} AS toks FROM docs),
      |sh AS (
      |  SELECT doc_id, ${P.md5LongSql("sub")} AS h FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, CAST(length(text) AS BIGINT) - 6),
      |      i -> substr(text, CAST(i AS INTEGER), 8)))) AS sub
      |    FROM docs WHERE length(text) >= 8)),
      |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 10),
      |anchored AS (SELECT doc_id, h FROM sh WHERE h IN (SELECT h FROM rare)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM anchored a JOIN anchored b
      |    ON a.h = b.h AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  round(len(list_intersect(ta.toks, tb.toks)) /
      |        least(len(ta.toks), len(tb.toks)), 6) AS containment
      |FROM cand
      |JOIN toks ta ON ta.doc_id = doc_a
      |JOIN toks tb ON tb.doc_id = doc_b
      |WHERE len(list_intersect(ta.toks, tb.toks)) /
      |      least(len(ta.toks), len(tb.toks)) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Oracle CTE chain for the four text-side verdict channels
    * (exact / minhash / semdedup / containment) — shared by q236
    * (text-only consensus) and q256 (cross-modal consensus).
    */
  private def verdictCtes: String = s"""exg AS (
      |  SELECT doc_id,
      |    min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
      |  FROM documents),
      |ex_drop AS (SELECT doc_id FROM exg WHERE doc_id <> keep),
      |mh_toks AS (
      |  SELECT doc_id, ${P.tokenSetSql("text")} AS toks
      |  FROM documents WHERE lang = 'en'),
      |${graft.functions.MinHashBands.sigsSql("mh_toks")},
      |mh_cand AS (
      |  SELECT DISTINCT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.band = sb.band AND sa.sig = sb.sig AND sa.doc_id < sb.doc_id),
      |mh_drop AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM mh_cand
      |  JOIN mh_toks ta ON ta.doc_id = doc_a
      |  JOIN mh_toks tb ON tb.doc_id = doc_b
      |  WHERE len(list_intersect(ta.toks, tb.toks)) /
      |        len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8),
      |${graft.pipeline.SemDeDup.twoLevelSql},
      |sd_drop AS (
      |  SELECT DISTINCT b.vec_id AS doc_id
      |  FROM assigned a JOIN assigned b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE round(${V.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) >= 0.35),
      |ct_docs AS (SELECT * FROM documents WHERE lang = 'en'),
      |ct_toks AS (SELECT doc_id, ${P.tokenSetSql("text")} AS toks FROM ct_docs),
      |ct_sh AS (
      |  SELECT doc_id, ${P.md5LongSql("sub")} AS h FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, CAST(length(text) AS BIGINT) - 6),
      |      i -> substr(text, CAST(i AS INTEGER), 8)))) AS sub
      |    FROM ct_docs WHERE length(text) >= 8)),
      |ct_rare AS (SELECT h FROM ct_sh GROUP BY h HAVING count(*) <= 10),
      |ct_anchored AS (SELECT doc_id, h FROM ct_sh WHERE h IN (SELECT h FROM ct_rare)),
      |ct_cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ct_anchored a JOIN ct_anchored b
      |    ON a.h = b.h AND a.doc_id < b.doc_id),
      |ct_drop AS (
      |  SELECT DISTINCT doc_b AS doc_id
      |  FROM ct_cand
      |  JOIN ct_toks ta ON ta.doc_id = doc_a
      |  JOIN ct_toks tb ON tb.doc_id = doc_b
      |  WHERE len(list_intersect(ta.toks, tb.toks)) /
      |        least(len(ta.toks), len(tb.toks)) >= 0.7)""".stripMargin

  /** The fuzzy text-side verdict channels, in flag-column order. */
  private val textChannels = Seq("minhash", "semdedup", "containment")

  /** Each text channel's dropped doc ids, as thunks for
    * [[graft.functions.Overlap.par]]: the channels are the shipped
    * q41/q181/q234 query functions, not re-implementations.
    */
  private def textDrops(s: SparkSession, dir: String): Seq[() => DataFrame] = Seq(
        () => q41.fn(s, dir)
          .select(col("doc_b").as("doc_id")).distinct(),
        () => Vectors.q181.fn(s, dir)
          .select(col("dropped").as("doc_id")).distinct(),
        () => q234.fn(s, dir)
          .select(col("doc_b").as("doc_id")).distinct())

  /** The consensus vote over `docs(doc_id, text)`: one 0/1 flag column
    * per channel — `exact` (a smaller id has the same text) first,
    * then each fuzzy channel's drops — and the decision: drop on an
    * exact match, or when at least two fuzzy channels agree. Returns
    * the doc count per flag combination.
    */
  private def consensus(docs: DataFrame, fuzzy: Seq[(String, DataFrame)]): DataFrame = {
    val exact = docs
      .withColumn("keep", min("doc_id").over(
        Window.partitionBy(sha2(col("text"), 256))))
      .filter(col("doc_id") =!= col("keep"))
      .select("doc_id")
    val channels = ("exact" -> exact) +: fuzzy
    val names = channels.map(_._1)
    channels
      .foldLeft(docs.select("doc_id")) { case (acc, (name, drops)) =>
        acc.join(drops.withColumn(name, lit(1)), Seq("doc_id"), "left") }
      .select(col("doc_id") +: names.map(n => coalesce(col(n), lit(0)).as(n)): _*)
      .withColumn("decision",
        when(col("exact") === 1 || fuzzy.map(f => col(f._1)).reduce(_ + _) >= 2,
          lit("drop")).otherwise(lit("keep")))
      .groupBy((names :+ "decision").map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(names.map(col): _*)
  }

  /** Consensus keeper — the dedup decision a release pipeline
    * actually ships. q209 measures how much the dedup methods
    * overlap; THIS operator turns the four shipped verdict streams
    * into ONE keeper decision per doc with full per-method
    * attribution:
    *
    *   - exact:       q39's sha256 content groups (doc is dropped
    *                  when a smaller-id doc has identical text),
    *   - minhash:     q41's MinHash-LSH pairs (en corpus, Jaccard
    *                  ≥ 0.8; the larger id of a pair is dropped),
    *   - semdedup:    q181's two-level sampled-quantizer SemDeDup
    *                  (cosine ≥ 0.35 within a cell),
    *   - containment: q234's rare-anchor containment pairs
    *                  (|A∩B|/min ≥ 0.7; larger id dropped).
    *
    * Decision rule (documented, not silent): drop on an EXACT match
    * always, else drop when at least TWO of the three fuzzy methods
    * agree — single-method fuzzy verdicts survive, so one
    * blocking-recall artifact can't delete a document. The verdict
    * frames come from the SAME query functions the registry ships
    * (q41/q181/q234 are invoked, not re-implemented), and combining
    * them is one doc-keyed join pass + one ≤16-row aggregation — no
    * new pair enumeration anywhere. Output: survivor counts per
    * method-combination with the decision each combination gets, so
    * every method's contribution (and every overridden single
    * verdict) is visible in the result.
    */
  val q236 = Q(
    "q236_consensus_keeper",
    (s, dir) => {
      val docs = Tables.docs(s, dir).select("doc_id", "text")
      // the three fuzzy channels are independent and each pins
      // intermediates eagerly inside its fn — constructed inline their
      // pin jobs run serially; overlapping them (guide §2.6) drops the
      // channel-construction wall from Σ to ~max, with frame-identical
      // results (only job submission order changes)
      consensus(docs, textChannels.zip(graft.functions.Overlap.par(s)(
        textDrops(s, dir): _*)))
    },
    Some(s"""WITH $verdictCtes,
      |flags AS (
      |  SELECT d.doc_id,
      |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact,
      |    CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS minhash,
      |    CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS semdedup,
      |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS containment
      |  FROM documents d
      |  LEFT JOIN ex_drop e ON d.doc_id = e.doc_id
      |  LEFT JOIN mh_drop m ON d.doc_id = m.doc_id
      |  LEFT JOIN sd_drop s ON d.doc_id = s.doc_id
      |  LEFT JOIN ct_drop c ON d.doc_id = c.doc_id)
      |SELECT exact, minhash, semdedup, containment,
      |  CASE WHEN exact = 1 OR minhash + semdedup + containment >= 2
      |       THEN 'drop' ELSE 'keep' END AS decision,
      |  count(*) AS n_docs
      |FROM flags
      |GROUP BY 1, 2, 3, 4
      |ORDER BY exact, minhash, semdedup, containment""".stripMargin))

  /** Cross-modal consensus keeper (VERDICT r7 #7) — q236's vote
    * extended with a MEDIA channel, so one keeper decision spans the
    * text and binary-payload views of each document the way a real
    * multimodal release pipeline decides:
    *
    *   - media: hamming-LSH over q198's perceptual hash (aHash-32)
    *            of the binary payloads — docs bucket on (kind, low
    *            8 signature bits), ONLY bucket-local pairs are
    *            enumerated (the q41 LSH band shape applied to
    *            media), and a pair is flagged when the full 32-bit
    *            hamming distance is ≤ 10; the larger id is dropped.
    *            q198's exact-signature groups stay the registry's
    *            media-dedup operator; the consensus channel widens
    *            to NEAR-duplicates because a vote channel wants
    *            recall — its precision is supplied by the vote.
    *
    * Decision rule: drop on an EXACT text match always, else drop
    * when at least TWO of the four fuzzy channels (minhash, semdedup,
    * containment, media) agree — a lone media collision (4-byte
    * signatures DO collide by design) can never delete a document,
    * but media agreement can CONFIRM a single text-side verdict that
    * q236 alone would have spared. The monotone consensus property
    * (SearchOps2Spec): adding a channel can only
    * move documents keep → drop, so q256's drop total ≥ q236's, and
    * on every media=0 combination the two queries decide identically.
    * Verdict frames are the shipped query functions (q41/q181/q234/
    * q198 invoked, not re-implemented); combining them stays one
    * doc-keyed join pass + one ≤32-row aggregation.
    */
  val q256 = Q(
    "q256_crossmodal_consensus",
    (s, dir) => {
      val docs = Tables.docs(s, dir).select("doc_id", "text")
      // all four fuzzy channels are independent — overlap their
      // construction (and the pin jobs inside) on driver threads,
      // guide §2.6; results are frame-identical to serial construction
      val drops = graft.functions.Overlap.par(s)(textDrops(s, dir) :+ { () =>
        val sigs = graft.multimodal.MediaPipeline
          .withPayload(Tables.t(s, dir, "documents"))
          .withColumn("sig", expr("ahash32(payload)"))
          .select(col("doc_id"), col("kind"), col("sig"),
            pmod(col("sig"), lit(256)).as("band"))
        sigs.alias("a").join(sigs.alias("b"),
            col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id") &&
              expr("bit_count(a.sig ^ b.sig) <= 10"))
          .select(col("b.doc_id").as("doc_id")).distinct()
      }: _*)
      consensus(docs, (textChannels :+ "media").zip(drops))
    },
    Some(s"""WITH $verdictCtes,
      |md_p AS (
      |  SELECT doc_id,
      |    CASE WHEN n_chars % 3 = 0 THEN 'image'
      |         WHEN n_chars % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    upper(md5(text) || md5(text || '1')) AS hexp
      |  FROM documents),
      |md_b AS (
      |  SELECT doc_id, kind,
      |    [(instr('0123456789ABCDEF', substr(hexp, i*2-1, 1)) - 1) * 16
      |     + instr('0123456789ABCDEF', substr(hexp, i*2, 1)) - 1
      |     for i in generate_series(1, 32)] AS bytes
      |  FROM md_p),
      |md_s AS (
      |  SELECT doc_id, kind,
      |    CAST(list_sum([CASE WHEN bytes[i] * 32 >= list_sum(bytes)
      |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END
      |      for i in generate_series(1, 32)]) AS BIGINT) AS sig
      |  FROM md_b),
      |md_drop AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM md_s a JOIN md_s b
      |    ON a.kind = b.kind AND a.sig % 256 = b.sig % 256
      |   AND a.doc_id < b.doc_id
      |   AND bit_count(xor(a.sig, b.sig)) <= 10),
      |flags AS (
      |  SELECT d.doc_id,
      |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact,
      |    CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS minhash,
      |    CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS semdedup,
      |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS containment,
      |    CASE WHEN md.doc_id IS NOT NULL THEN 1 ELSE 0 END AS media
      |  FROM documents d
      |  LEFT JOIN ex_drop e ON d.doc_id = e.doc_id
      |  LEFT JOIN mh_drop m ON d.doc_id = m.doc_id
      |  LEFT JOIN sd_drop s ON d.doc_id = s.doc_id
      |  LEFT JOIN ct_drop c ON d.doc_id = c.doc_id
      |  LEFT JOIN md_drop md ON d.doc_id = md.doc_id)
      |SELECT exact, minhash, semdedup, containment, media,
      |  CASE WHEN exact = 1 OR minhash + semdedup + containment + media >= 2
      |       THEN 'drop' ELSE 'keep' END AS decision,
      |  count(*) AS n_docs
      |FROM flags
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY exact, minhash, semdedup, containment, media""".stripMargin))

  /* Survivorship: near-dup CLUSTERING (q100) answers "which docs are
    * copies"; the MDM question a warehouse then faces is "which copy do
    * we KEEP, and what provenance does the merged record carry" —
    * deterministic survivorship rules + lineage aggregation per
    * cluster.
    */

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
      |${graft.functions.MinHashBands.bucketsSql("toks")},
      |${graft.graph.BandCluster.componentsSql()},
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

  /* The WRITE side of exact-substring dedup. q192 audits
    * cross-document duplicated-span mass and labels each document
    * keep/trim/drop — but nothing EXECUTES the trim. q291 is the
    * operator a corpus
    * pipeline runs next: per document, the retained character ranges
    * after every cross-document duplicated span is excised — the
    * byte-range form of Lee et al.'s exact-substring dedup output,
    * which a writer then applies with zero further text scans.
    */

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

  val all: Vector[Q] =
    Vector(q39, q41, q42, q43, q47, q75, q81, q100, q118, q187, q192, q193,
      q211, q234, q236, q256, q289, q291, q294, q295)
}
