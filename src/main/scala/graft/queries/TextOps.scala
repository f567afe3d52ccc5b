package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.13 / BASELINE north-star: training-data pipeline text
  * operators — exact + near dedup (token Jaccard, MinHash-LSH,
  * SimHash), n-gram Jaccard, token statistics, heuristic language ID,
  * quality scoring, shingle fingerprinting.
  *
  * Scale design: no operator ever materializes the O(n²) pair space.
  * Pair generation is always blocked — by (lang, source) for Jaccard,
  * by LSH band buckets for MinHash, by signature bytes for SimHash —
  * so the shuffle volume is Σ blockᵢ², not n². All hashes are the
  * portable md5-based 60-bit hash ([[Portable.md5Long]]) so the
  * DuckDB oracle replays the identical pipeline bit-for-bit.
  */
object TextOps {

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
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
      |mh AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
      |sigs AS (
      |  SELECT doc_id, seed // 8 AS band,
      |    string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)) AS sig
      |  FROM mh GROUP BY 1, 2),
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

  /** L4 token statistics rolled up per language: counts via
    * whitespace tokens and a BPE-ish regex tokenizer.
    */
  val q44 = Q(
    "q44_token_stats_by_lang",
    (s, dir) => {
      Tables.docs(s, dir)
        // tokenize once; the distinct count derives from the same array
        // (tokens() is two regex passes per call — don't pay it twice)
        .withColumn("toks", Portable.tokens(col("text")))
        .withColumn("nt", size(col("toks")))
        .withColumn("ntypes", size(array_distinct(col("toks"))))
        .withColumn("nbpe",
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("nt").cast("long").as("total_tokens"),
          round(avg("nt"), 4).as("avg_tokens"),
          round(avg("ntypes"), 4).as("avg_types"),
          round(avg(col("ntypes") / col("nt")), 6).as("avg_ttr"),
          round(avg("nbpe"), 4).as("avg_bpe_tokens"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, count(*) AS n_docs,
      |  CAST(sum(nt) AS BIGINT) AS total_tokens,
      |  round(avg(nt), 4) AS avg_tokens,
      |  round(avg(ntypes), 4) AS avg_types,
      |  round(avg(ntypes / nt), 6) AS avg_ttr,
      |  round(avg(nbpe), 4) AS avg_bpe_tokens
      |FROM (
      |  SELECT lang,
      |    CAST(len(${Portable.tokensSql("text")}) AS INTEGER) AS nt,
      |    CAST(len(${Portable.tokenSetSql("text")}) AS INTEGER) AS ntypes,
      |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS nbpe
      |  FROM documents)
      |GROUP BY lang
      |ORDER BY lang""".stripMargin))

  /** Heuristic language ID: per-language top-20 token profiles are
    * learned from the corpus itself, each document scores by profile
    * overlap, argmax wins; output is the confusion matrix.
    */
  val q45 = Q(
    "q45_lang_id_profile",
    (s, dir) => {
      val d = Tables.docs(s, dir)
      // learn per-language top-20 profiles from ONE exploded pass,
      // collapsed to 5 sorted hash arrays
      val profiles = d
        .select(col("lang"), explode(Portable.tokens(col("text"))).as("tok"))
        .groupBy(col("lang").as("plang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("plang")).orderBy(col("cnt").desc, col("tok"))))
        .filter(col("rn") <= 20)
        .groupBy("plang")
        .agg(expr("array_sort(collect_list(md5long60(tok)))").as("ptoks"))
      // scoring is per-row array math against the broadcast profiles:
      // |doc-token-set ∩ profile| via the codegen'd merge scan, argmax
      // via a map-side min(struct) — no second explode, no token-level
      // join, no per-doc window (docs with zero overlap with every
      // profile drop out, matching the oracle's inner join)
      d.select(col("doc_id"), col("lang"), Portable.tokenSet(col("text")).as("ts"))
        .withColumn("dtoks", Portable.md5Sorted(col("ts")))
        .crossJoin(broadcast(profiles))
        .withColumn("score", expr("sorted_intersect_count(dtoks, ptoks)"))
        .filter(col("score") >= 1)
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("score")).as("ns"), col("plang"))).as("best"))
        .groupBy(col("lang"), col("best.plang").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },
    Some(s"""WITH tok_all AS (
      |  SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |top AS (
      |  SELECT plang, tok FROM (
      |    SELECT lang AS plang, tok, count(*) AS cnt,
      |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rn
      |    FROM tok_all GROUP BY lang, tok)
      |  WHERE rn <= 20),
      |dtok AS (
      |  SELECT doc_id, lang, unnest(${Portable.tokenSetSql("text")}) AS tok
      |  FROM documents),
      |pred AS (
      |  SELECT doc_id, lang, plang FROM (
      |    SELECT d.doc_id, d.lang, t.plang, count(*) AS score,
      |      row_number() OVER (PARTITION BY d.doc_id
      |        ORDER BY count(*) DESC, t.plang) AS rn
      |    FROM dtok d JOIN top t ON d.tok = t.tok
      |    GROUP BY d.doc_id, d.lang, t.plang)
      |  WHERE rn = 1)
      |SELECT lang, plang AS predicted, count(*) AS n
      |FROM pred
      |GROUP BY lang, plang
      |ORDER BY lang, predicted""".stripMargin))

  /** Quality scoring: type-token ratio, stopword ratio (top-10 global
    * tokens as the stop list), length saturation — one score per doc.
    *
    * Shape: ONE explode pass learns the stop list (vocab-sized agg);
    * the per-document statistics are then pure per-row array math
    * against the broadcast 10-token stop array — no second explode,
    * no 10⁵-row join, no wide re-aggregation. All per-doc measures
    * are integers, so the derived ratios are fold-order-free.
    */
  val q46 = Q(
    "q46_quality_score",
    (s, dir) => {
      val toksDf = Tables.docs(s, dir).select(col("doc_id"),
        Portable.tokens(col("text")).as("toks"))
      // global top-10 via sort+limit (TakeOrderedAndProject: per-
      // partition heaps + a 10-row driver merge), never a partition-
      // less rank window — the vocabulary grows with the corpus, and
      // a Window.orderBy with no partition key funnels ALL of it
      // through one task (flagged by WindowExec at sf10)
      val stops = toksDf.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(10)
        .agg(collect_set(col("tok")).as("stops"))
      toksDf
        .filter(size(col("toks")) >= 1) // explode-based oracle drops token-free docs
        .crossJoin(broadcast(stops))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("nt"),
          size(array_distinct(col("toks"))).cast("long").as("ntypes"),
          expr("CAST(size(filter(toks, t -> array_contains(stops, t))) AS BIGINT)").as("stopn"),
          expr("CAST(aggregate(toks, 0L, (a, t) -> a + length(t)) AS BIGINT)").as("sumlen"))
        .withColumn("ttr", col("ntypes") / col("nt"))
        .withColumn("stop_ratio", col("stopn") / col("nt"))
        .withColumn("avg_len", col("sumlen") / col("nt"))
        .withColumn("score",
          round(lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * least(lit(1.0), col("nt") / 50), 6))
        .select(col("doc_id"), col("nt"), col("ntypes"),
          round(col("ttr"), 6).as("ttr"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("avg_len"), 6).as("avg_len"),
          col("score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok_all AS (
      |  SELECT doc_id, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |stop AS (
      |  SELECT tok AS stok FROM (
      |    SELECT tok, count(*) AS cnt,
      |      row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
      |    FROM tok_all GROUP BY tok)
      |  WHERE rn <= 10),
      |per_doc AS (
      |  SELECT doc_id, count(*) AS nt, count(DISTINCT tok) AS ntypes,
      |    CAST(sum(CASE WHEN stok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stopn,
      |    CAST(sum(length(tok)) AS BIGINT) AS sumlen
      |  FROM tok_all LEFT OUTER JOIN stop ON tok = stok
      |  GROUP BY doc_id)
      |SELECT doc_id, nt, ntypes,
      |  round(ntypes / nt, 6) AS ttr,
      |  round(stopn / nt, 6) AS stop_ratio,
      |  round(sumlen / nt, 6) AS avg_len,
      |  round(0.4 * (ntypes / nt) + 0.3 * (1.0 - stopn / nt) +
      |        0.3 * least(1.0, nt / 50), 6) AS score
      |FROM per_doc
      |ORDER BY doc_id""".stripMargin))

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

  // q40 is a demoted quadratic baseline (see Q.baselines) — q41/q42
  // hold the near-dup registry slots.
  val all: Vector[Q] = Vector(q39, q41, q42, q43, q44, q45, q46, q47)
}
