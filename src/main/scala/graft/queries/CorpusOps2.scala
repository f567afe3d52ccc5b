package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 LLM-pipeline wave (SURVEY §2.13 extensions): deterministic
  * weighted sampling, kNN label voting, bigram-LM fluency scoring,
  * sketch-accuracy audit, shingle novelty, vocabulary coverage,
  * per-language score calibration, source capping, and BPE-style
  * first-merge pair mining.
  */
object CorpusOps2 {

  /** L6+ weighted sampling, deterministically: Duffield-Lund-Thorup
    * priority sampling with priority = w/u, u a portable-hash uniform
    * in (0,1] — P(selected) ∝ n_chars without any RNG state, so the
    * sample is reproducible on any cluster size (the property a
    * 100 TB re-run needs). Top-k is a TakeOrdered, no global sort.
    */
  val q115 = Q(
    "q115_weighted_priority_sample",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          ((Portable.md5Long(col("doc_id").cast("string")) % 1000000L + 1L)
            .cast("double") / 1000000.0).as("u"))
        .withColumn("prio", col("n_chars").cast("double") / col("u"))
        .orderBy(col("prio").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("n_chars"), round(col("prio"), 4).as("prio"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, n_chars, round(prio, 4) AS prio FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      ((${Portable.md5LongSql("CAST(doc_id AS VARCHAR)")} % 1000000 + 1) / 1000000.0) AS prio
      |  FROM documents
      |  ORDER BY prio DESC, doc_id LIMIT 50)
      |ORDER BY doc_id""".stripMargin))

  /** L3+ kNN label vote: each query embedding takes the majority
    * label of its 5 nearest (rounded-cosine) neighbors. The query set
    * broadcasts against the candidate table (same scale shape as
    * q48); the vote is two tiny aggregates after the top-k cut.
    */
  val q116 = Q(
    "q116_knn_classify",
    (s, dir) => {
      val wn = Tables.emb(s, dir).withColumn("nrm", V.norm("embedding"))
      val qs = wn.filter(col("vec_id") < 100).select(
        col("vec_id").as("query_id"), col("label").as("label"),
        col("embedding").as("qe"), col("nrm").as("qn"))
      val cand = wn.select(
        col("vec_id").as("cand_id"), col("label").as("clabel"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      val byCos = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("cand_id"))
      val top = cand.crossJoin(broadcast(qs))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("rn", row_number().over(byCos))
        .filter(col("rn") <= 5)
      val byVotes = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("clabel"))
      top.groupBy("query_id", "label", "clabel")
        .agg(count(lit(1)).as("votes"))
        .withColumn("pr", row_number().over(byVotes))
        .filter(col("pr") === 1)
        .select(col("query_id"), col("label"), col("clabel").as("pred"),
          col("votes"), (col("label") === col("clabel")).as("correct"))
        .orderBy("query_id")
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, label, embedding, ${V.normSql("embedding")} AS nrm
      |  FROM embeddings),
      |top AS (
      |  SELECT * FROM (
      |    SELECT query_id, label, cand_id, clabel, cos,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
      |    FROM (
      |      SELECT q.vec_id AS query_id, q.label AS label,
      |        c.vec_id AS cand_id, c.label AS clabel,
      |        round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos
      |      FROM wn q JOIN wn c ON q.vec_id <> c.vec_id
      |      WHERE q.vec_id < 100))
      |  WHERE rn <= 5),
      |votes AS (
      |  SELECT query_id, label, clabel, count(*) AS votes
      |  FROM top GROUP BY 1, 2, 3)
      |SELECT query_id, label, clabel AS pred, CAST(votes AS BIGINT) AS votes,
      |  label = clabel AS correct
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY votes DESC, clabel) AS pr
      |      FROM votes)
      |WHERE pr = 1
      |ORDER BY query_id""".stripMargin))

  /** L4+ bigram-LM fluency score (the cheap perplexity-filter proxy):
    * corpus bigram/unigram counts with add-one smoothing, each doc
    * scored by its mean conditional probability. Both count tables
    * are vocabulary-bounded (≤|V|² rows) → broadcast joins; the only
    * big shuffle is the per-doc average.
    */
  val q117 = Q(
    "q117_bigram_lm_score",
    (s, dir) => {
      val ts = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      // one codegen'd pass per row ([[graft.functions.BigramStrings]])
      // instead of two interpreted slices + a boxed lambda per bigram
      val bg = ts.select(col("doc_id"), explode(expr("bigram_strings(toks)")).as("bg"))
      val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = ts.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      val v = c1.agg(count(lit(1)).as("v"))
      // c2 (distinct bigrams) and c1 (vocabulary) grow with the
      // corpus toward O(total tokens) — no broadcast hint on them: a
      // forced broadcast would hit the 8 GB table limit at the 100 TB
      // design point, while AQE picks broadcast-vs-shuffle from the
      // measured size at runtime. Only the single-row v is pinned.
      bg.join(c2, "bg")
        .join(c1, split_part(col("bg"), lit(" "), lit(1)) === col("tok"))
        .crossJoin(broadcast(v))
        .withColumn("p", (col("c2") + lit(1.0)) / (col("c1") + col("v")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(avg("p"), 6).as("lm_score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, toks FROM (
      |    SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 2),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM ts),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
      |c1 AS (SELECT tok, count(*) AS c1
      |       FROM (SELECT unnest(toks) AS tok FROM ts) GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM c1)
      |SELECT doc_id, count(*) AS n_bigrams, round(avg((c2 + 1.0) / (c1 + v)), 6) AS lm_score
      |FROM bg JOIN c2 USING (bg)
      |JOIN c1 ON split_part(bg, ' ', 1) = tok
      |CROSS JOIN v
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

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
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM ts),
      |mh AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
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

  /** L4+ shingle novelty: the fraction of each doc's distinct bigram
    * shingles whose FIRST corpus occurrence (min doc_id) is this doc
    * — the streaming-ingest "how much of this is new text" score.
    * One groupBy over exploded shingle hashes (never the strings),
    * one join back; both sides fixed-width longs.
    */
  val q119 = Q(
    "q119_shingle_novelty",
    (s, dir) => {
      val ex = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .withColumn("hs", expr("bigram_hashes(toks)"))
        .select(col("doc_id"), explode(col("hs")).as("h"))
      val firsts = ex.groupBy("h").agg(min("doc_id").as("first_doc"))
      ex.join(firsts, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
        .select(col("doc_id"), col("n_shingles"),
          round(col("novel") / col("n_shingles"), 6).as("novel_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, CAST(len(toks) AS BIGINT)), i -> toks[i] || ' ' || toks[i + 1]))) AS sh
      |  FROM ts WHERE len(toks) >= 2),
      |firsts AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT doc_id, count(*) AS n_shingles,
      |  round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) / count(*), 6) AS novel_frac
      |FROM sh JOIN firsts USING (sh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin))

  /** L4+ vocabulary coverage / OOV rate: fix the top-10 corpus tokens
    * as the "vocab", report per-language coverage. The vocab is a
    * bounded top-k (broadcastable at any corpus size); coverage is
    * one aggregate over the exploded tokens.
    */
  val q120 = Q(
    "q120_vocab_coverage",
    (s, dir) => {
      val tok = Tables.docs(s, dir)
        .select(col("lang"), explode(Portable.tokens(col("text"))).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(10)
        .select(col("tok"), lit(1L).as("iv"))
      tok.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("iv"), lit(0L))).as("in_vocab"))
        .select(col("lang"), col("n_tokens"), col("in_vocab"),
          round(col("in_vocab") / col("n_tokens"), 6).as("coverage"))
        .orderBy("lang")
    },
    Some(s"""WITH tok AS (
      |  SELECT lang, unnest(${Portable.tokensSql("text")}) AS tok FROM documents),
      |vocab AS (
      |  SELECT tok FROM (SELECT tok, count(*) AS c FROM tok GROUP BY 1)
      |  ORDER BY c DESC, tok LIMIT 10)
      |SELECT lang, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS in_vocab,
      |  round(sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)
      |    / count(*), 6) AS coverage
      |FROM tok
      |GROUP BY lang
      |ORDER BY lang""".stripMargin))

  /** L13+ per-language score calibration: percent_rank within each
    * language over a deterministic key (n_chars, doc_id), cut into
    * deciles. Rank-based (no float thresholds), so the decile
    * boundaries are identical on any engine and any partitioning.
    */
  val q121 = Q(
    "q121_quantile_calibrate",
    (s, dir) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      Tables.t(s, dir, "documents")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("decile", least(floor(col("pr") * 10), lit(9L)).cast("int"))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang", "decile")
    },
    Some("""WITH pr AS (
      |  SELECT lang, doc_id, n_chars,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
      |  FROM documents)
      |SELECT lang, CAST(least(floor(pr * 10), 9) AS INTEGER) AS decile,
      |  count(*) AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM pr
      |GROUP BY 1, 2
      |ORDER BY lang, decile""".stripMargin))

  /** L12+ source capping: keep at most 50 docs per source (best by
    * n_chars, doc_id tiebreak) — the "no single crawl dominates the
    * mixture" guard. One window over a source-partitioned sort;
    * reported as per-source kept/dropped counts.
    */
  val q122 = Q(
    "q122_source_cap",
    (s, dir) => {
      val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
      Tables.t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") <= 50, 1L).otherwise(0L)).as("n_kept"),
          round(avg(when(col("rn") <= 50, col("n_chars"))), 2).as("avg_kept_chars"))
        .withColumn("n_dropped", col("n_total") - col("n_kept"))
        .select("source", "n_total", "n_kept", "n_dropped", "avg_kept_chars")
        .orderBy("source")
    },
    Some("""WITH rn AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN rn > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  round(avg(CASE WHEN rn <= 50 THEN n_chars END), 2) AS avg_kept_chars
      |FROM rn
      |GROUP BY source
      |ORDER BY source""".stripMargin))

  /** L4+ BPE-style pair mining: the adjacent character pairs a
    * byte-pair tokenizer would merge first, ranked by corpus
    * frequency. Pure map-side generation (substring windows over each
    * token) into one bounded aggregate.
    */
  val q123 = Q(
    "q123_char_pair_merges",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(explode(Portable.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },
    Some(s"""SELECT pair, count(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, CAST(len(tok) AS BIGINT)),
      |    i -> substr(tok, i, 2))) AS pair
      |  FROM (SELECT unnest(${Portable.tokensSql("text")}) AS tok FROM documents)
      |  WHERE len(tok) >= 2)
      |GROUP BY pair
      |ORDER BY n DESC, pair LIMIT 20""".stripMargin))

  val all: Vector[Q] = Vector(q115, q116, q117, q118, q119, q120, q121, q122, q123)
}
