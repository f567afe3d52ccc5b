package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable, VectorFunctions => V}
import graft.functions.{Portable => P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval: BM25 and inverted indexes, TF-IDF terms, corpus
  * entropy and Zipf slope, DSIR importance weights, reciprocal-rank
  * fusion (the `lexRanks`/`rrfSql` family) and index-backed hybrid
  * retrieval, late-interaction MaxSim, nDCG evaluation, negative
  * mining, and semantic train/eval contamination screens.
  */
object Retrieval {

  /** TF-IDF top-3 terms per document. The idf factor is the raw
    * inverse document frequency N/df (no logarithm): IEEE requires
    * correctly-rounded divide/multiply, so the ranking score is
    * bit-identical across engines, while transcendentals (ln) are NOT
    * so guaranteed and could flip a rank at a tie boundary.
    */
  val q73 = Q(
    "q73_tfidf_topterms",
    (s, dir) => {
      // nt rides along the explode (functionally dependent on doc_id),
      // so no separate per-doc aggregation + re-join; the per-doc
      // top-3 is sort_array+slice over each doc's ≤|vocab| scored
      // terms — one groupBy shuffle instead of a join shuffle plus a
      // sort-based row_number window. (-score, tok) ascending ≡ the
      // oracle's ORDER BY score DESC, tok (exact double negation).
      val ex = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("nt"), explode(col("toks")).as("tok"))
      val tf = ex.groupBy("doc_id", "nt", "tok").agg(count(lit(1)).as("cnt"))
      val ndocs = Tables.docs(s, dir).agg(countDistinct("doc_id").as("ndocs"))
      // df as a whole-partition window count over tf: the tokenize+
      // explode+aggregate pipeline runs ONCE (a dfc-subquery join
      // would recompute it for the broadcast side)
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
        .crossJoin(broadcast(ndocs))
        .withColumn("score", (col("cnt") / col("nt")) * (col("ndocs") / col("df")))
        .groupBy("doc_id")
        .agg(expr(
          "slice(sort_array(collect_list(struct(-score AS ns, tok AS term, score AS sc))), 1, 3)")
          .as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(col("doc_id"), col("col.term").as("term"),
          round(col("col.sc"), 6).as("tfidf"), (col("pos") + 1).as("rnk"))
        .orderBy("doc_id", "rnk")
    },
    Some(s"""WITH toks AS (
      |  SELECT doc_id, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |nt AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1),
      |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM documents)
      |SELECT doc_id, term, tfidf, rnk FROM (
      |  SELECT tf.doc_id, tf.tok AS term,
      |    round((cnt / nt) * (ndocs / df), 6) AS tfidf,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY (cnt / nt) * (ndocs / df) DESC, tf.tok) AS INTEGER) AS rnk
      |  FROM tf JOIN nt USING (doc_id) JOIN dfc ON tf.tok = dfc.tok CROSS JOIN nd)
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin))

  /* Search (SURVEY §2.13 extensions): full-text relevance scoring
    * (BM25), inverted-index construction, corpus information-theory
    * stats (entropy, Zipf), and DSIR-style importance weighting for
    * domain-targeted sampling — the retrieval-side operators a
    * training-data warehouse serves (reference delegates all query
    * capability to HiveQL, `backend/hive_manager.py:24-29`; these extend
    * that surface the same way the L-series does).
    */

  /** Non-distinct token stream: one row per token occurrence. */
  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables.docs(s, dir).select(col("doc_id"), col("lang"),
      explode(Portable.tokens(col("text"))).as("tok"))

  private val toksSqlCte =
    s"toks AS (SELECT doc_id, lang, unnest(${Portable.tokensSql("text")}) AS tok FROM documents)"

  /** Okapi BM25 (k1=1.2, b=0.75) top-20 docs for a 3-term query.
    * The query terms are a FIXED list, so per-term tf folds into
    * conditional aggregates of the per-doc length aggregate: the
    * token stream explodes ONCE and is aggregated ONCE (doc_id keys,
    * full map-side combine), and the df/avgdl corpus stats reduce
    * that frame to a single broadcast row — no (doc,tok) aggregate,
    * no doc-length join. (The previous form exploded the stream
    * twice and shuffled the full doc-length table into the scoring
    * join; one-pass measured ~3× cheaper at sf0.1 and scans the
    * 100 TB corpus once instead of twice.) Scores are rounded BEFORE
    * the top-k cut so the cut is reproducible cross-engine (ties
    * broken by doc_id).
    */
  val q126 = Q(
    "q126_bm25_search",
    (s, dir) => {
      val terms = Seq("join", "hash", "scan")
      val perDoc = toks(s, dir).groupBy("doc_id").agg(
        count(lit(1)).as("dl"),
        terms.map(t =>
          sum((col("tok") === t).cast("long")).as(s"tf_$t")): _*)
      val stats = perDoc.agg(
        avg(col("dl")).as("avgdl"),
        (count(lit(1)).as("n") +:
          terms.map(t =>
            sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))): _*)
      def contrib(t: String) = when(col(s"tf_$t") > 0,
        log(lit(1.0) + (col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5)) *
          (col(s"tf_$t") * 2.2) /
          (col(s"tf_$t") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
      perDoc
        .filter(terms.map(t => col(s"tf_$t") > 0).reduce(_ || _))
        .crossJoin(broadcast(stats))
        .withColumn("bm25", round(terms.map(contrib).reduce(_ + _), 5))
        .select("doc_id", "bm25")
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH $toksSqlCte,
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
      |       WHERE tok IN ('join', 'hash', 'scan') GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
      |SELECT doc_id,
      |  round(sum(ln(1 + (n - df + 0.5) / (df + 0.5)) *
      |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 5) AS bm25
      |FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin))

  /** Inverted-index build: per term, document frequency, collection
    * frequency, and the head of the doc_id-sorted posting list. The
    * posting head comes from a per-term row_number cut (streamed
    * window sort, spillable) rather than collect_set — a full posting
    * list per term must never materialize in one aggregation buffer
    * at corpus scale.
    */
  val q127 = Q(
    "q127_inverted_index",
    (s, dir) => {
      val ts = toks(s, dir)
      val td = ts.select("tok", "doc_id").distinct()
      val cf = ts.groupBy("tok").agg(count(lit(1)).as("cf"))
      val dfc = td.groupBy("tok").agg(count(lit(1)).as("df"))
      val heads = td
        .withColumn("rn", row_number().over(
          Window.partitionBy("tok").orderBy("doc_id")))
        .filter(col("rn") <= 5)
        .groupBy("tok")
        .agg(expr("array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
          .as("posting_head"))
      dfc.join(cf, "tok").join(heads, "tok")
        .select("tok", "df", "cf", "posting_head")
        .orderBy("tok")
    },
    Some(s"""WITH $toksSqlCte,
      |td AS (SELECT DISTINCT tok, doc_id FROM toks),
      |cf AS (SELECT tok, count(*) AS cf FROM toks GROUP BY 1),
      |df AS (SELECT tok, count(*) AS df FROM td GROUP BY 1),
      |heads AS (
      |  SELECT tok, string_agg(doc_id, ',' ORDER BY doc_id) AS posting_head
      |  FROM (SELECT tok, doc_id,
      |          row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
      |        FROM td)
      |  WHERE rn <= 5 GROUP BY tok)
      |SELECT tok, df, cf, posting_head
      |FROM df JOIN cf USING (tok) JOIN heads USING (tok)
      |ORDER BY tok""".stripMargin))

  /** Per-doc unigram entropy (quality signal: low entropy = repetitive
    * text). H = ln(n) - Σ c·ln(c) / n over the doc's term counts — one
    * two-level aggregate, no joins.
    */
  val q128 = Q(
    "q128_unigram_entropy",
    (s, dir) => {
      toks(s, dir)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * log(col("c"))).as("clogc"))
        .select(
          col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(log(col("n_tokens")) - col("clogc") / col("n_tokens"), 5)
            .as("entropy"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $toksSqlCte,
      |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
      |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 5) AS entropy
      |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Corpus Zipf fit: regression slope/intercept of ln(freq) on
    * ln(rank) over the term-frequency table. The rank is a global
    * total order over a vocabulary-sized table — O(V), not O(corpus) —
    * computed with the range-bucketed two-phase Dist.globalRank, so
    * even a 10⁸-term vocabulary never funnels through one partition.
    */
  val q129 = Q(
    "q129_zipf_slope",
    (s, dir) => {
      val freq = toks(s, dir).groupBy("tok").agg(count(lit(1)).as("freq"))
      graft.functions.Dist
        .globalRank(freq, Seq(col("freq").desc, col("tok")), "rank", 8)
        .agg(
          count(lit(1)).as("n_terms"),
          round(regr_slope(log(col("freq")), log(col("rank"))), 4).as("slope"),
          round(regr_intercept(log(col("freq")), log(col("rank"))), 4).as("intercept"))
    },
    Some(s"""WITH $toksSqlCte,
      |freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
      |ranked AS (SELECT freq,
      |  row_number() OVER (ORDER BY freq DESC, tok) AS rank FROM freq)
      |SELECT count(*) AS n_terms,
      |  round(regr_slope(ln(freq), ln(rank)), 4) AS slope,
      |  round(regr_intercept(ln(freq), ln(rank)), 4) AS intercept
      |FROM ranked""".stripMargin))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hashed unigram
    * features (64 buckets via the portable md5 hash), target = the
    * lang='en' slice, Laplace-smoothed log-likelihood ratio per
    * bucket, per-doc weight = mean LLR of its tokens. The ratio table
    * is FIXED-SIZE (64 rows) regardless of corpus size — it
    * broadcasts at any scale, so scoring is one map-side join plus a
    * doc-level aggregate.
    */
  val q130 = Q(
    "q130_dsir_importance",
    (s, dir) => {
      val b = toks(s, dir)
        .select(col("doc_id"), col("lang"),
          (Portable.md5Long(col("tok")) % 64).as("b"))
      val corpus = b.groupBy("b").agg(count(lit(1)).as("cc"))
      val target = b.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val joined = corpus.join(target, Seq("b"), "left").na.fill(0L, Seq("ct"))
      val tots = joined.agg(sum("cc").as("nc"), sum("ct").as("nt"))
      val ratio = joined.crossJoin(broadcast(tots))
        .select(col("b"),
          (log((col("ct") + 1).cast("double") / (col("nt") + 64)) -
            log((col("cc") + 1).cast("double") / (col("nc") + 64))).as("llr"))
      b.join(broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(round(avg(col("llr")), 5).as("dsir_weight"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $toksSqlCte,
      |b AS (SELECT doc_id, lang,
      |        ${Portable.md5LongSql("tok")} % 64 AS b FROM toks),
      |corpus AS (SELECT b, count(*) AS cc FROM b GROUP BY 1),
      |target AS (SELECT b, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
      |j AS (SELECT corpus.b AS b, cc, coalesce(ct, 0) AS ct
      |      FROM corpus LEFT JOIN target USING (b)),
      |t AS (SELECT sum(cc) AS nc, sum(ct) AS nt FROM j),
      |ratio AS (SELECT b, ln((ct + 1.0) / (nt + 64)) - ln((cc + 1.0) / (nc + 64)) AS llr
      |          FROM j CROSS JOIN t)
      |SELECT doc_id, round(avg(llr), 5) AS dsir_weight
      |FROM b JOIN ratio USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Contrastive-training negative mining for the first 20 query
    * docs: three HARD negatives (same language, closest length, but
    * verified NOT near-dups — token Jaccard < 0.5 via the codegen'd
    * sorted-hash intersect) and two RANDOM negatives (different
    * language, ranked by the portable md5 of the pair key, so the
    * "random" draw is reproducible across engines and cluster
    * sizes). The tiny query side broadcasts against the corpus —
    * q48's scale shape — and each negative list is a per-query
    * window over that bounded candidate stream.
    */
  val q219 = Q(
    "q219_negative_mining",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          Portable.md5Sorted(Portable.tokenSet(col("text"))).as("th"))
      val qs = d.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("lang").as("qlang"),
          col("n_chars").as("qchars"), col("th").as("qth"))
      val hard = d.join(broadcast(qs),
          col("lang") === col("qlang") && col("doc_id") =!= col("qid"))
        .withColumn("c", expr("sorted_intersect_count(th, qth)"))
        .withColumn("jac",
          col("c") / (size(col("th")) + size(col("qth")) - col("c")))
        .filter(col("jac") < 0.5)
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(abs(col("n_chars") - col("qchars")), col("doc_id"))))
        .filter(col("rank") <= 3)
        .select(col("qid").as("query_id"), lit("hard").as("kind"),
          col("rank"), col("doc_id").as("neg_id"))
      val rand = d.join(broadcast(qs), col("lang") =!= col("qlang"))
        .withColumn("rank", row_number().over(Window.partitionBy("qid")
          .orderBy(Portable.md5Long(concat(lit("neg:"), col("qid"), lit(":"),
            col("doc_id"))), col("doc_id"))))
        .filter(col("rank") <= 2)
        .select(col("qid").as("query_id"), lit("random").as("kind"),
          col("rank"), col("doc_id").as("neg_id"))
      hard.unionByName(rand).orderBy("query_id", "kind", "rank")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, lang, n_chars, ${Portable.tokenSetSql("text")} AS toks
      |  FROM documents),
      |qs AS (SELECT doc_id AS qid, lang AS qlang, n_chars AS qchars,
      |         toks AS qtoks
      |       FROM d WHERE doc_id < 20),
      |hard AS (
      |  SELECT qid AS query_id, 'hard' AS kind, rank, doc_id AS neg_id FROM (
      |    SELECT qs.qid, d.doc_id,
      |      row_number() OVER (PARTITION BY qs.qid
      |        ORDER BY abs(d.n_chars - qs.qchars), d.doc_id) AS rank
      |    FROM d JOIN qs ON d.lang = qs.qlang AND d.doc_id <> qs.qid
      |    WHERE len(list_intersect(d.toks, qs.qtoks)) /
      |          len(list_distinct(list_concat(d.toks, qs.qtoks))) < 0.5)
      |  WHERE rank <= 3),
      |rand AS (
      |  SELECT qid AS query_id, 'random' AS kind, rank, doc_id AS neg_id FROM (
      |    SELECT qs.qid, d.doc_id,
      |      row_number() OVER (PARTITION BY qs.qid
      |        ORDER BY ${Portable.md5LongSql(
             "concat('neg:', qid, ':', doc_id)")}, d.doc_id) AS rank
      |    FROM d JOIN qs ON d.lang <> qs.qlang)
      |  WHERE rank <= 2)
      |SELECT CAST(query_id AS BIGINT) AS query_id, kind,
      |  CAST(rank AS INTEGER) AS rank, neg_id
      |FROM (SELECT * FROM hard UNION ALL SELECT * FROM rand)
      |ORDER BY query_id, kind, rank""".stripMargin))

  /** q232's lexical list over (query, doc) pairs carrying the sorted
    * token hashes `th`/`qth`: each query's top 100 by rounded Jaccard,
    * `(query_id, doc_id, r_lex)`.
    */
  private def lexRanks(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("c", expr("sorted_intersect_count(th, qth)"))
      .withColumn("jac",
        round(col("c") / (size(col("th")) + size(col("qth")) - col("c")), 6))
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("jac").desc, col("doc_id"))))
      .filter(col("r") <= 100)
      .select(col("query_id"), col("doc_id"), col("r").as("r_lex"))

  /** q232's vector list over pairs carrying (embedding, nrm) and
    * (qe, qn): each query's top 100 by rounded cosine, `r_vec`.
    */
  private def vecRanks(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("cos",
        round(V.dot("embedding", "qe") / (col("nrm") * col("qn")), 6))
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("r") <= 100)
      .select(col("query_id"), col("doc_id"), col("r").as("r_vec"))

  /** Reciprocal-rank fusion of the two lists, Σ 1/(60 + rank): each
    * query's top 5 by `rrf`, with its `rank`.
    */
  private def rrfTop5(lex: DataFrame, vec: DataFrame): DataFrame =
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= 5)

  /** DuckDB twins of [[lexRanks]] and [[vecRanks]] over CTE `pairs`:
    * CTEs `lex` and `vec`.
    */
  private def ranksSql(lex: String, vec: String): String =
    s"""$lex AS (
       |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_lex FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY
       |        round(len(list_intersect(th, qth)) /
       |          (len(th) + len(qth) - len(list_intersect(th, qth))), 6) DESC,
       |        doc_id) AS r
       |    FROM pairs) WHERE r <= 100),
       |$vec AS (
       |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_vec FROM (
       |    SELECT query_id, doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY
       |        round(${V.dotSql("embedding", "qe")} / (nrm * qn), 6) DESC,
       |        doc_id) AS r
       |    FROM pairs) WHERE r <= 100)""".stripMargin

  /** DuckDB twin of [[rrfTop5]] before the cut: every fused row of
    * `lex` ⟗ `vec` with its `rrf` and `rank`.
    */
  private def rrfSql(lex: String, vec: String): String =
    s"""SELECT query_id, doc_id, r_lex, r_vec,
       |    round(coalesce(1.0 / (60 + r_lex), 0) +
       |          coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf,
       |    row_number() OVER (PARTITION BY query_id ORDER BY
       |      round(coalesce(1.0 / (60 + r_lex), 0) +
       |            coalesce(1.0 / (60 + r_vec), 0), 6) DESC, doc_id) AS rank
       |  FROM $lex FULL OUTER JOIN $vec USING (query_id, doc_id)""".stripMargin

  /** Reciprocal-rank fusion of two retrieval modalities — the
    * standard hybrid-search combiner: per query (docs 0-4), the
    * top-100 lexical list (token-set Jaccard, codegen'd merge-scan
    * intersect) and the top-100 vector list (cosine) are fused by
    * Σ 1/(60+rank), absent-from-list contributing nothing. Ranks are
    * exact integers, so the RRF doubles are engine-identical without
    * any float aggregation. Query side broadcasts (q48 shape);
    * truncating each modality to a top-k LIST before fusing is both
    * the textbook formulation and what keeps the rank windows
    * bounded — and Catalyst's InferWindowGroupLimit turns each
    * rn <= 100 filter into a per-partition partial top-k BEFORE the
    * window sort (PlanSpec pins the WindowGroupLimit node), so no
    * corpus-sized partition ever funnels through one sort. Output:
    * top-5 fused per query.
    */
  val q232 = Q(
    "q232_rrf_fusion",
    (s, dir) => {
      val d = Tables.docs(s, dir)
        .join(Tables.emb(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), P.md5Sorted(P.tokenSet(col("text"))).as("th"),
          col("embedding"), V.norm("embedding").as("nrm"))
      val qs = d.filter(col("doc_id") < 5).select(
        col("doc_id").as("query_id"), col("th").as("qth"),
        col("embedding").as("qe"), col("nrm").as("qn"))
      val pairs = d.filter(col("doc_id") >= 5).crossJoin(broadcast(qs))
      rrfTop5(lexRanks(pairs), vecRanks(pairs))
        .select(col("query_id"), col("doc_id"), col("r_lex"), col("r_vec"),
          col("rrf"), col("rank"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, list_sort(list_transform(${P.tokenSetSql("text")},
      |    t -> ${P.md5LongSql("t")})) AS th,
      |    embedding, ${V.normSql("embedding")} AS nrm
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |qs AS (SELECT doc_id AS query_id, th AS qth, embedding AS qe,
      |       nrm AS qn FROM d WHERE doc_id < 5),
      |pairs AS MATERIALIZED (
      |  SELECT d.doc_id, d.th, d.embedding, d.nrm, qs.*
      |  FROM d CROSS JOIN qs WHERE d.doc_id >= 5),
      |${ranksSql("lex", "vec")}
      |SELECT query_id, doc_id, r_lex, r_vec, rrf, CAST(rank AS INTEGER) AS rank
      |FROM (${rrfSql("lex", "vec")})
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin))

  /** Index-backed RRF hybrid retrieval with an in-result recall
    * audit. q232 proves the fusion math on brute-force top-100
    * lists; THIS is the operator a 100 TB retrieval actually runs:
    * each modality's candidates come from its INDEX —
    *
    *   - vector: MULTI-PROBE over the q51 random-hyperplane LSH
    *     index — each query probes its own 8-bit sign bucket plus
    *     its 8 hamming-distance-1 neighbours (Lv et al. 2007's
    *     multi-probe LSH), expanded on the TINY query side so the
    *     corpus joins on plain bucket equality (the bucket table is
    *     what a deployment keeps materialized),
    *   - lexical: posting lists over RARE 8-char shingle anchors
    *     (document frequency ≤ 10 — q234's blocking index; with this
    *     corpus's saturated ~31-word unigram vocabulary a token-level
    *     inverted index prunes nothing, so the lexical index a
    *     production system would build here is exactly the rare-
    *     shingle posting table),
    *
    * then ONLY the candidates pay the exact scoring (merge-scan
    * Jaccard / cosine), ranks are per-query integers over the
    * candidate list, and the two lists fuse by Σ 1/(60+rank). The
    * recall audit is the q146 pattern: the brute-force fused top-5
    * (q232's lists, cut to 5) is recomputed alongside and every
    * output row carries its query's recall@5 — so the index's recall
    * cost is IN the result, per the no-silent-caps rule. Scale
    * shape: candidate volume is Σ bucketᵢ·|queries probing i| +
    * Σ dfᵢ² (df ≤ 10), never corpus × corpus; the brute-force audit
    * side is the measured-error companion, not the serving path.
    * Expect LOW absolute recall on these fixtures: the synthetic
    * embeddings are near-isotropic (q146's nprobe-2 IVF measures
    * mean recall@10 ≈ 0.37 on the same data) and fused brute-force
    * ranks depend on corpus-wide list positions no candidate-local
    * rank can reproduce — the audit column is the instrument that
    * makes that visible, and planes/probes are the dial it tunes.
    */
  val q235 = Q(
    "q235_fused_retrieval_indexed",
    (s, dir) => {
      // feeds both index paths + the audit
      val d = Pins.pin(Tables.docs(s, dir)
        .join(Tables.emb(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), P.md5Sorted(P.tokenSet(col("text"))).as("th"),
          col("embedding"), V.norm("embedding").as("nrm"),
          Vectors.hyperplaneBucket("embedding").as("bucket")))
      val qs = d.filter(col("doc_id") < 5).select(
        col("doc_id").as("query_id"), col("th").as("qth"),
        col("embedding").as("qe"), col("nrm").as("qn"),
        col("bucket").as("qb"))
      val corpus = d.filter(col("doc_id") >= 5)
      // vector candidates off the LSH bucket index, multi-probe: the
      // query side expands to its 9 probe buckets (all distinct, so
      // no pair dedup needed) and the corpus joins on bucket EQUALITY
      val probes = qs.select(col("query_id"), col("qe"), col("qn"),
        explode(array(
          (col("qb") +: (0 to 7).map(b =>
            col("qb").bitwiseXOR(lit(1L << b)))): _*)).as("pb"))
      val vec = vecRanks(corpus.join(broadcast(probes),
          col("bucket") === col("pb")))
      // lexical candidates off the rare-shingle posting lists
      val sh = Tables.docs(s, dir).filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          explode(expr("char_shingle_hashes(text, 8)")).as("h"))
      val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 10).select("h")
      val anchored = sh.join(rare, Seq("h"), "left_semi")
      val lexCand = anchored.filter(col("doc_id") >= 5)
        .join(anchored.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("h")), "h")
        .select(col("query_id"), col("doc_id")).distinct()
      val lex = lexRanks(lexCand
        .join(corpus.select(col("doc_id"), col("th")), "doc_id")
        .join(broadcast(qs.select(col("query_id"), col("qth"))), "query_id"))
      val fused = rrfTop5(lex, vec)
      // brute-force audit: q232's corpus-wide lists, fused, cut to 5
      val pairs = corpus.crossJoin(broadcast(qs))
      val bruteTop = rrfTop5(lexRanks(pairs),
        vecRanks(pairs)).select("query_id", "doc_id")
      val recall = fused.select("query_id", "doc_id")
        .join(bruteTop, Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id")
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
      fused
        .join(recall, Seq("query_id"), "left")
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("r_lex"), col("r_vec"), col("rrf"),
          coalesce(col("recall5"), lit(0.0)).as("recall5"))
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, list_sort(list_transform(${P.tokenSetSql("text")},
      |    t -> ${P.md5LongSql("t")})) AS th,
      |    embedding, ${V.normSql("embedding")} AS nrm,
      |    ${Vectors.hyperplaneBucketSql("embedding")} AS bucket
      |  FROM documents JOIN embeddings ON doc_id = vec_id),
      |qs AS (SELECT doc_id AS query_id, th AS qth, embedding AS qe,
      |       nrm AS qn, bucket AS qb FROM d WHERE doc_id < 5),
      |corpus AS MATERIALIZED (SELECT * FROM d WHERE doc_id >= 5),
      |probes AS (
      |  SELECT query_id, qe, qn, unnest([qb,
      |    xor(qb, 1), xor(qb, 2), xor(qb, 4), xor(qb, 8), xor(qb, 16),
      |    xor(qb, 32), xor(qb, 64), xor(qb, 128)]) AS pb
      |  FROM qs),
      |vec AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_vec FROM (
      |    SELECT q.query_id, c.doc_id, row_number() OVER (
      |      PARTITION BY q.query_id ORDER BY
      |        round(${V.dotSql("c.embedding", "q.qe")} / (c.nrm * q.qn), 6) DESC,
      |        c.doc_id) AS r
      |    FROM corpus c JOIN probes q ON c.bucket = q.pb) WHERE r <= 100),
      |sh AS (
      |  SELECT doc_id, ${P.md5LongSql("sub")} AS h FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      range(1, CAST(length(text) AS BIGINT) - 6),
      |      i -> substr(text, CAST(i AS INTEGER), 8)))) AS sub
      |    FROM documents WHERE length(text) >= 8)),
      |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 10),
      |anchored AS (SELECT doc_id, h FROM sh WHERE h IN (SELECT h FROM rare)),
      |lexcand AS (
      |  SELECT DISTINCT a.doc_id AS query_id, c.doc_id
      |  FROM anchored a JOIN anchored c ON a.h = c.h
      |  WHERE a.doc_id < 5 AND c.doc_id >= 5),
      |lex AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_lex FROM (
      |    SELECT lc.query_id, lc.doc_id, row_number() OVER (
      |      PARTITION BY lc.query_id ORDER BY
      |        round(len(list_intersect(c.th, q.qth)) /
      |          (len(c.th) + len(q.qth) - len(list_intersect(c.th, q.qth))), 6) DESC,
      |        lc.doc_id) AS r
      |    FROM lexcand lc JOIN corpus c ON lc.doc_id = c.doc_id
      |    JOIN qs q ON lc.query_id = q.query_id) WHERE r <= 100),
      |fused AS (
      |  SELECT query_id, doc_id, r_lex, r_vec, rrf, CAST(rank AS INTEGER) AS rank
      |  FROM (${rrfSql("lex", "vec")})
      |  WHERE rank <= 5),
      |pairs AS MATERIALIZED (
      |  SELECT c.doc_id, c.th, c.embedding, c.nrm, q.*
      |  FROM corpus c CROSS JOIN qs q),
      |${ranksSql("lexb", "vecb")},
      |fusedb AS (
      |  SELECT query_id, doc_id FROM (${rrfSql("lexb", "vecb")})
      |  WHERE rank <= 5),
      |rec AS (
      |  SELECT f.query_id, CAST(count(b.doc_id) AS DOUBLE) / 5.0 AS recall5
      |  FROM fused f LEFT JOIN fusedb b
      |    ON f.query_id = b.query_id AND f.doc_id = b.doc_id
      |  GROUP BY 1)
      |SELECT f.query_id, f.rank, f.doc_id, f.r_lex, f.r_vec, f.rrf,
      |  rec.recall5
      |FROM fused f JOIN rec ON f.query_id = rec.query_id
      |ORDER BY f.query_id, f.rank""".stripMargin))

  /** MaxSim token reshape (q263/q265): 64-dim embedding → 8 token
    * sub-vectors of 8 dims, with per-sub-vector norms.
    */
  private def maxsimToks(df: DataFrame, idc: String, tc: String,
      vc: String, nc: String): DataFrame =
    df.select(col("vec_id").as(idc),
        explode(sequence(lit(0), lit(7))).as(tc),
        col("embedding"))
      .withColumn(vc, expr(s"slice(embedding, $tc * 8 + 1, 8)"))
      .select(col(idc), col(tc), col(vc), V.norm(vc).as(nc))

  /** DuckDB twin of [[maxsimToks]]. */
  private def maxsimToksSql(src: String): String =
    s"""SELECT vec_id, t,
       |    embedding[CAST(t * 8 + 1 AS INTEGER):CAST(t * 8 + 8 AS INTEGER)] AS sv
       |  FROM ($src) CROSS JOIN (SELECT unnest(range(8)) AS t) ts"""
      .stripMargin

  /** Integer-exact MaxSim over (query token × doc token) rows: each
    * cosine is rounded to 6 dp then scaled to ×10⁶ BIGINT BEFORE
    * max/sum, so the per-doc score is exact in both engines (q263's
    * fold-order-proofing).
    */
  private def maxsimScore(pairToks: DataFrame): DataFrame =
    pairToks
      .withColumn("e6",
        round(round(V.dot("qsv", "dsv") / (col("qn") * col("dn")), 6)
          * 1000000).cast("long"))
      .groupBy("query_id", "doc_id", "qt")
      .agg(max(col("e6")).as("m6"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("m6")).as("maxsim_e6"))

  /** Token rows of the 8 probe vectors (vec_id < 8) of `vecs`. */
  private def maxsimProbeToks(vecs: DataFrame): DataFrame =
    maxsimToks(vecs.filter(col("vec_id") < 8), "query_id", "qt", "qsv", "qn")

  /** Exact MaxSim of every (probe, doc ≠ probe) pair: the probe tokens
    * broadcast against the corpus tokens.
    */
  private def maxsimExact(corpusToks: DataFrame, probeToks: DataFrame): DataFrame =
    maxsimScore(corpusToks.crossJoin(broadcast(probeToks))
      .filter(col("doc_id") =!= col("query_id")))

  /** Each probe's 5 best docs, `rank` 1..5 by maxsim desc then doc. */
  private def maxsimTop5(scored: DataFrame): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("maxsim_e6").desc, col("doc_id"))))
      .filter(col("rank") <= 5)

  /** DuckDB twins: CTEs `pt` (probe tokens) and `ct` (corpus tokens). */
  private def maxsimToksCtesSql: String =
    s"""pt AS (
       |  SELECT vec_id AS query_id, t AS qt, sv AS qsv,
       |    ${V.normSql("sv")} AS qn
       |  FROM (${maxsimToksSql("SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8")})),
       |ct AS (
       |  SELECT vec_id AS doc_id, t AS dt, sv AS dsv,
       |    ${V.normSql("sv")} AS dn
       |  FROM (${maxsimToksSql("SELECT vec_id, embedding FROM embeddings")}))""".stripMargin

  /** [[maxsimExact]] as CTE `name(query_id, doc_id, maxsim_e6)`. */
  private def maxsimExactSql(name: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT query_id, doc_id,
       |    CAST(sum(m6) AS BIGINT) AS maxsim_e6
       |  FROM (
       |    SELECT query_id, doc_id, qt,
       |      max(CAST(round(round(${V.dotSql("qsv", "dsv")} / (qn * dn), 6)
       |        * 1000000, 0) AS BIGINT)) AS m6
       |    FROM ct CROSS JOIN pt
       |    WHERE doc_id <> query_id
       |    GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2)""".stripMargin

  /** Late-interaction (MaxSim) retrieval — the ColBERT scoring shape:
    * instead of ONE pooled vector per document, each side keeps a
    * small set of token sub-vectors and
    * score(q, d) = Σ_{i ∈ q} max_{j ∈ d} cos(qᵢ, dⱼ) — a query token
    * matches its best counterpart anywhere in the doc, which pooled
    * cosine (q48) structurally cannot express. Here the 64-dim
    * embedding is reshaped into 8 token sub-vectors of 8 dims (the
    * fixtures carry no real token embeddings; the reshape exercises
    * the exact operator shape: explode → per-pair cosine → per-token
    * max → per-doc sum → top-k). Every per-token cosine is rounded
    * to 6 dp then SCALED TO INTEGER (×10⁶) before max/sum, so the
    * per-doc score is an exact BIGINT in both engines — a float sum
    * of 8 rounded maxes is fold-order-dependent and would hash-flake
    * (the q261 lesson applied preemptively). Output: top-5 per probe
    * with `in_pooled_top5` marking agreement with plain 64-dim
    * cosine ranking — the rank disagreement IS the information this
    * scoring adds. Scale shape: probes broadcast (8 × 8 token rows),
    * the corpus token explode is a constant ×8, and the scan is one
    * linear pass; a production deployment fronts it with the q51/q66
    * candidate generators and MaxSim re-ranks candidates only.
    */
  val q263 = Q(
    "q263_late_interaction_maxsim",
    (s, dir) => {
      // feeds tokens + the pooled audit
      val vecs = Pins.pin(Tables.emb(s, dir).select("vec_id", "embedding"))
      val top = maxsimTop5(maxsimExact(
        maxsimToks(vecs, "doc_id", "dt", "dsv", "dn"), maxsimProbeToks(vecs)))
      val pooled = vecs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          V.norm("qe").as("pqn"))
        .crossJoin(vecs.select(col("vec_id").as("doc_id"),
          col("embedding").as("de"), V.norm("de").as("pdn")))
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("rr", row_number().over(
          Window.partitionBy("query_id").orderBy(
            round(V.dot("qe", "de") / (col("pqn") * col("pdn")), 6).desc,
            col("doc_id"))))
        .filter(col("rr") <= 5).select("query_id", "doc_id")
      top.join(pooled.withColumn("inp", lit(1)),
          Seq("query_id", "doc_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("maxsim_e6"),
          coalesce(col("inp"), lit(0)).as("in_pooled_top5"))
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $maxsimToksCtesSql,
      |${maxsimExactSql("scored")},
      |top AS (
      |  SELECT query_id, doc_id, maxsim_e6,
      |    CAST(rnk AS INTEGER) AS rank FROM (
      |    SELECT query_id, doc_id, maxsim_e6, row_number() OVER (
      |      PARTITION BY query_id ORDER BY maxsim_e6 DESC, doc_id) AS rnk
      |    FROM scored)
      |  WHERE rnk <= 5),
      |pooled AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT q.vec_id AS query_id, d.vec_id AS doc_id, row_number() OVER (
      |      PARTITION BY q.vec_id ORDER BY
      |        round(${V.dotSql("q.embedding", "d.embedding")} /
      |          (${V.normSql("q.embedding")} * ${V.normSql("d.embedding")}), 6)
      |          DESC, d.vec_id) AS rr
      |    FROM embeddings q CROSS JOIN embeddings d
      |    WHERE q.vec_id < 8 AND d.vec_id <> q.vec_id)
      |  WHERE rr <= 5)
      |SELECT t.query_id, t.rank, t.doc_id, t.maxsim_e6,
      |  CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_pooled_top5
      |FROM top t LEFT JOIN pooled p
      |  ON p.query_id = t.query_id AND p.doc_id = t.doc_id
      |ORDER BY t.query_id, t.rank""".stripMargin
    })

  /** Per-token-sub-vector LSH bucket (8 md5-derived hyperplanes over
    * the 8 sub-vector dims, seed family "tp:" so the planes are
    * independent of q51's pooled "hp:" family) — the ColBERT index
    * unit: late-interaction retrieval must index TOKENS, not pooled
    * vectors, because MaxSim's top-k provably disagrees with pooled
    * cosine (q263's `in_pooled_top5` measured 7.5% overlap — a
    * pooled candidate stage would front MaxSim with ~0 recall).
    */
  private def tokBucket(svCol: String): org.apache.spark.sql.Column = {
    val planes: Seq[Array[Double]] = (0 to 7).map { p =>
      (1 to 8).map { d =>
        (graft.functions.Md5Long60.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"tp:$p:$d"))
          % 2001 - 1000) / 1000.0
      }.toArray
    }
    planes.zipWithIndex.map { case (w, p) =>
      when(graft.functions.VecMath.dotCol(col(svCol), lit(w)) >= 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** DuckDB twin of [[tokBucket]] (same planes, same fold). */
  private def tokBucketSql(svCol: String): String =
    s"""CAST(list_sum(list_transform(range(0, 8), p ->
       |      CASE WHEN list_sum(list_transform(
       |        list_zip($svCol,
       |          list_transform(range(1, 9), d ->
       |            (${P.md5LongSql("concat('tp:', p, ':', d)")}
       |              % 2001 - 1000) / 1000.0)),
       |        x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0
       |      THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** END-TO-END retrieval cascade (VERDICT r8 #5): ANN candidate
    * generation → late-interaction MaxSim re-rank — the production
    * deployment q263's own scaladoc promises. Stage 1 indexes at the
    * TOKEN level ([[tokBucket]]): every doc token sub-vector gets an
    * 8-bit hyperplane bucket, every query token probes its own
    * bucket, and a doc becomes a candidate when ANY of its tokens
    * shares a bucket with ANY query token — the ColBERT index shape,
    * required because MaxSim's ranking provably disagrees with
    * pooled cosine (q263 measured 7.5% top-5 overlap; a pooled-LSH
    * candidate stage measured recall ≈ 0 here before this was
    * rebuilt token-level). Candidate volume per query is the probed
    * buckets' occupancy (≤ 8 tokens × bucket size ≈ 8n/256 doc
    * tokens) — bucket-bounded, never a per-query corpus scan. Stage
    * 2 re-scores ONLY those candidates with the exact integer-scaled
    * MaxSim (shared [[maxsimScore]] kernel) and keeps the top-5. The
    * audit rides in the output (q146/q235 discipline): `recall5`
    * compares against the EXACT full-corpus MaxSim top-5 (the
    * ground-truth pass — bounded: 8 probes × corpus — is audit
    * cost, not cascade cost) and `n_cand` exposes each query's
    * candidate volume, so the index's quality/cost tradeoff is IN
    * the result. At 100 TB the cascade is one bucket-equality join +
    * Θ(candidates) token scoring per query batch; q263's brute-force
    * stage is gone.
    */
  val q265 = Q(
    "q265_cascade_ann_maxsim",
    (s, dir) => {
      // feeds token explode + audit
      val vecs = Pins.pin(Tables.emb(s, dir).select(col("vec_id"), col("embedding")))
      val probeToks = maxsimProbeToks(vecs)
      // feeds buckets, candidate scoring, audit
      val corpusToks = Pins.pin(maxsimToks(vecs, "doc_id", "dt", "dsv", "dn"))
      // token-level index: distinct (doc, bucket) posting pairs join
      // distinct (query, bucket) probes on bucket EQUALITY
      val postings = corpusToks
        .select(col("doc_id"), tokBucket("dsv").as("bk")).distinct()
      val qprobes = probeToks
        .select(col("query_id"), tokBucket("qsv").as("bk")).distinct()
      val cand = postings.join(broadcast(qprobes), "bk")
        .filter(col("doc_id") =!= col("query_id"))
        .select("query_id", "doc_id").distinct()
      val nCand = cand.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      val approxTop = maxsimTop5(maxsimScore(
          cand.join(corpusToks, "doc_id").join(broadcast(probeToks), "query_id")))
      val exactTop = maxsimTop5(maxsimExact(corpusToks, probeToks))
        .select("query_id", "doc_id")
      val recall = approxTop.select("query_id", "doc_id")
        .join(exactTop, Seq("query_id", "doc_id"), "left_semi")
        .groupBy("query_id")
        .agg((count(lit(1)).cast("double") / 5.0).as("recall5"))
      approxTop
        .join(broadcast(nCand), "query_id")
        .join(recall, Seq("query_id"), "left")
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("maxsim_e6"), col("n_cand"),
          coalesce(col("recall5"), lit(0.0)).as("recall5"))
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $maxsimToksCtesSql,
      |postings AS (
      |  SELECT DISTINCT doc_id, ${tokBucketSql("dsv")} AS bk FROM ct),
      |qprobes AS (
      |  SELECT DISTINCT query_id, ${tokBucketSql("qsv")} AS bk FROM pt),
      |cand AS (
      |  SELECT DISTINCT p.query_id, c.doc_id
      |  FROM postings c JOIN qprobes p USING (bk)
      |  WHERE c.doc_id <> p.query_id),
      |ncand AS (SELECT query_id, count(*) AS n_cand FROM cand GROUP BY 1),
      |cscore AS MATERIALIZED (
      |  SELECT query_id, doc_id, CAST(sum(m6) AS BIGINT) AS maxsim_e6
      |  FROM (
      |    SELECT c.query_id, c.doc_id, qt,
      |      max(CAST(round(round(${V.dotSql("qsv", "dsv")} / (qn * dn), 6)
      |        * 1000000, 0) AS BIGINT)) AS m6
      |    FROM cand c JOIN ct ON ct.doc_id = c.doc_id
      |    JOIN pt ON pt.query_id = c.query_id
      |    GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2),
      |atop AS (
      |  SELECT query_id, doc_id, maxsim_e6, CAST(rnk AS INTEGER) AS rank
      |  FROM (
      |    SELECT query_id, doc_id, maxsim_e6, row_number() OVER (
      |      PARTITION BY query_id ORDER BY maxsim_e6 DESC, doc_id) AS rnk
      |    FROM cscore)
      |  WHERE rnk <= 5),
      |${maxsimExactSql("escore")},
      |etop AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY maxsim_e6 DESC, doc_id) AS rnk
      |    FROM escore)
      |  WHERE rnk <= 5),
      |rec AS (
      |  SELECT a.query_id, CAST(count(*) AS DOUBLE) / 5.0 AS recall5
      |  FROM atop a JOIN etop e
      |    ON e.query_id = a.query_id AND e.doc_id = a.doc_id
      |  GROUP BY 1)
      |SELECT a.query_id, a.rank, a.doc_id, a.maxsim_e6, n.n_cand,
      |  coalesce(r.recall5, 0.0) AS recall5
      |FROM atop a JOIN ncand n USING (query_id)
      |LEFT JOIN rec r ON r.query_id = a.query_id
      |ORDER BY a.query_id, a.rank""".stripMargin
    })

  /* Retrieval evaluation: the metric a retrieval stack
    * is actually graded by. The engine already ships the indexes
    * (IVF/LSH/PQ/NN-descent) with recall@k audits riding in their
    * outputs; nDCG adds the GRADED-relevance ranking metric those
    * recall audits can't express — a ranker that returns the right
    * set in the wrong order scores perfect recall and poor nDCG.
    */

  /** nDCG@10 of brute-force cosine retrieval with label-graded
    * relevance: queries are vec_ids 0–9, the candidate pool is the
    * rest of the corpus, and a candidate's grade is 2 for an exact
    * label match, 1 for an adjacent label (|Δ| = 1), else 0 — the
    * standard "same topic / related topic / off topic" ladder,
    * derived deterministically from the fixture's label column.
    *
    * DCG@10 = Σ (2^rel − 1)/log2(rank+1) over the cosine top-10
    * (rounded-then-ranked, id tiebreak — the q48 contract). IDCG is
    * CLOSED-FORM from the pool's per-grade counts: the ideal ranking
    * is n₂ twos then n₁ ones, so a 10-row rank spine with
    * CASE rank ≤ n₂ / rank ≤ n₂+n₁ reproduces it without sorting
    * anything corpus-sized.
    *
    * Scale: the query side broadcasts (10 rows); the pool scan is
    * one pass; grade counts are a broadcast-sized per-query
    * aggregate; every per-rank term divides exact integers. The
    * deliberately-linear pool scan is the q48 exact-audit posture —
    * in production the top-10 comes from the IVF/LSH index and this
    * metric grades it.
    */
  val q276 = Q(
    "q276_ndcg_retrieval_eval",
    (s, dir) => {
      val wn = Tables.emb(s, dir)
        .withColumn("nrm", V.norm("embedding"))
      val qs = wn.filter(col("vec_id") < 10).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("ql"))
      val pool = wn.filter(col("vec_id") >= 10).select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("label").as("cl"))
      // ONE pool pass: cosine + grade computed together, then the
      // corpus-sized embedding columns are dropped and the narrow
      // (query_id, cand_id, rel, cos) frame is pinned — it feeds two
      // branches (ranked→dcg and the grade-count aggregate), and
      // without the pin the pool scan + cosine grading ran twice
      val graded = Pins.pin(pool.crossJoin(broadcast(qs))
        .select(col("query_id"), col("cand_id"),
          when(col("cl") === col("ql"), 2)
            .when(abs(col("cl") - col("ql")) === 1, 1).otherwise(0).as("rel"),
          round(V.dot("ce", "qe") / (col("cn") * col("qn")), 6).as("cos")))
      // top-10 by rounded cosine (InferWindowGroupLimit keeps this a
      // per-partition partial top-k, the q232 plan shape)
      val ranked = graded
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("rn") <= 10)
      val dcg = ranked.groupBy("query_id")
        .agg(sum((pow(lit(2.0), col("rel")) - 1)
          / log2(col("rn") + 1)).as("dcg"))
      // ideal ranking from grade counts alone: n2 twos then n1 ones
      val counts = graded.groupBy("query_id")
        .agg(sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
      val spine = s.range(1, 11).select(col("id").as("r"))
      val idcg = counts.crossJoin(broadcast(spine))
        .withColumn("irel",
          when(col("r") <= col("n2"), 2)
            .when(col("r") <= col("n2") + col("n1"), 1).otherwise(0))
        .groupBy("query_id", "n2", "n1")
        .agg(sum((pow(lit(2.0), col("irel")) - 1)
          / log2(col("r") + 1)).as("idcg"))
      dcg.join(idcg, "query_id")
        .select(col("query_id"), col("n2"), col("n1"),
          round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy("query_id")
    },
    Some(s"""WITH wn AS (
      |  SELECT vec_id, embedding, label, ${V.normSql("embedding")} AS nrm
      |  FROM embeddings),
      |graded AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos,
      |    CASE WHEN c.label = q.label THEN 2
      |         WHEN abs(c.label - q.label) = 1 THEN 1 ELSE 0 END AS rel
      |  FROM wn q JOIN wn c ON c.vec_id >= 10
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, rel,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, cand_id) AS rn
      |  FROM graded),
      |dcg AS (
      |  SELECT query_id, sum((pow(2.0, rel) - 1) / log2(rn + 1)) AS dcg
      |  FROM ranked WHERE rn <= 10 GROUP BY 1),
      |counts AS (
      |  SELECT query_id,
      |    CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM graded GROUP BY 1),
      |idcg AS (
      |  SELECT query_id, n2, n1,
      |    sum((pow(2.0, CASE WHEN r <= n2 THEN 2
      |                      WHEN r <= n2 + n1 THEN 1 ELSE 0 END) - 1)
      |        / log2(r + 1)) AS idcg
      |  FROM counts CROSS JOIN (SELECT unnest(range(1, 11)) AS r)
      |  GROUP BY 1, 2, 3)
      |SELECT query_id, n2, n1, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
      |  round(dcg / idcg, 6) AS ndcg
      |FROM dcg JOIN idcg USING (query_id)
      |ORDER BY query_id""".stripMargin))

  /* SEMANTIC cross-split contamination — the
    * embedding-space counterpart of q238's fingerprint-based
    * train/eval check. Fingerprint contamination catches verbatim
    * leakage; an eval example that was paraphrased or lightly
    * perturbed before landing in the training set shares no n-gram
    * fingerprint but sits at a suspiciously small embedding distance —
    * exactly what eval decontamination pipelines screen for before a
    * benchmark run.
    *
    * The screen probes several eval-side cells, and q292 measures its
    * recall. What the measurement showed (brute-force sweep over the fixtures):
    * every true sub-1.15 pair sits at d² in [0.94, 1.15] — the
    * threshold marks the 5th-percentile NATURAL neighborhood, with no
    * clone-level pairs across the split — and probe-count recall
    * plateaus (sf0.1: p=1 → 0.14, p=2 → 0.29, p=8 → 0.61 of true
    * pairs). At that distance (cos ≈ 0.43 for unit-ish vectors) no
    * sub-quadratic candidate structure separates signal from noise
    * (hyperplane-LSH collision ≈ 0.64/bit vs 0.5 random); recall ≥ 0.9
    * at this threshold costs a constant fraction of the n² pair space
    * in ANY scheme. So the design keeps the cheap p=2 probe (doubles
    * measured recall for ~1.3× pair volume), REPORTS the achieved
    * recall per SF via q292's registry row, and proves the property a
    * decontamination screen must never lose: CLONE-level proximity
    * (d² ≈ 0, the actual paraphrase-leak signature) always quantizes
    * into the eval's first probe cell — Round13Spec plants clones and
    * pins the capture end-to-end.
    */

  /** Integer d² threshold for "contaminated" (d² ≤ 1.15 lifted to the
    * rounded-micro integer scale): the fixture's 5th-percentile
    * natural nearest-neighbor neighborhood. Shared by q287 (the
    * screen) and q292 (its measured-recall audit).
    */
  private val ContaminationD2i = 1150000L

  /** Eval probes per q287/q292: top-2 nearest quantizer cells. */
  private val EvalProbes = 2

  /** One multi-probe quantizer pass over the FULL embedding set
    * (seeds must come from the shared corpus, never one split):
    * (vec_id, embedding, probes[2]). probes[0] is exactly the
    * [[graft.pipeline.SemDeDup.cellAssign]] cell (same rounded-(d²,
    * id) ranking), so the train side reads element 1 and pays nothing
    * for the eval side's second probe. Checkpointed: read as both
    * split sides by both queries.
    */
  private def probed(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Pins.pin(graft.pipeline.SemDeDup.cellProbes(Tables.emb(s, dir), EvalProbes))

  /** The shared-quantizer assignment CTE for the q287 and q292
    * oracles: every (vec_id, cell) with probe rank ≤ 2; rank 1 is the
    * cellAssign cell. It ranks each vector's probes over ALL seeds.
    * The engine does the same only up to 65 536 seeds
    * (`SemDeDup.cellProbes`' `maxBroadcastSeeds`; the seed count is
    * ≈ √n, so ~4.3·10⁹ embeddings with dense ids). Above that cutover
    * `cellProbes` ranks probes only within the vector's super-cell, so
    * both oracles stop matching the engine there; every fixture SF is
    * far below it.
    */
  private def assignedSql: String =
    s"""${graft.pipeline.SemDeDup.seedsSql()},
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, embedding, cell, rn FROM (
      |    SELECT e.vec_id, e.embedding, s.seed_id AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(${V.dist2Sql("e.embedding", "s.svec")}, 6), s.seed_id)
      |        AS rn
      |    FROM embeddings e CROSS JOIN seeds s)
      |  WHERE rn <= 2)""".stripMargin

  /** Top-20 eval vectors by nearest-TRAIN embedding distance, with a
    * contamination flag at d² ≤ 1.15 (the fixture's 5th-percentile
    * neighborhood — "closer than 95% of natural nearest-neighbor
    * distances"). Split is q257's release framing: vec_id % 7 == 3
    * is the eval set, the rest train.
    *
    * Scale shape (the q284 quantizer discipline): both splits are
    * assigned by the SHARED √n-cell quantizer in one pass over the
    * pinned frame; each EVAL probes its top-2 cells (IVF multi-probe)
    * while each train vector lives in its single nearest cell, so the
    * eval×train pair space is probe-cell-local — Σᵢ 2·evalᵢ·trainᵢ ≈
    * 2·n^1.5, never n². Distances are the engine-exact rounded d²
    * lifted to integers; the per-eval argmin is a lexicographic
    * (d2i, train_id) min — fold-order-free. An eval vector whose
    * probed cells hold no train vector is excluded (no pair row
    * exists in either engine — q284's singleton convention). The
    * remaining cross-cell miss rate is MEASURED by q292 at every SF
    * (single-probe measured 0.33 pair recall at sf0.01; the second
    * probe exists because of that row). The oracle holds below
    * 65 536 seeds only ([[assignedSql]]).
    */
  val q287 = Q(
    "q287_semantic_contamination",
    (s, dir) => {
      val pr = probed(s, dir)
      val ev = pr.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id").as("ev_id"), col("embedding").as("ee"),
          explode(col("probes")).as("cell"))
      val tr = pr.filter(pmod(col("vec_id"), lit(7)) =!= 3)
        .select(col("vec_id").as("tr_id"),
          element_at(col("probes"), 1).as("cell"), col("embedding").as("te"))
      ev.join(tr, Seq("cell"))
        .withColumn("d2i",
          round(round(V.dist2("ee", "te"), 6) * 1e6, 0).cast("long"))
        .groupBy(col("ev_id").as("vec_id"))
        .agg(min(struct(col("d2i"), col("tr_id"))).as("best"))
        .select(col("vec_id"),
          col("best.tr_id").as("nearest_train"),
          round(col("best.d2i") / 1e6, 6).as("min_d2"),
          (col("best.d2i") <= ContaminationD2i).as("contaminated"))
        .orderBy(col("min_d2"), col("vec_id"))
        .limit(20)
    },
    Some(s"""WITH $assignedSql,
      |ev AS (SELECT vec_id AS ev_id, cell, embedding AS ee
      |       FROM assigned WHERE vec_id % 7 = 3),
      |tr AS (SELECT vec_id AS tr_id, cell, embedding AS te
      |       FROM assigned WHERE vec_id % 7 <> 3 AND rn = 1),
      |d AS (
      |  SELECT ev_id, tr_id,
      |    CAST(round(round(${V.dist2Sql("ee", "te")}, 6) * 1e6) AS BIGINT) AS d2i,
      |    row_number() OVER (PARTITION BY ev_id
      |      ORDER BY CAST(round(round(${V.dist2Sql("ee", "te")}, 6) * 1e6) AS BIGINT),
      |               tr_id) AS rn
      |  FROM ev JOIN tr ON ev.cell = tr.cell)
      |SELECT ev_id AS vec_id, tr_id AS nearest_train,
      |  round(d2i / 1e6, 6) AS min_d2, d2i <= 1150000 AS contaminated
      |FROM d WHERE rn = 1
      |ORDER BY min_d2, vec_id LIMIT 20""".stripMargin))

  /** Measured-recall audit of q287's probe-cell restriction (VERDICT
    * r12 #3): the cell-local screen UNDERSTATES proximity exactly when
    * a true sub-threshold eval×train pair falls outside the eval's
    * probed cells, and this row MEASURES how often — the
    * q146/q180/q284 audit posture q287's scaladoc claims.
    *
    * A deterministic 64-eval panel (hash-ordered, SF-invariant size)
    * is brute-forced against the ENTIRE train split — 64·|train|
    * pairs, linear in n at every SF, a broadcast of 64 rows against
    * the train scan, never the n² pair space. Per true sub-threshold
    * pair, "captured" means the train vector's cell is among the
    * eval's probes (the only pairs q287 can see). Output: one row —
    * pair-level recall (fraction of true pairs visible to the screen)
    * and flag-level recall (fraction of truly-contaminated panel
    * evals q287 would still flag). The oracle shares q287's
    * assignment CTE and its 65 536-seed cutover ([[assignedSql]]).
    */
  val q292 = Q(
    "q292_contamination_recall_audit",
    (s, dir) => {
      val pr = probed(s, dir)
      val panel = pr.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id").as("ev_id"), col("probes"),
          col("embedding").as("ee"))
        .withColumn("rk", Portable.md5Long(
          concat(lit("aud:"), col("ev_id").cast("string"))))
        .orderBy("rk", "ev_id").limit(64)
        .drop("rk")
      val tr = pr.filter(pmod(col("vec_id"), lit(7)) =!= 3)
        .select(col("vec_id").as("tr_id"),
          element_at(col("probes"), 1).as("tc"), col("embedding").as("te"))
      val pairs = tr.join(broadcast(panel))
        .withColumn("d2i",
          round(round(V.dist2("ee", "te"), 6) * 1e6, 0).cast("long"))
      val hit = col("d2i") <= ContaminationD2i
      val cap = hit && array_contains(col("probes"), col("tc"))
      pairs.agg(
        countDistinct("ev_id").as("n_eval_audited"),
        sum(when(hit, 1L).otherwise(0L)).as("n_true_pairs"),
        sum(when(cap, 1L).otherwise(0L)).as("n_pairs_in_probe"),
        countDistinct(when(hit, col("ev_id"))).as("n_flagged_true"),
        countDistinct(when(cap, col("ev_id"))).as("n_flagged_captured"))
        .select(col("n_eval_audited"), col("n_true_pairs"),
          col("n_pairs_in_probe"), col("n_flagged_true"),
          col("n_flagged_captured"),
          round(col("n_pairs_in_probe").cast("double") /
            nullif(col("n_true_pairs"), lit(0L)), 6).as("pair_recall"),
          round(col("n_flagged_captured").cast("double") /
            nullif(col("n_flagged_true"), lit(0L)), 6).as("flag_recall"))
    },
    Some(s"""WITH $assignedSql,
      |panel AS (
      |  SELECT ev_id, ee FROM (
      |    SELECT vec_id AS ev_id, embedding AS ee,
      |      row_number() OVER (ORDER BY
      |        ${Portable.md5LongSql("concat('aud:', CAST(vec_id AS VARCHAR))")},
      |        vec_id) AS prn
      |    FROM assigned WHERE vec_id % 7 = 3 AND rn = 1)
      |  WHERE prn <= 64),
      |evp AS (SELECT vec_id AS ev_id, cell
      |        FROM assigned WHERE vec_id % 7 = 3),
      |tr AS (SELECT vec_id AS tr_id, cell AS tc, embedding AS te
      |       FROM assigned WHERE vec_id % 7 <> 3 AND rn = 1),
      |pairs AS (
      |  SELECT p.ev_id, tr_id,
      |    CAST(round(round(${V.dist2Sql("ee", "te")}, 6) * 1e6) AS BIGINT) AS d2i,
      |    (evp.cell IS NOT NULL) AS in_probe
      |  FROM panel p CROSS JOIN tr
      |  LEFT JOIN evp ON evp.ev_id = p.ev_id AND evp.cell = tr.tc)
      |SELECT count(DISTINCT ev_id) AS n_eval_audited,
      |  CAST(sum(CASE WHEN d2i <= 1150000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_true_pairs,
      |  CAST(sum(CASE WHEN d2i <= 1150000 AND in_probe THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pairs_in_probe,
      |  count(DISTINCT CASE WHEN d2i <= 1150000 THEN ev_id END)
      |    AS n_flagged_true,
      |  count(DISTINCT CASE WHEN d2i <= 1150000 AND in_probe THEN ev_id END)
      |    AS n_flagged_captured,
      |  round(CAST(sum(CASE WHEN d2i <= 1150000 AND in_probe THEN 1 ELSE 0 END)
      |      AS DOUBLE)
      |    / nullif(sum(CASE WHEN d2i <= 1150000 THEN 1 ELSE 0 END), 0), 6)
      |    AS pair_recall,
      |  round(CAST(count(DISTINCT CASE WHEN d2i <= 1150000 AND in_probe
      |        THEN ev_id END) AS DOUBLE)
      |    / nullif(count(DISTINCT CASE WHEN d2i <= 1150000 THEN ev_id END), 0), 6)
      |    AS flag_recall
      |FROM pairs""".stripMargin))

  val all: Vector[Q] =
    Vector(q73, q126, q127, q128, q129, q130, q219, q232, q235, q263, q265,
      q276, q287, q292)
}
