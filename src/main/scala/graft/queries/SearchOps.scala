package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 search/retrieval wave (SURVEY §2.13 extensions): full-text
  * relevance scoring (BM25), inverted-index construction, corpus
  * information-theory stats (entropy, Zipf), DSIR-style importance
  * weighting for domain-targeted sampling, and int8 embedding
  * quantization with a recall audit — the retrieval-side operators a
  * training-data warehouse serves (reference delegates all query
  * capability to HiveQL, `backend/hive_manager.py:24-29`; these extend
  * that surface the same way the L-series does).
  */
object SearchOps {

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

  /** Int8 scalar quantization + recall audit: each embedding is
    * quantized to round(x/scale) with scale = max|x|/127 (4× smaller,
    * integer dot products), then approximate top-10 by quantized
    * score is compared against exact cosine top-10 per query →
    * recall@10. The quantized dot is exact integer arithmetic, so the
    * audit itself is deterministic cross-engine; both scores are
    * rounded before ranking so the cuts are too. Same broadcast-probe
    * scale shape as q48.
    */
  val q132 = Q(
    "q132_int8_quant_recall",
    (s, dir) => {
      val base = Tables.emb(s, dir)
        .withColumn("scale",
          greatest(array_max(col("embedding")), -array_min(col("embedding")))
            .cast("double") / 127.0)
        .withColumn("qvec",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))"))
        .withColumn("nrm", V.norm("embedding"))
      val qs = base.filter(col("vec_id") < 50).select(
        col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("qvec").as("qq"), col("scale").as("qs"), col("nrm").as("qn"))
      val cand = base.select(
        col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("qvec").as("cq"), col("scale").as("cs"), col("nrm").as("cn"))
      val pairs = cand.crossJoin(broadcast(qs))
        .filter(col("cand_id") =!= col("query_id"))
        .withColumn("cos", round(V.dot("qe", "ce") / (col("qn") * col("cn")), 6))
        .withColumn("approx", round(
          expr("aggregate(zip_with(qq, cq, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
            * col("qs") * col("cs") / (col("qn") * col("cn")), 6))
      val rne = row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id")))
      val rna = row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("cand_id")))
      pairs
        .withColumn("rne", rne).withColumn("rna", rna)
        .filter(col("rne") <= 10)
        .groupBy("query_id")
        .agg((sum(when(col("rna") <= 10, 1).otherwise(0)) / 10.0).as("recall10"))
        .orderBy("query_id")
    },
    Some(s"""WITH base AS (
      |  SELECT vec_id, embedding,
      |    CAST(greatest(list_max(embedding), -list_min(embedding)) AS DOUBLE) / 127.0 AS scale,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) /
      |      (CAST(greatest(list_max(embedding), -list_min(embedding)) AS DOUBLE) / 127.0)) AS BIGINT)) AS qvec,
      |    ${V.normSql("embedding")} AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(${V.dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos,
      |    round(list_sum(list_transform(list_zip(q.qvec, c.qvec),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      * q.scale * c.scale / (q.nrm * c.nrm), 6) AS approx
      |  FROM base q JOIN base c ON q.vec_id < 50 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT query_id, cand_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rne,
      |    row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, cand_id) AS rna
      |  FROM pairs)
      |SELECT query_id,
      |  sum(CASE WHEN rna <= 10 THEN 1 ELSE 0 END) / 10.0 AS recall10
      |FROM ranked WHERE rne <= 10
      |GROUP BY query_id ORDER BY query_id""".stripMargin))

  val all: Vector[Q] = Vector(q126, q127, q128, q129, q130, q132)
}
