package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Dist, Portable, VectorFunctions => V}
import graft.functions.{Portable => P}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizers and vocabulary (SURVEY.md §2.13 L4): token statistics,
  * chunking and sequence packing, BPE pair mining, training and
  * encoding (the shared `bpeRounds` loop), regex pre-tokens, tokenizer
  * fertility, vocabulary coverage and overlap, PMI collocations, and
  * padding waste.
  */
object Tokenizers {

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

  /** Fixed-size token-window chunking (50-token chunks, stride 40 →
    * 10-token overlap) — the standard pre-tokenization step before
    * packing training sequences. Chunks stay inside one row's
    * projection (sequence + slice): zero shuffles, arbitrarily
    * parallel. Chunks are emitted as portable hashes, not text, so
    * the result row stays narrow.
    */
  val q74 = Q(
    "q74_chunk_documents",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .withColumn("nt", size(col("toks")))
        .filter(col("nt") >= 1) // sequence(1,0) would be DESCENDING, not empty
        .withColumn("start", explode(expr("sequence(1, nt, 40)")))
        .withColumn("chunk", expr("slice(toks, start, 50)"))
        .select(
          col("doc_id"),
          expr("CAST((start - 1) DIV 40 AS BIGINT)").as("chunk_id"),
          size(col("chunk")).as("chunk_tokens"),
          expr("md5long60(array_join(chunk, ' '))").as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM (
      |    SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 1),
      |st AS (SELECT doc_id, toks, nt, unnest(range(1, nt + 1, 40)) AS start FROM t),
      |ch AS (SELECT doc_id, start,
      |         list_slice(toks, start, least(start + 49, nt)) AS chunk
      |       FROM st)
      |SELECT doc_id, CAST((start - 1) // 40 AS BIGINT) AS chunk_id,
      |  CAST(len(chunk) AS INTEGER) AS chunk_tokens,
      |  ${Portable.md5LongSql("array_to_string(chunk, ' ')")} AS chunk_hash
      |FROM ch
      |ORDER BY doc_id, chunk_id""".stripMargin))

  /** GPT-style sequence packing: documents are concatenated in
    * deterministic hash order and cut into fixed 512-token training
    * sequences (documents straddle cuts — the standard pack-then-cut
    * regime). Per sequence: how many documents contribute, how many
    * tokens it holds (512 except the tail), and the first/last
    * contributing document.
    *
    * The global token offset comes from [[Dist.globalCumsum]] —
    * order-preserving hash-range bucketing + per-bucket offsets —
    * NOT a single-partition window; packing a 100 TB corpus is
    * exactly where `Window.orderBy(…)` with no partition key would
    * melt one executor. A doc spanning sequences explodes into its
    * (start÷512 … end÷512) range: per-row arithmetic, no shuffle.
    */
  val q101 = Q(
    "q101_pack_sequences",
    (s, dir) => {
      val sized = Tables.docs(s, dir)
        .select(col("doc_id"),
          size(Portable.tokens(col("text"))).cast("long").as("nt"))
        .filter(col("nt") >= 1)
        .withColumn("hk",
          Portable.md5Long(concat(lit("pack:"), col("doc_id").cast("string"))))
      Dist.globalCumsum(sized, "hk", Seq("doc_id"), "nt", "cum",
        s.sparkContext.defaultParallelism)
        .withColumn("st", col("cum") - col("nt"))
        .withColumn("en", col("cum") - 1)
        .withColumn("seq_id",
          explode(sequence(expr("st div 512"), expr("en div 512"))))
        .groupBy("seq_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(least(col("en"), col("seq_id") * 512 + 511) -
            greatest(col("st"), col("seq_id") * 512) + 1).cast("long").as("n_tokens"),
          min_by(col("doc_id"), col("st")).as("first_doc"),
          max_by(col("doc_id"), col("en")).as("last_doc"))
        .orderBy("seq_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id, CAST(len(${Portable.tokensSql("text")}) AS BIGINT) AS nt
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, nt, ${Portable.md5LongSql("concat('pack:', CAST(doc_id AS VARCHAR))")} AS hk
      |  FROM t WHERE nt >= 1),
      |c AS (
      |  SELECT doc_id, nt,
      |    CAST(sum(nt) OVER (ORDER BY hk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM o),
      |spans AS (SELECT doc_id, cum - nt AS st, cum - 1 AS en FROM c),
      |ex AS (
      |  SELECT doc_id, st, en, unnest(range(st // 512, en // 512 + 1)) AS seq
      |  FROM spans)
      |SELECT CAST(seq AS BIGINT) AS seq_id, count(*) AS n_docs,
      |  CAST(sum(least(en, seq * 512 + 511) - greatest(st, seq * 512) + 1) AS BIGINT) AS n_tokens,
      |  arg_min(doc_id, st) AS first_doc, arg_max(doc_id, en) AS last_doc
      |FROM ex GROUP BY 1 ORDER BY seq_id""".stripMargin))

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

  /** BPE-ish regex tokenization (the GPT-2 pre-tokenizer shape:
    * letter runs | digit runs | punctuation runs) over the events
    * JSON props — the token-counting variant the whitespace kernel
    * (q44) can't see. Same pattern string compiles identically under
    * Java regex and RE2.
    */
  val q145 = Q(
    "q145_bpe_regex_tokens",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          size(expr("regexp_extract_all(props, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
            .as("n_bpe"),
          size(graft.functions.Portable.tokens(col("props"))).as("n_ws"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          round(avg(col("n_bpe")), 4).as("avg_bpe_tokens"),
          round(avg(col("n_ws")), 4).as("avg_ws_tokens"))
        .orderBy("event_type")
    },
    Some(s"""SELECT event_type, count(*) AS n_events,
      |  round(avg(len(regexp_extract_all(props, '[a-z]+|[0-9]+|[^a-z0-9 ]+'))), 4)
      |    AS avg_bpe_tokens,
      |  round(avg(len(${graft.functions.Portable.tokensSql("props")})), 4)
      |    AS avg_ws_tokens
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Cross-language vocabulary overlap matrix: the Szymkiewicz–
    * Simpson overlap coefficient |A∩B| / min(|A|,|B|) between every
    * language pair's distinct-token vocabulary — the corpus-
    * comparison op behind "are these two slices the same register?".
    * Vocabularies aggregate to one distinct-token set per language
    * (O(V) each) before the tiny pairwise compare.
    */
  val q174 = Q(
    "q174_lang_vocab_overlap",
    (s, dir) => {
      val v = Tables.docs(s, dir)
        .select(col("lang"), explode(Portable.tokenSet(col("text"))).as("tok"))
        .distinct()
      val sz = v.groupBy("lang").agg(count(lit(1)).as("n"))
      val inter = v.join(v.select(col("lang").as("lang2"), col("tok").as("tok2")),
          col("tok") === col("tok2") && col("lang") < col("lang2"))
        .groupBy("lang", "lang2")
        .agg(count(lit(1)).as("ni"))
      inter
        .join(sz.select(col("lang").as("la"), col("n").as("na")), col("lang") === col("la"))
        .join(sz.select(col("lang").as("lb"), col("n").as("nb")), col("lang2") === col("lb"))
        .select(col("lang").as("lang_a"), col("lang2").as("lang_b"),
          round(col("ni").cast("double") / least(col("na"), col("nb")), 5)
            .as("overlap"))
        .orderBy("lang_a", "lang_b")
    },
    Some(s"""WITH v AS (
      |  SELECT DISTINCT lang, unnest(${Portable.tokenSetSql("text")}) AS tok
      |  FROM documents),
      |sz AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
      |inter AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS ni
      |  FROM v a JOIN v b ON a.tok = b.tok AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT lang_a, lang_b,
      |  round(CAST(ni AS DOUBLE) / least(sa.n, sb.n), 5) AS overlap
      |FROM inter JOIN sz sa ON lang_a = sa.lang JOIN sz sb ON lang_b = sb.lang
      |ORDER BY lang_a, lang_b""".stripMargin))

  /** PMI collocation mining: adjacent token pairs ranked by pointwise
    * mutual information log(p(ab) / (p(a)·p(b))) — which bigrams are
    * ASSOCIATED beyond chance (q117 scores documents with these
    * counts; this ranks the pairs themselves). All four count tables
    * are corpus aggregates; PMI is rounded before the top-k cut.
    */
  val q175 = Q(
    "q175_pmi_collocations",
    (s, dir) => {
      val ts = Tables.docs(s, dir)
        .select(col("doc_id"), Portable.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val bg = ts.select(explode(expr("bigram_strings(toks)")).as("bg"))
      val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
      val n2 = bg.agg(count(lit(1)).as("n2"))
      val uni = ts.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c1"))
      val n1 = uni.agg(sum("c1").as("n1"))
      c2
        .join(uni.select(col("tok").as("ta"), col("c1").as("ca")),
          split_part(col("bg"), lit(" "), lit(1)) === col("ta"))
        .join(uni.select(col("tok").as("tb"), col("c1").as("cb")),
          split_part(col("bg"), lit(" "), lit(2)) === col("tb"))
        .crossJoin(broadcast(n2)).crossJoin(broadcast(n1))
        .filter(col("c2") >= 5)
        .select(col("bg"), col("c2"),
          round(
            log((col("c2").cast("double") / col("n2")) /
              ((col("ca").cast("double") / col("n1")) *
                (col("cb").cast("double") / col("n1")))), 5).as("pmi"))
        .orderBy(col("pmi").desc, col("bg"))
        .limit(20)
    },
    Some(s"""WITH ts AS (
      |  SELECT doc_id, toks FROM (
      |    SELECT doc_id, ${Portable.tokensSql("text")} AS toks FROM documents)
      |  WHERE len(toks) >= 2),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, CAST(len(toks) AS BIGINT)),
      |    i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM ts),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
      |n2 AS (SELECT count(*) AS n2 FROM bg),
      |uni AS (SELECT tok, count(*) AS c1
      |        FROM (SELECT unnest(toks) AS tok FROM ts) GROUP BY 1),
      |n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM uni)
      |SELECT bg, c2,
      |  round(ln((CAST(c2 AS DOUBLE) / n2) /
      |    ((CAST(ca.c1 AS DOUBLE) / n1) * (CAST(cb.c1 AS DOUBLE) / n1))), 5)
      |    AS pmi
      |FROM c2
      |JOIN uni ca ON split_part(bg, ' ', 1) = ca.tok
      |JOIN uni cb ON split_part(bg, ' ', 2) = cb.tok
      |CROSS JOIN n2 CROSS JOIN n1
      |WHERE c2 >= 5
      |ORDER BY pmi DESC, bg LIMIT 20""".stripMargin))

  /** Vocabulary-coverage curve — the tokenizer-design question "how
    * many vocabulary entries cover 90/95/99% of the token stream, per
    * language". The frequency-ranked vocabulary gets its cumulative
    * counts from [[graft.functions.Dist.globalCumsumBy]] (cnt and a
    * ones column cumsummed together over the (lang, cnt DESC, tok)
    * total order — the rank IS the ones-cumsum), so no
    * single-partition window ever sees the vocabulary, which at
    * 100 TB is itself a billion-row table. Per-language prefixes
    * subtract off via the O(#langs) offset window (the q153 recipe),
    * and the coverage thresholds compare in exact integer math
    * (ccum·100 ≥ ltot·90), no float division anywhere.
    */
  val q189 = Q(
    "q189_vocab_coverage_curve",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = Tables.docs(s, dir)
        .select(col("lang"), explode(Portable.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
        .withColumn("one", lit(1L))
      val cum = graft.functions.Dist.globalCumsumBy(
        vocab, Seq(col("lang"), col("cnt").desc, col("tok")),
        Seq("cnt", "one"), 32)
      val wL = Window.orderBy("lang")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = cum.groupBy("lang")
        .agg(sum("cnt").as("ltot"), sum("one").as("lvocab"))
        .withColumn("cnt_off", coalesce(sum("ltot").over(wL), lit(0L)))
        .withColumn("one_off", coalesce(sum("lvocab").over(wL), lit(0L)))
        .select(col("lang").as("lang2"), col("ltot"), col("lvocab"),
          col("cnt_off"), col("one_off"))
      cum.join(broadcast(offs), col("lang") === col("lang2"))
        .withColumn("ccum", col("cnt_cum") - col("cnt_off"))
        .withColumn("vrank", col("one_cum") - col("one_off"))
        .groupBy("lang")
        .agg(
          max("lvocab").as("vocab_size"),
          max("ltot").as("total_toks"),
          min(when(col("ccum") * 100 >= col("ltot") * 90, col("vrank"))).as("v90"),
          min(when(col("ccum") * 100 >= col("ltot") * 95, col("vrank"))).as("v95"),
          min(when(col("ccum") * 1000 >= col("ltot") * 990, col("vrank"))).as("v99"))
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (
      |  SELECT lang, unnest(${Portable.tokensSql("text")}) AS tok
      |  FROM documents),
      |vocab AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
      |w AS (
      |  SELECT lang, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS vrank,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, tok
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccum,
      |    sum(cnt) OVER (PARTITION BY lang) AS ltot,
      |    count(*) OVER (PARTITION BY lang) AS lvocab
      |  FROM vocab)
      |SELECT lang,
      |  CAST(max(lvocab) AS BIGINT) AS vocab_size,
      |  CAST(max(ltot) AS BIGINT) AS total_toks,
      |  CAST(min(CASE WHEN ccum * 100 >= ltot * 90 THEN vrank END) AS BIGINT) AS v90,
      |  CAST(min(CASE WHEN ccum * 100 >= ltot * 95 THEN vrank END) AS BIGINT) AS v95,
      |  CAST(min(CASE WHEN ccum * 1000 >= ltot * 990 THEN vrank END) AS BIGINT) AS v99
      |FROM w GROUP BY lang ORDER BY lang""".stripMargin))

  /** Five BPE merge rounds over the corpus. Symbols live in a
    * space-separated string per token; each round is (1) one
    * map-side pair count over current symbols, (2) a 1-row top-pair
    * frame broadcast into (3) one `replace` pass that applies the
    * merge corpus-wide. Fully declarative — no driver collect; the
    * per-round cost is one aggregation + one map over the corpus, so
    * five rounds are a constant 5× of one pass at any scale. Both
    * engines scan `replace` left-to-right non-overlapping, so merged
    * corpora stay bit-identical. Output: the learned merge table
    * (round, pair, frequency at merge time) — the artifact a
    * tokenizer ships.
    */
  /** " d a t a " — sentinel spaces so a pair match is always
    * space-delimited on both sides.
    */
  private def spaced(c: Column): Column =
    concat(lit(" "), regexp_replace(c, "(.)", "$1 "))

  /** The Sennrich training loop shared by q216 (emit the merge
    * table) and q233 (encode the corpus with it): `rounds` rounds of
    * one codegen'd [[graft.functions.SymbolPairs]] pair count + the
    * 1-row top-pair merge applied corpus-wide. `corpus0` must carry a
    * `sy` symbol column; other columns ride along untouched (q233
    * keeps `lang`). When `applyLast` the final round's merge is
    * applied too (an encoder needs the fully merged corpus; the
    * trainer's last rule needs no application).
    *
    * Materialization discipline (r14, guide §1.2 step 1 — remove
    * passes): the tokenize+explode INPUT is pinned once and every
    * round's pair scan reads those blocks through a LAZY chain of the
    * earlier rounds' merge `replace`s. The previous shape re-encoded
    * and re-pinned the full corpus every round — per round one extra
    * corpus-sized block-manager write whose only reader was the next
    * round's scan (ProfileJobs: ~0.6 s of q216's 3.8 s at sf0.1, and
    * at 100 TB each avoided pin is a full cluster-storage pass). A
    * chain of ≤ `rounds` codegen'd string replaces per scan is
    * strictly cheaper than materializing each intermediate. The merge
    * rule is read off the 1-row pinned `top` frame (a bounded-by-
    * construction driver read, like the CC loop's convergence sum)
    * and applied as a string LITERAL, so the chain carries no
    * per-round broadcast join either. An empty top (no pairs left)
    * empties the corpus via `limit(0)` — exactly the old
    * crossJoin-with-empty semantics.
    *
    * Each round's 1-row top frame stays pinned (merges reads them at
    * the end); the single corpus pin lives until the caller's action
    * has consumed the returned frames (the bench drops pins between
    * queries; a production loop would swap in a reliable
    * `checkpoint`, same lifecycle). Returns (merge table, final
    * corpus) — the corpus is `Some` ONLY when `applyLast` (trainer
    * mode has no encoded corpus to hand back; `None` makes that
    * contract explicit at compile time, ADVICE r6).
    */
  private def bpeRounds(
      s: SparkSession, corpus0: DataFrame, rounds: Int,
      applyLast: Boolean): (DataFrame, Option[DataFrame]) = {
    def pairCounts(c: DataFrame): DataFrame = c
      .select(explode(expr("symbol_pairs(sy)")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
    var corpus = Pins.pin(corpus0)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val top = Pins.pin(pairCounts(corpus)
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(lit(r).as("round"), col("pair"), col("n"))) // 1 row — pins the round's rule
      merges = if (merges == null) top else merges.unionAll(top)
      if (r < rounds || applyLast) {
        // 1-row read off the pinned frame; the merge applies lazily
        corpus = top.take(1).headOption match {
          case Some(row) =>
            val mp = row.getString(1)
            corpus.withColumn("sy", replace(col("sy"),
              lit(" " + mp + " "), lit(" " + mp.replace(" ", "") + " ")))
          case None => corpus.limit(0)
        }
      }
    }
    (merges, if (applyLast) Some(corpus) else None)
  }

  val q216 = Q(
    "q216_bpe_train",
    (s, dir) => {
      val corpus0 = Tables.docs(s, dir)
        .select(explode(Portable.tokens(col("text"))).as("tok"))
        .select(spaced(col("tok")).as("sy"))
      // single-symbol tokens yield an empty pair array (explode
      // emits nothing); round 5 needs no corpus update — its merge
      // rule is the last output
      val (merges, _) = bpeRounds(s, corpus0, 5, applyLast = false)
      merges.orderBy("round")
    },
    Some {
      // the same five rounds unrolled as chained CTEs; DuckDB's
      // replace has the identical left-to-right scan. Split each
      // symbol string ONCE per row (an inner SELECT), not once per
      // lambda element — measured 1.8x on the pair scan (r7 #5)
      val pairSql = (c: String) =>
        s"""SELECT pair, count(*) AS n FROM (
           |  SELECT unnest(list_transform(range(1, len(parts)),
           |    i -> concat(parts[i], ' ', parts[i + 1]))) AS pair
           |  FROM (SELECT string_split(trim(sy), ' ') AS parts FROM $c))
           |GROUP BY 1""".stripMargin
      val rounds = (1 to 5).map { r =>
        s"""t$r AS MATERIALIZED (SELECT pair, n FROM (${pairSql(s"c${r - 1}")})
           |       ORDER BY n DESC, pair LIMIT 1),
           |c$r AS MATERIALIZED (SELECT replace(sy, concat(' ', t$r.pair, ' '),
           |          concat(' ', replace(t$r.pair, ' ', ''), ' ')) AS sy
           |        FROM c${r - 1}, t$r)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 5).map(r =>
        s"SELECT $r AS round, pair, n FROM t$r").mkString("\nUNION ALL ")
      s"""WITH c0 AS MATERIALIZED (
         |  SELECT concat(' ', regexp_replace(tok, '(.)', '\\1 ', 'g')) AS sy
         |  FROM (SELECT unnest(${Portable.tokensSql("text")}) AS tok
         |        FROM documents)),
         |$rounds
         |SELECT CAST(round AS INTEGER) AS round, pair, n FROM (
         |  $sel)
         |ORDER BY round""".stripMargin
    })

  /** BPE encode with the trained merge table: the q216 trainer's five
    * rules (recomputed by the shared [[bpeRounds]] loop,
    * final rule APPLIED this time) encode the corpus, and the
    * per-language report gives symbols-per-char — the compression a
    * tokenizer buys, the train→apply loop closed. Exact integer
    * sums; one rounded division per language.
    */
  val q233 = Q(
    "q233_bpe_apply",
    (s, dir) => {
      val corpus0 = Tables.docs(s, dir)
        .select(col("lang"), explode(P.tokens(col("text"))).as("tok"))
        .select(col("lang"), length(col("tok")).as("chars"),
          spaced(col("tok")).as("sy"))
      val (_, encodedOpt) = bpeRounds(s, corpus0, 5, applyLast = true)
      encodedOpt.get
        .select(col("lang"), col("chars"),
          size(P.tokens(col("sy"))).as("symbols"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum("chars").cast("long").as("n_chars"),
          sum("symbols").cast("long").as("n_symbols"))
        .withColumn("compression",
          round(col("n_symbols") / col("n_chars").cast("double"), 6))
        .orderBy("lang")
    },
    Some {
      val pairSql = (c: String) =>
        s"""SELECT pair, count(*) AS n FROM (
           |  SELECT unnest(list_transform(range(1, len(parts)),
           |    i -> concat(parts[i], ' ', parts[i + 1]))) AS pair
           |  FROM (SELECT string_split(trim(sy), ' ') AS parts FROM $c))
           |GROUP BY 1""".stripMargin
      val rounds = (1 to 5).map { r =>
        s"""t$r AS MATERIALIZED (SELECT pair FROM (${pairSql(s"c${r - 1}")})
           |       ORDER BY n DESC, pair LIMIT 1),
           |c$r AS MATERIALIZED (SELECT lang, chars,
           |          replace(sy, concat(' ', t$r.pair, ' '),
           |          concat(' ', replace(t$r.pair, ' ', ''), ' ')) AS sy
           |        FROM c${r - 1}, t$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH c0 AS MATERIALIZED (
         |  SELECT lang, CAST(length(tok) AS INTEGER) AS chars,
         |    concat(' ', regexp_replace(tok, '(.)', '\\1 ', 'g')) AS sy
         |  FROM (SELECT lang, unnest(${P.tokensSql("text")}) AS tok
         |        FROM documents)),
         |$rounds
         |SELECT lang, count(*) AS n_tokens,
         |  CAST(sum(chars) AS BIGINT) AS n_chars,
         |  CAST(sum(len(list_filter(string_split_regex(sy, '\\s+'),
         |    t -> length(t) > 0))) AS BIGINT) AS n_symbols,
         |  round(sum(len(list_filter(string_split_regex(sy, '\\s+'),
         |    t -> length(t) > 0))) / CAST(sum(chars) AS DOUBLE), 6)
         |    AS compression
         |FROM c5
         |GROUP BY lang
         |ORDER BY lang""".stripMargin
    })

  /** Padding-waste audit for length-bucketed batching. A training
    * job pads every sequence in a batch to the batch max, so batch
    * composition decides how many FLOPs are spent on pad tokens:
    * length-sorted batching (the dynamic-batching default) packs
    * similar lengths together; hash-order batching is the
    * random-shuffle baseline. This operator quantifies the gap on
    * the real corpus: both strategies form batches of 16 docs over a
    * TOTAL order ([[Dist.globalRank]] — order-preserving range
    * bucketing + broadcast prefix offsets, never a partition-less
    * window), and each batch pays `rows × max(len) − Σ len` pad
    * tokens (a trailing partial batch pads only to its own size).
    * Output: one row per strategy with batch count, real tokens,
    * padded-slot tokens, and the pad ratio — the number a pipeline
    * owner reads before turning on length bucketing.
    */
  val q239 = Q(
    "q239_padding_waste_audit",
    (s, dir) => {
      // both strategies rank the same frame
      val lens = Pins.pin(Tables.docs(s, dir)
        .select(col("doc_id"),
          size(P.tokens(col("text"))).cast("long").as("n_toks"),
          P.md5Long(concat(lit("pack:"), col("doc_id").cast("string"))).as("hk")))
      def audit(strategy: String, order: Seq[org.apache.spark.sql.Column]) =
        Dist.globalRank(lens, order, "rnk", 32)
          .withColumn("batch", floor((col("rnk") - 1) / 16))
          .groupBy("batch")
          .agg(count(lit(1)).as("rows"), max("n_toks").as("mx"),
            sum("n_toks").as("tok"))
          .agg(count(lit(1)).as("n_batches"),
            sum("tok").as("real_tokens"),
            sum(col("rows") * col("mx")).as("padded_tokens"))
          .select(lit(strategy).as("strategy"), col("n_batches"),
            col("real_tokens"), col("padded_tokens"),
            round(lit(1) - col("real_tokens") / col("padded_tokens"), 6)
              .as("pad_ratio"))
      audit("hash_order", Seq(col("hk"), col("doc_id")))
        .unionAll(audit("length_sorted",
          Seq(col("n_toks").desc, col("doc_id"))))
        .orderBy("strategy")
    },
    Some(s"""WITH lens AS (
      |  SELECT doc_id, CAST(len(${P.tokensSql("text")}) AS BIGINT) AS n_toks,
      |    ${P.md5LongSql("concat('pack:', CAST(doc_id AS VARCHAR))")} AS hk
      |  FROM documents),
      |hb AS (
      |  SELECT (row_number() OVER (ORDER BY hk, doc_id) - 1) // 16 AS batch, n_toks
      |  FROM lens),
      |lb AS (
      |  SELECT (row_number() OVER (ORDER BY n_toks DESC, doc_id) - 1) // 16 AS batch, n_toks
      |  FROM lens),
      |ha AS (SELECT count(*) AS rows_, max(n_toks) AS mx, sum(n_toks) AS tok
      |       FROM hb GROUP BY batch),
      |la AS (SELECT count(*) AS rows_, max(n_toks) AS mx, sum(n_toks) AS tok
      |       FROM lb GROUP BY batch),
      |u AS (
      |  SELECT 'hash_order' AS strategy, count(*) AS n_batches,
      |    CAST(sum(tok) AS BIGINT) AS real_tokens,
      |    CAST(sum(rows_ * mx) AS BIGINT) AS padded_tokens FROM ha
      |  UNION ALL
      |  SELECT 'length_sorted', count(*), CAST(sum(tok) AS BIGINT),
      |    CAST(sum(rows_ * mx) AS BIGINT) FROM la)
      |SELECT strategy, n_batches, real_tokens, padded_tokens,
      |  round(1 - real_tokens / padded_tokens, 6) AS pad_ratio
      |FROM u ORDER BY strategy""".stripMargin))

  /** Per-language tokenizer fertility: BPE-style pre-tokens (q145's
    * GPT-2-shaped regex over the lowercased text) per whitespace
    * word, and bytes per pre-token — the two ratios that price a
    * language's representation cost under a byte-level tokenizer.
    * High fertility = the tokenizer fragments that language (more
    * sequence length per word of content); bytes/token calibrates
    * token-count budgets against raw corpus size. One documents
    * scan, integer sums, two final divisions per lang row.
    */
  val q285 = Q(
    "q285_tokenizer_fertility",
    (s, dir) => {
      Tables.docs(s, dir)
        .select(col("lang"),
          size(Portable.tokens(col("text"))).cast("long").as("words"),
          size(expr(
            "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
            .cast("long").as("toks"),
          octet_length(col("text")).cast("long").as("bytes"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("words").as("words"), sum("toks").as("toks"),
          sum("bytes").as("bytes"))
        .select(col("lang"), col("n_docs"), col("words"), col("toks"), col("bytes"),
          round(col("toks").cast("double") / col("words"), 6).as("fertility"),
          round(col("bytes").cast("double") / col("toks"), 6).as("bytes_per_token"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(${Portable.tokensSql("text")})) AS BIGINT) AS words,
      |  CAST(sum(len(regexp_extract_all(lower(text),
      |    '[a-z]+|[0-9]+|[^a-z0-9 ]+'))) AS BIGINT) AS toks,
      |  CAST(sum(strlen(text)) AS BIGINT) AS bytes,
      |  round(CAST(sum(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]+'))) AS DOUBLE)
      |    / sum(len(${Portable.tokensSql("text")})), 6) AS fertility,
      |  round(CAST(sum(strlen(text)) AS DOUBLE)
      |    / sum(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]+'))), 6) AS bytes_per_token
      |FROM documents
      |GROUP BY 1
      |ORDER BY lang""".stripMargin))

  val all: Vector[Q] =
    Vector(q44, q74, q101, q120, q123, q145, q174, q175, q189, q216, q233,
      q239, q285)
}
