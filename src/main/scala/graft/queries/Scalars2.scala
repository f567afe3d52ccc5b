package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** Round-3 scalar/integrity tail: edit-distance fuzzy matching,
  * bitwise aggregates, and whole-table checksums — the remaining
  * named-function families both engines share.
  */
object Scalars2 {

  /** Levenshtein nearest-neighbour: for the first 20 documents, the
    * closest other document by edit distance over the 60-char prefix
    * — the fuzzy-match primitive for entity resolution when token
    * methods are too coarse. Probe side broadcasts; distance is an
    * exact integer so the argmin needs no rounding.
    */
  val q168 = Q(
    "q168_levenshtein_nearest",
    (s, dir) => {
      val d = Tables.docs(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("prefix"))
      val probes = d.filter(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"), col("prefix").as("qp"))
      d.crossJoin(broadcast(probes))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          levenshtein(col("qp"), col("prefix")).as("dist"))
        .groupBy("query_id")
        .agg(min(struct(col("dist"), col("doc_id"))).as("best"))
        .select(col("query_id"), col("best.doc_id").as("nearest_id"),
          col("best.dist").cast("long").as("dist")) // duck levenshtein is BIGINT
        .orderBy("query_id")
    },
    Some("""WITH d AS (
      |  SELECT doc_id, substr(text, 1, 60) AS prefix FROM documents),
      |pairs AS (
      |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
      |    levenshtein(q.prefix, c.prefix) AS dist
      |  FROM d q JOIN d c ON q.doc_id < 20 AND c.doc_id <> q.doc_id),
      |ranked AS (
      |  SELECT query_id, doc_id, dist,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY dist, doc_id) AS rn
      |  FROM pairs)
      |SELECT query_id, doc_id AS nearest_id, dist
      |FROM ranked WHERE rn = 1 ORDER BY query_id""".stripMargin))

  /** Bitwise aggregates (bit_and / bit_or / bit_xor) over the event
    * ids per type — the named-aggregate family q13-q20 didn't cover.
    */
  val q169 = Q(
    "q169_bitwise_aggs",
    (s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          bit_and(col("event_id")).as("band"),
          bit_or(col("event_id")).as("bor"),
          bit_xor(col("event_id")).as("bxor"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      |  bit_and(event_id) AS band, bit_or(event_id) AS bor,
      |  bit_xor(event_id) AS bxor, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin))

  /** Whole-table content checksum: xor of per-row portable hashes —
    * order-independent, so two replicas (or two engines) can compare
    * a 100 TB table with one scan each and exchange ONE number. The
    * row hash covers every column through a canonical string render;
    * xor's commutativity is what makes the aggregate shuffle-free
    * beyond the final combine.
    */
  val q170 = Q(
    "q170_table_checksum",
    (s, dir) => {
      def sig(table: String, cols: Seq[String]) = {
        val rendered = concat_ws("|", cols.map(c => col(c).cast("string")): _*)
        Tables.t(s, dir, table)
          .select(Portable.md5Long(rendered).as("h"))
          .agg(bit_xor(col("h")).as("checksum"), count(lit(1)).as("n_rows"))
          .select(lit(table).as("tbl"), col("checksum"), col("n_rows"))
      }
      sig("region", Seq("r_regionkey", "r_name"))
        .union(sig("nation", Seq("n_nationkey", "n_name", "n_regionkey")))
        .union(sig("supplier", Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")))
        .orderBy("tbl")
    },
    Some(s"""SELECT 'region' AS tbl,
      |  bit_xor(${Portable.md5LongSql("concat_ws('|', r_regionkey, r_name)")}) AS checksum,
      |  count(*) AS n_rows
      |FROM region
      |UNION ALL
      |SELECT 'nation',
      |  bit_xor(${Portable.md5LongSql("concat_ws('|', n_nationkey, n_name, n_regionkey)")}),
      |  count(*)
      |FROM nation
      |UNION ALL
      |SELECT 'supplier',
      |  bit_xor(${Portable.md5LongSql("concat_ws('|', s_suppkey, s_name, s_nationkey, s_acctbal)")}),
      |  count(*)
      |FROM supplier
      |ORDER BY tbl""".stripMargin))

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

  val all: Vector[Q] = Vector(q168, q169, q170, q174, q175)
}
