package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable => P, VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 second wave: Apriori-pruned frequent triples, reciprocal-
  * rank fusion of lexical + vector retrieval, BPE encoding with the
  * q216-trained merge table, and containment (quote/subset) dedup
  * with rare-anchor blocking.
  */
object CorpusOps4 {

  /** Frequent 3-itemsets with the Apriori prune: only items in ≥4
    * orders (L1) enter the basket-local triple enumeration, and
    * every candidate triple must have all three of its pairs in the
    * support-≥2 pair set (L2) before counting. The prune is the
    * scale lever: triple volume is Σ f(b)³ over baskets where f(b)
    * counts only FREQUENT items — on a real skewed catalog the L1
    * semi-join removes the long tail that dominates raw Σ b³. Output:
    * top-10 triples by support (id tiebreak).
    */
  val q231 = Q(
    "q231_apriori_triples",
    (s, dir) => {
      // pin the distinct items before deriving L1 and the frequent
      // subset from it (the fact-table distinct otherwise runs twice),
      // then release the pin once fi — the only frame scanned after
      // this point — has materialized (Rotate rule 1)
      val items = Pins.pin(Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        // the q160 shape (r14): o-partitioning serves the distinct,
        // the pair self-join AND the extend join in ONE exchange, at
        // an explicit cluster-derived count so AQE byte-coalescing
        // cannot serialize the pair expansion
        .repartition(s.sparkContext.defaultParallelism, col("o"))
        .distinct())
      val l1 = items.groupBy("p").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 4).select("p")
      val fi = graft.graph.Rotate.supersede(
        items.join(l1, Seq("p"), "left_semi"), items) // scanned three times below
      val pairs = fi.alias("a")
        .join(fi.alias("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.o").as("o"), col("a.p").as("x"), col("b.p").as("y"))
      val l2 = Pins.pin(pairs.groupBy("x", "y").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select("x", "y")) // three semi-join probes below
      // the (x,y) L2 prune stays POST-extend with the other two: the
      // pair stream leaves its generation keyed by o, which is
      // exactly the extend join's key — pruning it first was measured
      // 2× SLOWER at sf10 (r10: the semi-join reroutes the largest
      // frame through an (x,y) shuffle and the extend join then
      // shuffles it straight back to o; l2 is Θ(frequent pairs), far
      // past broadcast size at scale, so no plan avoids that bounce)
      val triples = pairs.alias("ab")
        .join(fi.alias("c"),
          col("ab.o") === col("c.o") && col("ab.y") < col("c.p"))
        .select(col("ab.x").as("pa"), col("ab.y").as("pb"), col("c.p").as("pc"))
        .join(l2.select(col("x").as("pa"), col("y").as("pb")),
          Seq("pa", "pb"), "left_semi")
        .join(l2.select(col("x").as("pb"), col("y").as("pc")),
          Seq("pb", "pc"), "left_semi")
        .join(l2.select(col("x").as("pa"), col("y").as("pc")),
          Seq("pa", "pc"), "left_semi")
      triples.groupBy("pa", "pb", "pc").agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))
        .limit(10)
    },
    Some("""WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |l1 AS (SELECT p FROM items GROUP BY p HAVING count(*) >= 4),
      |fi AS MATERIALIZED (
      |  SELECT o, p FROM items WHERE p IN (SELECT p FROM l1)),
      |pairs AS MATERIALIZED (
      |  SELECT a.o, a.p AS x, b.p AS y
      |  FROM fi a JOIN fi b ON a.o = b.o AND a.p < b.p),
      |l2 AS MATERIALIZED (
      |  SELECT x, y FROM pairs GROUP BY x, y HAVING count(*) >= 2),
      |triples AS (
      |  SELECT ab.x AS pa, ab.y AS pb, c.p AS pc
      |  FROM pairs ab JOIN fi c ON ab.o = c.o AND ab.y < c.p
      |  WHERE EXISTS (SELECT 1 FROM l2 WHERE l2.x = ab.x AND l2.y = ab.y)
      |    AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = ab.y AND l2.y = c.p)
      |    AND EXISTS (SELECT 1 FROM l2 WHERE l2.x = ab.x AND l2.y = c.p))
      |SELECT pa, pb, pc, count(*) AS support
      |FROM triples GROUP BY 1, 2, 3
      |ORDER BY support DESC, pa, pb, pc LIMIT 10""".stripMargin))

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
      val w = Window.partitionBy("query_id")
      val lex = pairs
        .withColumn("c", expr("sorted_intersect_count(th, qth)"))
        .withColumn("jac",
          round(col("c") / (size(col("th")) + size(col("qth")) - col("c")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("jac").desc, col("doc_id"))))
        .filter(col("r") <= 100)
        .select(col("query_id"), col("doc_id"), col("r").as("r_lex"))
      val vec = pairs
        .withColumn("cos",
          round(V.dot("embedding", "qe") / (col("nrm") * col("qn")), 6))
        .withColumn("r", row_number().over(
          w.orderBy(col("cos").desc, col("doc_id"))))
        .filter(col("r") <= 100)
        .select(col("query_id"), col("doc_id"), col("r").as("r_vec"))
      lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6))
        .withColumn("rank", row_number().over(
          w.orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rank") <= 5)
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
      |lex AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_lex FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY
      |        round(len(list_intersect(th, qth)) /
      |          (len(th) + len(qth) - len(list_intersect(th, qth))), 6) DESC,
      |        doc_id) AS r
      |    FROM pairs) WHERE r <= 100),
      |vec AS (
      |  SELECT query_id, doc_id, CAST(r AS INTEGER) AS r_vec FROM (
      |    SELECT query_id, doc_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY
      |        round(${V.dotSql("embedding", "qe")} / (nrm * qn), 6) DESC,
      |        doc_id) AS r
      |    FROM pairs) WHERE r <= 100)
      |SELECT query_id, doc_id, r_lex, r_vec, rrf, CAST(rank AS INTEGER) AS rank
      |FROM (
      |  SELECT query_id, doc_id, r_lex, r_vec,
      |    round(coalesce(1.0 / (60 + r_lex), 0) +
      |          coalesce(1.0 / (60 + r_vec), 0), 6) AS rrf,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      round(coalesce(1.0 / (60 + r_lex), 0) +
      |            coalesce(1.0 / (60 + r_vec), 0), 6) DESC, doc_id) AS rank
      |  FROM lex FULL OUTER JOIN vec USING (query_id, doc_id))
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin))

  /** BPE encode with the trained merge table: the q216 trainer's five
    * rules (recomputed by the shared [[CorpusOps3.bpeRounds]] loop,
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
          CorpusOps3.spaced(col("tok")).as("sy"))
      val (_, encodedOpt) = CorpusOps3.bpeRounds(s, corpus0, 5, applyLast = true)
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

  val all: Vector[Q] = Vector(q231, q232, q233, q234)
}
