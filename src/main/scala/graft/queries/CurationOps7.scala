package graft.queries

import graft.{Q, Tables}
import graft.functions.{Portable => P, VectorFunctions => V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-6 curation wave: MMR diversity-aware selection, per-source
  * embedding drift against the corpus centroid, and bloom-filter
  * decontamination — the constant-size-broadcast variant of q103's
  * exact-set screen.
  */
object CurationOps7 {

  /** Greedy maximal-marginal-relevance selection: five rounds of
    * argmax λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s) for the
    * query vector (vec_id 0) — the standard diversity-aware pick for
    * retrieval-augmented training-data selection. Scale shape: the
    * candidate frame (relevance precomputed, one pass) is
    * checkpointed ONCE; each round crossJoins the ≤4-row selected
    * set as a broadcast, aggregates the penalty per candidate, and
    * takes the winner via TakeOrdered — so five rounds cost five
    * linear passes, and the only growing state is the 1-row-per-round
    * winner. All cosines round to 6 dp before any ranking so both
    * engines rank identically.
    */
  val q226 = Q(
    "q226_mmr_select",
    (s, dir) => {
      val lam = 0.7
      val wn = Tables.emb(s, dir).withColumn("nrm", V.norm("embedding"))
      val q0 = wn.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val cand = wn.filter(col("vec_id") > 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"),
          round(V.dot("embedding", "qe") / (col("nrm") * col("qn")), 6).as("rel"))
        .localCheckpoint(true)
      var out: DataFrame = null
      var selIds: DataFrame = null
      var selVecs: DataFrame = null
      for (r <- 1 to 5) {
        val scored =
          if (r == 1)
            cand.select(col("vec_id"), col("rel"),
              round(col("rel") * lam, 6).as("score"))
          else
            cand.join(broadcast(selIds), Seq("vec_id"), "left_anti")
              .crossJoin(broadcast(selVecs))
              .withColumn("p",
                round(V.dot("ce", "se") / (col("cn") * col("sn")), 6))
              .groupBy("vec_id")
              .agg(max("rel").as("rel"), max("p").as("pen"))
              .withColumn("score",
                round(col("rel") * lam - col("pen") * (1 - lam), 6))
        val win = scored
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(lit(r).as("round"), col("vec_id"), col("rel"), col("score"))
          .localCheckpoint(true) // 1 row — pins the round's pick
        out = if (out == null) win else out.unionAll(win)
        selIds = out.select("vec_id")
        selVecs = cand.join(broadcast(selIds), Seq("vec_id"), "left_semi")
          .select(col("ce").as("se"), col("cn").as("sn"))
      }
      out.orderBy("round")
    },
    Some {
      // DOUBLE-typed λ: a bare 0.7 literal types as DECIMAL in DuckDB,
      // so (1 - 0.7) would be the exact decimal 0.3 where Spark
      // computes the double 1-0.7 = 0.30000000000000004 — a potential
      // divergence exactly at a 6-dp rounding tie. Forcing the cast
      // makes every engine-side product double×double on both sides.
      val lam = "CAST(0.7 AS DOUBLE)"
      // selected-so-far CTE chain, unrolled (the q216 pattern)
      val rounds = (2 to 5).map { r =>
        s"""p$r AS (
           |  SELECT c.vec_id, c.rel, max(round(${V.dotSql("c.ce", "s.ce")}
           |      / (c.cn * s.cn), 6)) AS pen
           |  FROM cand c CROSS JOIN sel${r - 1} s
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           |  GROUP BY 1, 2),
           |s$r AS MATERIALIZED (
           |  SELECT $r AS round, p.vec_id, p.rel,
           |    round(p.rel * $lam - p.pen * (1 - $lam), 6) AS score, c.ce, c.cn
           |  FROM p$r p JOIN cand c ON p.vec_id = c.vec_id
           |  ORDER BY round(p.rel * $lam - p.pen * (1 - $lam), 6) DESC, p.vec_id
           |  LIMIT 1),
           |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH wn AS (
         |  SELECT vec_id, embedding, ${V.normSql("embedding")} AS nrm
         |  FROM embeddings),
         |cand AS MATERIALIZED (
         |  SELECT c.vec_id, c.embedding AS ce, c.nrm AS cn,
         |    round(${V.dotSql("c.embedding", "q.embedding")} / (c.nrm * q.nrm), 6) AS rel
         |  FROM wn c, wn q WHERE q.vec_id = 0 AND c.vec_id > 0),
         |s1 AS MATERIALIZED (
         |  SELECT 1 AS round, vec_id, rel, round(rel * $lam, 6) AS score, ce, cn
         |  FROM cand ORDER BY round(rel * $lam, 6) DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT * FROM s1),
         |$rounds
         |SELECT CAST(round AS INTEGER) AS round, vec_id, rel, score
         |FROM (SELECT round, vec_id, rel, score FROM s1
         |      UNION ALL SELECT round, vec_id, rel, score FROM s2
         |      UNION ALL SELECT round, vec_id, rel, score FROM s3
         |      UNION ALL SELECT round, vec_id, rel, score FROM s4
         |      UNION ALL SELECT round, vec_id, rel, score FROM s5)
         |ORDER BY round""".stripMargin
    })

  /** Per-source embedding drift report: each source's centroid is
    * compared (cosine) against the GLOBAL corpus centroid, alongside
    * the source's dispersion (mean cosine of its docs to its own
    * centroid) — the monitoring table that catches a source whose
    * embedding distribution wanders (scraper change, encoder
    * version bump) before it poisons training. Centroid math is the
    * q49 shape: posexplode + per-(source, pos) aggregation, rounded
    * to 6 dp so both engines share exact centroid values; the
    * per-source frame is #sources×dims rows regardless of corpus
    * size, and the global centroid broadcasts as one row.
    */
  val q227 = Q(
    "q227_source_embedding_drift",
    (s, dir) => {
      val de = Tables.t(s, dir, "documents").select("doc_id", "source")
        .join(Tables.emb(s, dir), col("doc_id") === col("vec_id"))
        .select(col("source"), col("vec_id"), col("embedding"))
      val long = de.select(col("source"), posexplode(col("embedding")))
        .toDF("source", "pos0", "v")
      def assemble(grouped: DataFrame, key: Seq[String]): DataFrame = grouped
        .groupBy(key.map(col): _*)
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)")
          .as("cvec"))
      val srcCent = assemble(
        long.groupBy(col("source"), (col("pos0") + 1).as("pos"))
          .agg(round(avg(col("v").cast("double")), 6).as("c")),
        Seq("source"))
      val glob = assemble(
        long.groupBy((col("pos0") + 1).as("pos"))
          .agg(round(avg(col("v").cast("double")), 6).as("c"))
          .withColumn("g", lit(1)),
        Seq("g"))
        .select(col("cvec").as("gvec"))
      val drift = srcCent.crossJoin(broadcast(glob))
        .select(col("source"), col("cvec"),
          round(V.dot("cvec", "gvec") /
            (V.norm("cvec") * V.norm("gvec")), 6).as("centroid_cos"))
      val disp = de.join(broadcast(drift.select("source", "cvec")), "source")
        .withColumn("dc",
          round(V.dot("embedding", "cvec") /
            (V.norm("embedding") * V.norm("cvec")), 6))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg("dc"), 6).as("dispersion"))
      drift.join(disp, "source")
        .select(col("source"), col("n_docs"), col("centroid_cos"),
          col("dispersion"))
        .orderBy("source")
    },
    Some(s"""WITH de AS (
      |  SELECT d.source, e.vec_id, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |long AS (
      |  SELECT source, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      |  FROM de, generate_series(1, 64) g(i)),
      |src_cent AS (
      |  SELECT source, list(c ORDER BY pos) AS cvec FROM (
      |    SELECT source, pos, round(avg(v), 6) AS c
      |    FROM long GROUP BY 1, 2)
      |  GROUP BY source),
      |gcent AS (
      |  SELECT list(c ORDER BY pos) AS gvec FROM (
      |    SELECT pos, round(avg(v), 6) AS c
      |    FROM long GROUP BY 1)),
      |drift AS (
      |  SELECT source, cvec,
      |    round(${V.dotSql("cvec", "gvec")}
      |      / (${V.normSql("cvec")} * ${V.normSql("gvec")}), 6) AS centroid_cos
      |  FROM src_cent CROSS JOIN gcent),
      |disp AS (
      |  SELECT de.source, count(*) AS n_docs,
      |    round(avg(round(${V.dotSql("de.embedding", "sc.cvec")}
      |      / (${V.normSql("de.embedding")} * ${V.normSql("sc.cvec")}), 6)), 6)
      |      AS dispersion
      |  FROM de JOIN src_cent sc ON de.source = sc.source
      |  GROUP BY 1)
      |SELECT source, n_docs, centroid_cos, dispersion
      |FROM drift JOIN disp USING (source)
      |ORDER BY source""".stripMargin))

  /** Bloom-filter decontamination: the eval split (doc_id % 10 = 0)
    * is fingerprinted by word-5-gram hashes, but instead of
    * broadcasting the exact fingerprint SET (q103's shape — fine for
    * a fixed benchmark, unbounded for a 20%-of-corpus eval split),
    * only its BLOOM BITS broadcast: each 60-bit hash sets three
    * 16-bit positions (pure integer arithmetic — no second hash
    * round), a constant ≤3×2¹⁶-row table at ANY corpus size. Train
    * shingles whose three bits all hit are candidates; candidates
    * alone pay the exact-confirm shuffle join. Output per train doc:
    * shingle count, bloom candidates, confirmed hits — so the
    * false-positive mass the bloom admits is audited in the result
    * itself, per the no-silent-caps rule.
    */
  val q228 = Q(
    "q228_bloom_decontaminate",
    (s, dir) => {
      // pin the shingled frame ONCE: the query reads it along four
      // branches (bloom bits, eval hashes, candidate probe, per-doc
      // shingle counts), and without the checkpoint each branch
      // re-tokenizes, re-explodes and re-distincts the full corpus —
      // the sf0.01 plan showed 12 parquet scans and ZERO reused
      // exchanges (the eval/train filters sit below the distinct, so
      // the exchange subtrees never match). Only (doc_id, h) is
      // pinned; the bloom bit columns are two-instruction bit ops
      // recomputed per scan of the cached blocks.
      val sh0 = Tables.docs(s, dir)
        .select(col("doc_id"), P.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', slice(toks, i, 5)))"))
          .as("g"))
        .select(col("doc_id"), P.md5Long(col("g")).as("h"))
        .distinct()
        .localCheckpoint(true)
      // true integer bit extraction (h is a non-negative 60-bit
      // hash): shiftright+mask, never `/` — both engines' `/`
      // promote to IEEE double, whose 53-bit mantissa would bend
      // b2/b3 near rounding boundaries (ADVICE r6)
      val sh = sh0
        .withColumn("b1", col("h").bitwiseAND(lit(65535L)))
        .withColumn("b2", shiftright(col("h"), 16).bitwiseAND(lit(65535L)))
        .withColumn("b3", shiftright(col("h"), 32).bitwiseAND(lit(65535L)))
      val isEval = pmod(col("doc_id"), lit(10)) === 0
      val evalSh = sh.filter(isEval)
      val bits = evalSh.select(explode(array(col("b1"), col("b2"), col("b3")))
        .as("bit")).distinct()
      val train = sh.filter(!isEval)
      val candidates = train
        .join(broadcast(bits.select(col("bit").as("x1"))), col("b1") === col("x1"), "left_semi")
        .join(broadcast(bits.select(col("bit").as("x2"))), col("b2") === col("x2"), "left_semi")
        .join(broadcast(bits.select(col("bit").as("x3"))), col("b3") === col("x3"), "left_semi")
      val confirmed = candidates
        .join(evalSh.select(col("h").as("eh")).distinct(),
          col("h") === col("eh"), "left_outer")
      confirmed
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("eh").isNotNull, 1L).otherwise(0L)).cast("long")
            .as("n_confirmed"))
        .join(train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles")),
          Seq("doc_id"), "right_outer")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_confirmed"), lit(0L)).as("n_confirmed"))
        .orderBy("doc_id")
    },
    Some(s"""WITH sh AS (
      |  SELECT DISTINCT doc_id, ${P.md5LongSql("g")} AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      range(1, CAST(len(toks) AS BIGINT) - 3),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS g
      |    FROM (SELECT doc_id, ${P.tokensSql("text")} AS toks FROM documents)
      |    WHERE len(toks) >= 5)),
      |shb AS (
      |  SELECT doc_id, h, h & 65535 AS b1,
      |    (h >> 16) & 65535 AS b2,
      |    (h >> 32) & 65535 AS b3
      |  FROM sh),
      |bits AS (
      |  SELECT DISTINCT unnest([b1, b2, b3]) AS bit
      |  FROM shb WHERE doc_id % 10 = 0),
      |train AS (SELECT * FROM shb WHERE doc_id % 10 <> 0),
      |cand AS (
      |  SELECT * FROM train
      |  WHERE b1 IN (SELECT bit FROM bits)
      |    AND b2 IN (SELECT bit FROM bits)
      |    AND b3 IN (SELECT bit FROM bits)),
      |ev AS (SELECT DISTINCT h FROM shb WHERE doc_id % 10 = 0),
      |conf AS (
      |  SELECT c.doc_id, count(*) AS n_candidates,
      |    CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_confirmed
      |  FROM cand c LEFT OUTER JOIN ev ON c.h = ev.h
      |  GROUP BY 1)
      |SELECT t.doc_id, count(*) AS n_shingles,
      |  coalesce(any_value(conf.n_candidates), 0) AS n_candidates,
      |  coalesce(any_value(conf.n_confirmed), 0) AS n_confirmed
      |FROM train t LEFT OUTER JOIN conf ON t.doc_id = conf.doc_id
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin))

  val all: Vector[Q] = Vector(q226, q227, q228)
}
