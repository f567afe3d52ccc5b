package graft.queries

import graft.{Pins, Q, Tables}
import graft.functions.{Portable, VectorFunctions => V}
import org.apache.spark.sql.functions._

/** Corpus-curation operators, fifth batch: distribution-free
  * uncertainty (Poisson bootstrap), robust statistics (winsorized /
  * trimmed means), diverse core-set selection (greedy k-center), and
  * a dedup-method agreement report.
  *
  * Scale design notes: the bootstrap replicates are a CONSTANT 32×
  * row expansion folded into one aggregation (no resampling shuffle,
  * no driver randomness — weights are the portable md5 hash, so the
  * "resample" is reproducible on any cluster). k-center does k−1
  * bounded single-row collects (the Dist/k-means pattern); the
  * method-overlap report reuses the bucket-local LSH/SimHash pair
  * machinery, so its cost is the q41+q42 cost, never a cross join.
  */
object CurationOps5 {

  /** Poisson(1) CDF steps, hard-coded so both engines branch on
    * bit-identical literals.
    */
  private val pc = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563")
  private val pcD = pc.map(_.toDouble)

  /** Poisson bootstrap 90% CI for the mean order value. The classic
    * bootstrap (resample n rows with replacement) cannot scale — it
    * needs global coordination per replicate — while the Poisson
    * bootstrap is one map: each row gets an independent Poisson(1)
    * weight per replicate, derived here from the portable md5 hash so
    * the "randomness" is deterministic, engine-independent, and
    * partition-independent. 32 replicates ride one 32× explode into
    * a single grouped aggregation (decimal-exact sums, one division),
    * and the band is the exact 2nd/31st order statistic of the 32
    * replicate means.
    */
  val q206 = Q(
    "q206_bootstrap_ci",
    (s, dir) => {
      val u = Portable.md5Long(
        concat(lit("boot:"), col("r"), lit(":"), col("o_orderkey").cast("string")))
        .cast("double") / lit(1152921504606846976.0) // 2^60
      val w = when(u < pcD(0), 0).when(u < pcD(1), 1).when(u < pcD(2), 2)
        .when(u < pcD(3), 3).when(u < pcD(4), 4).otherwise(5)
      // ONE orders scan: every replicate group contains every order
      // row exactly once, so the observed mean (Σprice/n, the same
      // decimal-exact form as Portable.moneyAvg) rides the replicate
      // aggregate — identical in every group, surfaced with max().
      // repartition BEFORE the 32× explode: the md5 weight per
      // exploded row is the dominant cost and the narrow (key, price)
      // projection shuffles for ~nothing, so the hash work runs at
      // full parallelism instead of at the scan's split count (the
      // Tables.docs rule: a narrow scan feeding CPU-heavy per-row
      // work wins back the whole cluster for one negligible shuffle —
      // ProfileJobs measured this query as ONE 5.5 s single-task
      // stage at sf0.1, the file being a single row group)
      val reps = Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("w", w)
        .groupBy("r")
        .agg(
          (sum(col("w") * col("o_totalprice").cast("decimal(18,4)")).cast("double") /
            sum("w")).as("m"),
          Portable.moneyAvg(col("o_totalprice")).as("obs"))
      reps.agg(max("obs").as("observed_mean"),
          sort_array(collect_list("m")).as("ms"))
        .select(col("observed_mean"),
          element_at(col("ms"), 2).as("boot_lo"),
          element_at(col("ms"), 31).as("boot_hi"))
    },
    Some(s"""WITH reps AS (
      |  SELECT r,
      |    CAST(sum(w * CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / sum(w) AS m,
      |    ${Portable.moneyAvgSql("o_totalprice")} AS obs
      |  FROM (
      |    SELECT o_totalprice, r,
      |      CASE WHEN u < ${pc(0)} THEN 0 WHEN u < ${pc(1)} THEN 1
      |           WHEN u < ${pc(2)} THEN 2 WHEN u < ${pc(3)} THEN 3
      |           WHEN u < ${pc(4)} THEN 4 ELSE 5 END AS w
      |    FROM (
      |      SELECT o_orderkey, o_totalprice, r,
      |        CAST(${Portable.md5LongSql(
               "concat('boot:', r, ':', CAST(o_orderkey AS VARCHAR))")} AS DOUBLE)
      |          / 1152921504606846976.0 AS u
      |      FROM orders CROSS JOIN (SELECT unnest(range(32)) AS r) rr))
      |  GROUP BY r)
      |SELECT max(obs) AS observed_mean,
      |  (list(m ORDER BY m))[2] AS boot_lo,
      |  (list(m ORDER BY m))[31] AS boot_hi
      |FROM reps""".stripMargin))

  /** Winsorized + trimmed statistics per return flag: the robust
    * aggregates a quality-metric pipeline publishes when raw means
    * are outlier-dominated. Cut points are the EXACT p05/p95 from
    * the (value, freq) histogram (q19 pattern — constant-size
    * buffers); they are rounded to 6 dp decimals so the clamped sum
    * is decimal-exact in both engines (no double fold-order hazard).
    */
  val q207 = Q(
    "q207_winsorized_stats",
    (s, dir) => {
      val li = Tables.t(s, dir, "lineitem")
      val cuts = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("freq"))
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.05, 0.95), freq)").as("pq"))
        .select(col("l_returnflag"),
          round(col("pq")(0), 6).cast("decimal(18,6)").as("lo"),
          round(col("pq")(1), 6).cast("decimal(18,6)").as("hi"))
      li.join(broadcast(cuts), "l_returnflag")
        .withColumn("clamped",
          when(col("l_quantity") < col("lo"), col("lo"))
            .when(col("l_quantity") > col("hi"), col("hi"))
            .otherwise(col("l_quantity").cast("decimal(18,6)")))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          first("lo").as("p05"), first("hi").as("p95"),
          (sum("clamped").cast("double") / count(lit(1))).as("winsorized_mean"),
          (sum(when(col("l_quantity").between(col("lo"), col("hi")),
            col("l_quantity"))).cast("double") /
            sum(when(col("l_quantity").between(col("lo"), col("hi")), 1)))
            .as("trimmed_mean"),
          round(sum(when(col("l_quantity") < col("lo"), 1)
            .when(col("l_quantity") > col("hi"), 1).otherwise(0))
            / count(lit(1)), 6).as("clamped_frac"))
        .select(col("l_returnflag"), col("n"),
          col("p05").cast("double").as("p05"), col("p95").cast("double").as("p95"),
          col("winsorized_mean"), col("trimmed_mean"), col("clamped_frac"))
        .orderBy("l_returnflag")
    },
    Some("""WITH cuts AS (
      |  SELECT l_returnflag,
      |    CAST(round(quantile_cont(l_quantity, 0.05), 6) AS DECIMAL(18,6)) AS lo,
      |    CAST(round(quantile_cont(l_quantity, 0.95), 6) AS DECIMAL(18,6)) AS hi
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT li.l_returnflag, li.l_quantity, cuts.lo, cuts.hi,
      |    CASE WHEN li.l_quantity < cuts.lo THEN cuts.lo
      |         WHEN li.l_quantity > cuts.hi THEN cuts.hi
      |         ELSE CAST(li.l_quantity AS DECIMAL(18,6)) END AS clamped
      |  FROM lineitem li JOIN cuts USING (l_returnflag))
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(min(lo) AS DOUBLE) AS p05, CAST(min(hi) AS DOUBLE) AS p95,
      |  CAST(sum(clamped) AS DOUBLE) / count(*) AS winsorized_mean,
      |  CAST(sum(CASE WHEN l_quantity BETWEEN lo AND hi THEN l_quantity END)
      |    AS DOUBLE) /
      |    sum(CASE WHEN l_quantity BETWEEN lo AND hi THEN 1 END) AS trimmed_mean,
      |  round(sum(CASE WHEN l_quantity < lo OR l_quantity > hi THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 6) AS clamped_frac
      |FROM j GROUP BY 1 ORDER BY l_returnflag""".stripMargin))

  /** Greedy k-center core-set over the embedding table (k = 8): the
    * diverse-sample selection a fine-tuning pipeline runs to pick
    * maximally-spread exemplars. Each round keeps a running rounded
    * min-distance column (one broadcast of the single new center, no
    * re-scan of past centers) and takes the argmax with a bounded
    * 1-row collect — k−1 driver round-trips total, independent of
    * corpus size. Distances are the in-order [[V.dist2]] fold rounded
    * to 6 dp, so both engines select identical centers.
    */
  val q208 = Q(
    "q208_kcenter_coreset",
    (s, dir) => {
      val e = Tables.emb(s, dir).select("vec_id", "embedding")
      val seed = e.orderBy("vec_id").limit(1)
      var m = Pins.pin(e.crossJoin(broadcast(seed.select(col("embedding").as("se"))))
        .select(col("vec_id"), col("embedding"),
          round(V.dist2("embedding", "se"), 6).as("md")))
      val picked = Seq.newBuilder[(Int, Long, Double)]
      picked += ((0, seed.head().getLong(0), 0.0))
      for (r <- 1 to 7) {
        val sel = m.orderBy(col("md").desc, col("vec_id")).limit(1).head()
        picked += ((r, sel.getLong(0), sel.getDouble(2)))
        val selVec = e.filter(col("vec_id") === sel.getLong(0))
          .select(col("embedding").as("se"))
        // eager checkpoint per round: each round is one O(n) pass
        // instead of re-deriving all prior rounds' distance updates
        m = Pins.pin(m.crossJoin(broadcast(selVec))
          .select(col("vec_id"), col("embedding"),
            least(col("md"), round(V.dist2("embedding", "se"), 6)).as("md")))
      }
      import s.implicits._
      picked.result().toDF("r", "vec_id", "radius").orderBy("r")
    },
    Some {
      val d2 = (a: String, b: String) => V.dist2Sql(a, b)
      val rounds = (1 to 7).map { r =>
        s"""c$r AS (SELECT vec_id, embedding, md FROM m$r
           |        ORDER BY md DESC, vec_id LIMIT 1),
           |m${r + 1} AS (SELECT m.vec_id, m.embedding,
           |    LEAST(m.md, round(${d2("m.embedding", s"c$r.embedding")}, 6)) AS md
           |  FROM m$r m, c$r)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 7).map(r =>
        s"SELECT $r AS r, vec_id, md AS radius FROM c$r").mkString("\nUNION ALL ")
      s"""WITH seed AS (SELECT vec_id, embedding FROM embeddings
         |              ORDER BY vec_id LIMIT 1),
         |m1 AS (SELECT e.vec_id, e.embedding,
         |    round(${d2("e.embedding", "seed.embedding")}, 6) AS md
         |  FROM embeddings e, seed),
         |$rounds
         |SELECT CAST(r AS INTEGER) AS r, vec_id, radius FROM (
         |  SELECT 0 AS r, vec_id, 0.0 AS radius FROM seed
         |  UNION ALL $sel)
         |ORDER BY r""".stripMargin
    })

  /** Dedup-method agreement report over the English corpus: every doc
    * is flagged by exact sha256 identity, MinHash-LSH (q41 semantics,
    * verified Jaccard ≥ 0.8), and SimHash (q42 semantics, hamming
    * ≤ 3), and the report is the Venn-cell census — the audit that
    * decides which method a 100 TB dedup run can safely skip. Exact
    * duplicates are token-set-identical, so ex ⊆ mh and ex ⊆ sh by
    * construction (CurationOps5Spec pins it).
    */
  val q209 = Q(
    "q209_dedup_method_overlap",
    (s, dir) => {
      val en = Pins.pin(Tables.docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"), col("text")))
      val exd = en.groupBy(sha2(col("text"), 256).as("h"))
        .agg(collect_list("doc_id").as("ids"), count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(explode(col("ids")).as("doc_id")).distinct()
      // pin every derived frame the plan reads from BOTH sides of a
      // self-join or along multiple method branches (r10): without
      // the checkpoints the regex tokenization re-runs ~6× (toks
      // feeds toksH/sigs/sim, each referenced twice), the per-token
      // 16-hash MinHash twice, and the md5-sorted verify arrays
      // twice — all recompute, no ReusedExchange (the branches'
      // exchange subtrees differ). Each pinned frame is Θ(docs) rows
      // of ids/hashes, the same block-manager class as `en` itself.
      val toks = Pins.pin(en.select(col("doc_id"), Portable.tokenSet(col("text")).as("toks")))
      // toksH / sigs / banded are independent siblings off the pinned
      // toks — overlap their pin jobs (guide §2.6) instead of paying
      // three serial straggler tails; frames are construction-identical
      val Seq(toksH, sigs, banded) = graft.functions.Overlap.par(s)(
        () => Pins.pin(toks.select(col("doc_id"), Portable.md5Sorted(col("toks")).as("th"))),
        () => Pins.pin(toks
          .select(col("doc_id"), explode(expr("minhash_bands(toks, 2, 8)")).as("sig"))),
        // both sides of the byte-bucket self-join
        () => Pins.pin(toks.filter(size(col("toks")) >= 1)
          .select(col("doc_id"), expr("simhash32(toks)").as("sh"))
          .withColumn("band", explode(sequence(lit(0), lit(3))))
          .withColumn("byte", expr("(sh div CAST(pow(2, band * 8) AS BIGINT)) % 256"))))
      val mpairs = sigs.alias("sa").hint("shuffle_hash")
        .join(sigs.alias("sb"),
          col("sa.sig") === col("sb.sig") && col("sa.doc_id") < col("sb.doc_id"))
        .select(col("sa.doc_id").as("a"), col("sb.doc_id").as("b")).distinct()
        .join(toksH.select(col("doc_id").as("a"), col("th").as("ta")), "a")
        .join(toksH.select(col("doc_id").as("b"), col("th").as("tb")), "b")
        .withColumn("c", expr("sorted_intersect_count(ta, tb)"))
        .filter(col("c") / (size(col("ta")) + size(col("tb")) - col("c")) >= 0.8)
      val mhd = mpairs.select(col("a").as("doc_id"))
        .union(mpairs.select(col("b").as("doc_id"))).distinct()
      val spairs = banded.alias("x").hint("shuffle_hash")
        .join(banded.alias("y"),
          col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.sh").as("sa"), col("y.sh").as("sb"))
        .distinct()
        .filter(expr("CAST(bit_count(sa ^ sb) AS INT)") <= 3)
      val shd = spairs.select(col("a").as("doc_id"))
        .union(spairs.select(col("b").as("doc_id"))).distinct()
      en.select("doc_id")
        .join(exd.withColumn("ex", lit(true)), Seq("doc_id"), "left")
        .join(mhd.withColumn("mh", lit(true)), Seq("doc_id"), "left")
        .join(shd.withColumn("sh", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("ex"), lit(false)).as("exact_dup"),
          coalesce(col("mh"), lit(false)).as("minhash_dup"),
          coalesce(col("sh"), lit(false)).as("simhash_dup"))
        .groupBy("exact_dup", "minhash_dup", "simhash_dup")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("exact_dup", "minhash_dup", "simhash_dup")
    },
    Some(s"""WITH en AS (
      |  SELECT doc_id, text FROM documents WHERE lang = 'en'),
      |exd AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, count(*) OVER (PARTITION BY sha256(text)) AS c FROM en)
      |  WHERE c >= 2),
      |toks AS (SELECT doc_id, ${Portable.tokenSetSql("text")} AS toks FROM en),
      |ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
      |mhsig AS (
      |  SELECT doc_id, seed, min(${Portable.md5LongSql("concat(seed, ':', tok)")}) AS minh
      |  FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      |  GROUP BY 1, 2),
      |sigs AS (
      |  SELECT doc_id, seed // 8 AS band,
      |    string_agg(concat(seed, ':', minh), ',' ORDER BY concat(seed, ':', minh)) AS sig
      |  FROM mhsig GROUP BY 1, 2),
      |mcand AS (
      |  SELECT DISTINCT sa.doc_id AS a, sb.doc_id AS b
      |  FROM sigs sa JOIN sigs sb
      |    ON sa.band = sb.band AND sa.sig = sb.sig AND sa.doc_id < sb.doc_id),
      |mpairs AS (
      |  SELECT a, b FROM mcand
      |  JOIN toks ta ON ta.doc_id = a JOIN toks tb ON tb.doc_id = b
      |  WHERE len(list_intersect(ta.toks, tb.toks)) /
      |        len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.8),
      |mhd AS (SELECT a AS doc_id FROM mpairs UNION SELECT b FROM mpairs),
      |bits AS (
      |  SELECT doc_id, i,
      |    2 * (((${Portable.md5LongSql("tok")} % 4294967296) // CAST(pow(2, i) AS BIGINT)) % 2) - 1 AS contrib
      |  FROM ex CROSS JOIN (SELECT unnest(range(32)) AS i) ii),
      |bal AS (SELECT doc_id, i, sum(contrib) AS bal FROM bits GROUP BY 1, 2),
      |sim AS (
      |  SELECT doc_id,
      |    CAST(sum((CASE WHEN bal >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, i) AS BIGINT)) AS BIGINT) AS sh
      |  FROM bal GROUP BY 1),
      |banded AS (
      |  SELECT doc_id, sh, band, (sh // CAST(pow(2, band * 8) AS BIGINT)) % 256 AS byte
      |  FROM sim CROSS JOIN (SELECT unnest(range(4)) AS band) bb),
      |spairs AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sh AS sa, y.sh AS sb
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id),
      |shd AS (
      |  SELECT a AS doc_id FROM spairs WHERE bit_count(xor(sa, sb)) <= 3
      |  UNION SELECT b FROM spairs WHERE bit_count(xor(sa, sb)) <= 3)
      |SELECT
      |  exd.doc_id IS NOT NULL AS exact_dup,
      |  mhd.doc_id IS NOT NULL AS minhash_dup,
      |  shd.doc_id IS NOT NULL AS simhash_dup,
      |  count(*) AS n_docs
      |FROM en
      |LEFT JOIN exd ON exd.doc_id = en.doc_id
      |LEFT JOIN mhd ON mhd.doc_id = en.doc_id
      |LEFT JOIN shd ON shd.doc_id = en.doc_id
      |GROUP BY 1, 2, 3
      |ORDER BY exact_dup, minhash_dup, simhash_dup""".stripMargin))

  val all: Vector[Q] = Vector(q206, q207, q208, q209)
}
