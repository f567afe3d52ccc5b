package graft.queries

import graft.{Q, Tables}
import graft.functions.{GeoMean, Portable}
import org.apache.spark.sql.functions._

/** Scalar functions (SURVEY.md §2.8) and the UDF surface (§2.10):
  * string, date, math, conditional, JSON, hash, regex, interval,
  * array, map and higher-order functions, edit distance, bitwise
  * aggregates and table checksums.
  */
object Scalars {

  /** Basic array-function surface over token arrays (contains /
    * position / min / max / overlap) — §2.8's non-higher-order array
    * row, all per-row projections.
    */
  val q90 = Q(
    "q90_array_basics",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Portable.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_toks"),
          array_contains(col("toks"), "data").as("has_data"),
          array_position(col("toks"), "data").as("pos_data"),
          array_min(col("toks")).as("min_tok"),
          array_max(col("toks")).as("max_tok"),
          arrays_overlap(col("toks"), array(lit("data"), lit("model"))).as("overlaps"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      |  CAST(len(toks) AS INTEGER) AS n_toks,
      |  list_contains(toks, 'data') AS has_data,
      |  CAST(COALESCE(list_position(toks, 'data'), 0) AS BIGINT) AS pos_data,
      |  list_min(toks) AS min_tok,
      |  list_max(toks) AS max_tok,
      |  len(list_intersect(toks, ['data', 'model'])) > 0 AS overlaps
      |FROM (SELECT doc_id, ${graft.functions.Portable.tokensSql("text")} AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

  /* SURVEY.md §2.8 — the scalar function library (HiveQL ∩ Spark),
    * exercised category by category: string, date/time, math,
    * conditional, JSON, hash. All built-in codegen'd functions; no UDFs.
    *
    * Cross-dialect care: DuckDB widens length/strpos/year/... to BIGINT
    * (Spark gives INT) — the oracle casts; dayofweek differs by one
    * (DuckDB Sunday=0, Spark Sunday=1).
    */

  val q28 = Q(
    "q28_string_functions",
    (s, dir) => {
      Tables.t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          lower(col("p_brand")).as("lbrand"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
          regexp_replace(col("p_type"), "a", "@").as("replaced"),
          regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).as("brand_num"),
          size(split(col("p_name"), " ")).as("n_words"),
          instr(col("p_type"), "ED").as("ed_pos"),
          translate(col("p_brand"), "#", "-").as("translated"),
          reverse(col("p_name")).as("rev_name"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
      |  upper(p_name) AS uname,
      |  lower(p_brand) AS lbrand,
      |  CAST(length(p_name) AS INTEGER) AS name_len,
      |  substr(p_type, 1, 5) AS type5,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  lpad(p_brand, 12, '*') AS padded,
      |  trim('  ' || p_brand || '  ') AS trimmed,
      |  regexp_replace(p_type, 'a', '@', 'g') AS replaced,
      |  regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num,
      |  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
      |  CAST(strpos(p_type, 'ED') AS INTEGER) AS ed_pos,
      |  translate(p_brand, '#', '-') AS translated,
      |  reverse(p_name) AS rev_name
      |FROM part
      |ORDER BY p_partkey""".stripMargin))

  val q29 = Q(
    "q29_datetime_functions",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day_str"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
          date_format(add_months(col("o_orderdate"), 2), "yyyy-MM-dd").as("plus2mo"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_epoch0"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(month(o_orderdate) AS INTEGER) AS mo,
      |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
      |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      |  strftime(o_orderdate, '%Y-%m-%d') AS day_str,
      |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
      |  strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2mo,
      |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch0,
      |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin))

  val q30 = Q(
    "q30_math_functions",
    (s, dir) => {
      Tables.t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("abs_dev"),
          ceil(col("l_extendedprice") / 100).as("price_ceil"),
          floor(col("l_extendedprice") / 100).as("price_floor"),
          round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
          round(pow(col("l_discount") + 1, 2), 6).as("disc_sq"),
          round(log(col("l_extendedprice")), 6).as("ln_price"),
          round(log10(col("l_extendedprice")), 6).as("log10_price"),
          round(exp(col("l_discount")), 6).as("exp_disc"),
          signum(col("l_quantity") - 25).cast("int").as("dev_sign"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"))
        // The synthetic lineitem has no (orderkey, linenumber) PK —
        // ~118k duplicate pairs — so sort by every base column the
        // projection derives from; any rows still tying are fully
        // identical and compare equal in any order.
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_quantity", "l_discount", "l_tax")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      |  abs(l_quantity - 25) AS abs_dev,
      |  CAST(ceil(l_extendedprice / 100) AS BIGINT) AS price_ceil,
      |  CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_floor,
      |  round(sqrt(l_extendedprice), 6) AS sqrt_price,
      |  round(pow(l_discount + 1, 2), 6) AS disc_sq,
      |  round(ln(l_extendedprice), 6) AS ln_price,
      |  round(log10(l_extendedprice), 6) AS log10_price,
      |  round(exp(l_discount), 6) AS exp_disc,
      |  CAST(sign(l_quantity - 25) AS INTEGER) AS dev_sign,
      |  l_orderkey % 7 AS key_mod,
      |  greatest(l_tax, l_discount) AS max_rate,
      |  least(l_tax, l_discount) AS min_rate
      |FROM lineitem
      |WHERE l_orderkey < 1000
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice,
      |  l_quantity, l_discount, l_tax""".stripMargin))

  /** CASE/COALESCE/NULLIF bucketing rolled into a grouped count. */
  val q31 = Q(
    "q31_conditional_buckets",
    (s, dir) => {
      Tables.t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large"))
        .withColumn("status_label",
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")))
        .groupBy("bucket", "status_label")
        .agg(count(lit(1)).as("n"),
          graft.functions.Portable.moneySum(col("o_totalprice")).as("total"))
        .orderBy("bucket", "status_label")
    },
    Some(s"""SELECT
      |  CASE WHEN o_totalprice < 50000 THEN 'small'
      |       WHEN o_totalprice < 150000 THEN 'medium'
      |       ELSE 'large' END AS bucket,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
      |  count(*) AS n, ${graft.functions.Portable.moneySumSql("o_totalprice")} AS total
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY bucket, status_label""".stripMargin))

  /** JSON extraction from events.props (reference events fixture;
    * Spark get_json_object ↔ DuckDB json_extract_string).
    */
  val q32 = Q(
    "q32_json_extract_events",
    (s, dir) => {
      // events fixture is one unsplittable parquet file; spread before
      // the per-row JSON parse (same note as Tables.docs)
      Tables.events(s, dir).repartition(s.sparkContext.defaultParallelism)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(avg("k"), 6).as("avg_k"),
          min("k").as("min_k"),
          max("k").as("max_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      |  round(avg(k), 6) AS avg_k, min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin))

  /** Hash functions: md5 / sha2-256 and the portable 60-bit md5 hash
    * primitive used by the dedup/LSH operators.
    */
  val q33 = Q(
    "q33_hash_functions",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .filter(col("c_custkey") <= 100)
        .select(
          col("c_custkey"),
          md5(col("c_name")).as("name_md5"),
          sha2(col("c_name"), 256).as("name_sha256"),
          Portable.md5Long(col("c_name")).as("name_h60"))
        .orderBy("c_custkey")
    },
    Some(s"""SELECT c_custkey,
      |  md5(c_name) AS name_md5,
      |  sha256(c_name) AS name_sha256,
      |  ${Portable.md5LongSql("c_name")} AS name_h60
      |FROM customer
      |WHERE c_custkey <= 100
      |ORDER BY c_custkey""".stripMargin))

  /** Structured extraction with regex capture groups — the log-parsing
    * shape: pull the numeric id out of the formatted key, validate the
    * format with an anchored match.
    */
  val q96 = Q(
    "q96_regexp_extract_groups",
    (s, dir) => {
      Tables.t(s, dir, "customer")
        .select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "Customer#(\\d+)", 1).as("id_str"),
          regexp_extract(col("c_name"), "Customer#(\\d+)", 1)
            .cast("long").as("id_num"),
          col("c_name").rlike("^Customer#\\d+$").as("well_formed"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
      |  regexp_extract(c_name, 'Customer#(\d+)', 1) AS id_str,
      |  CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS id_num,
      |  regexp_matches(c_name, '^Customer#\d+$') AS well_formed
      |FROM customer
      |ORDER BY c_custkey""".stripMargin))

  /** Interval arithmetic on timestamps: deadline shifting and
    * seconds-since-midnight, all as integer epoch math on both sides.
    */
  val q97 = Q(
    "q97_interval_arithmetic",
    (s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          unix_timestamp(col("ts") + expr("INTERVAL 90 MINUTES")).as("deadline_s"),
          (unix_timestamp(col("ts")) -
            unix_timestamp(date_trunc("day", col("ts")))).as("since_midnight_s"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      |  CAST(floor(epoch(ts + INTERVAL 90 MINUTE)) AS BIGINT) AS deadline_s,
      |  CAST(floor(epoch(ts)) AS BIGINT)
      |    - CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS since_midnight_s
      |FROM events
      |ORDER BY event_id""".stripMargin))

  /** The §2.8 named functions no other query exercises: initcap,
    * format_string, locate, rpad, months_between, bround (half-even),
    * log2, from_unixtime. months_between runs on month-truncated
    * dates (integer-valued, so the oracle's calendar month diff is
    * exact); bround runs on exact binary quarters (key/4) because the
    * engines disagree on non-representable halves — Spark half-evens
    * the shortest decimal string, DuckDB the binary value.
    */
  val q108 = Q(
    "q108_scalar_gapfill",
    (s, dir) => {
      // r14 (guide §2.5, the q206/q109 rule): eight per-row string/
      // format kernels cost far more than the 4 narrow input columns
      // weigh, and the sf-small file is a handful of row groups — so
      // the scan stage serializes the compute. Repartition the narrow
      // input BEFORE the kernels; the orderBy re-shuffles anyway.
      Tables.t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderstatus",
          "o_totalprice", "o_orderdate")
        .repartition(s.sparkContext.defaultParallelism)
        .select(
          col("o_orderkey"),
          initcap(lower(concat(col("o_orderpriority"), lit(" priority order"))))
            .as("pri_cap"),
          format_string("%s/%09.2f", col("o_orderstatus"), col("o_totalprice"))
            .as("status_price"),
          locate("U", col("o_orderpriority")).as("u_pos"),
          rpad(col("o_orderstatus"), 5, ".").as("status_pad"),
          months_between(trunc(col("o_orderdate"), "MM"),
            lit("1995-01-01").cast("date")).cast("int").as("months_since"),
          bround(col("o_orderkey") / 4, 1).as("key_bround"),
          round(log2(col("o_orderkey") + 1), 6).as("key_log2"),
          from_unixtime(unix_timestamp(col("o_orderdate"))).as("od_str"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
      |  array_to_string(list_transform(
      |    string_split(lower(o_orderpriority || ' priority order'), ' '),
      |    w -> upper(w[1]) || w[2:]), ' ') AS pri_cap,
      |  printf('%s/%09.2f', o_orderstatus, o_totalprice) AS status_price,
      |  CAST(strpos(o_orderpriority, 'U') AS INTEGER) AS u_pos,
      |  rpad(o_orderstatus, 5, '.') AS status_pad,
      |  CAST(date_diff('month', DATE '1995-01-01',
      |    date_trunc('month', o_orderdate)) AS INTEGER) AS months_since,
      |  round_even(o_orderkey / 4.0, 1) AS key_bround,
      |  round(log2(o_orderkey + 1), 6) AS key_log2,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_str
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin))

  /** Hive's json_tuple UDTF (one parse, many fields) — the generator
    * form of q32's get_json_object.
    */
  val q109 = Q(
    "q109_json_tuple",
    (s, dir) => {
      Tables.events(s, dir).repartition(s.sparkContext.defaultParallelism)
        .select(col("event_id"), json_tuple(col("props"), "k"))
        .toDF("event_id", "kstr")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, json_extract_string(props, '$.k') AS kstr
      |FROM events
      |ORDER BY event_id""".stripMargin))

  /** Map type + map functions (str_to_map, map_keys, map_values,
    * element access), rendered to deterministic strings so the oracle
    * can mirror them without a MAP type.
    */
  val q58 = Q(
    "q58_map_functions",
    (s, dir) => {
      Tables.events(s, dir).repartition(s.sparkContext.defaultParallelism)
        .withColumn("k", get_json_object(col("props"), "$.k"))
        // guard against props rows lacking '$.k' — the oracle emits
        // constant mkeys/msize, so a NULL k would silently diverge
        .filter(col("k").isNotNull)
        .withColumn("m", expr("str_to_map(concat('type:', event_type, ',k:', k), ',', ':')"))
        .select(
          col("event_id"),
          array_join(map_keys(col("m")), "|").as("mkeys"),
          array_join(map_values(col("m")), "|").as("mvals"),
          size(col("m")).as("msize"),
          expr("m['type']").as("mtype"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      |  'type|k' AS mkeys,
      |  event_type || '|' || json_extract_string(props, '$.k') AS mvals,
      |  2 AS msize,
      |  event_type AS mtype
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |ORDER BY event_id""".stripMargin))

  /** UDF/UDAF surface (SURVEY.md §2.10): a registered scalar Scala
    * UDF and a typed Aggregator registered through udaf(). Kept OUT
    * of other queries — built-ins codegen, UDFs don't — but the
    * registration surface itself is part of the warehouse contract
    * (Hive CREATE FUNCTION).
    */
  val q59 = Q(
    "q59_udf_udaf",
    (s, dir) => {
      s.udf.register("vowel_count", (t: String) => t.count("aeiouAEIOU".contains(_)))
      s.udf.register("geo_mean", udaf(GeoMean))
      Tables.t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          round(expr("geo_mean(l_extendedprice)"), 4).as("geomean_price"),
          sum(expr("vowel_count(l_linestatus)")).cast("long").as("status_vowels"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
      |  round(exp(avg(ln(l_extendedprice))), 4) AS geomean_price,
      |  CAST(sum(length(regexp_replace(lower(l_linestatus), '[^aeiou]', '', 'g'))) AS BIGINT)
      |    AS status_vowels
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin))

  /** Higher-order-function surface beyond transform/filter (q43-q51):
    * exists, forall, aggregate with a FINISH lambda, and the
    * index-carrying filter form — all codegen-adjacent array ops, no
    * UDF. DuckDB mirrors with list_bool_or/and and a 1-based lambda
    * index.
    */
  val q141 = Q(
    "q141_hof_exists_forall",
    (s, dir) => {
      Tables.t(s, dir, "documents")
        .withColumn("toks", graft.functions.Portable.tokens(col("text")))
        .select(
          col("doc_id"),
          expr("exists(toks, t -> t = 'join')").as("has_join"),
          expr("forall(toks, t -> length(t) >= 2)").as("all_ge2"),
          round(expr(
            "aggregate(toks, 0L, (acc, t) -> acc + length(t), acc -> CAST(acc AS DOUBLE) / size(toks))"),
            5).as("avg_tok_len"),
          expr("size(filter(toks, (t, i) -> i % 2 = 0))").as("n_even_pos"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
      |  list_bool_or(list_transform(toks, t -> t = 'join')) AS has_join,
      |  list_bool_and(list_transform(toks, t -> length(t) >= 2)) AS all_ge2,
      |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
      |    / len(toks), 5) AS avg_tok_len,
      |  CAST(len(list_filter(toks, (t, i) -> (i - 1) % 2 = 0)) AS INTEGER)
      |    AS n_even_pos
      |FROM (SELECT doc_id,
      |        ${graft.functions.Portable.tokensSql("text")} AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin))

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

  val all: Vector[Q] =
    Vector(q90, q28, q29, q30, q31, q32, q33, q96, q97, q108, q109, q58,
      q59, q141, q168, q169, q170)
}
