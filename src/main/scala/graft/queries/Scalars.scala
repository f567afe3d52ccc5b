package graft.queries

import graft.{Q, Tables}
import graft.functions.Portable
import org.apache.spark.sql.functions._

/** SURVEY.md §2.8 — the scalar function library (HiveQL ∩ Spark),
  * exercised category by category: string, date/time, math,
  * conditional, JSON, hash. All built-in codegen'd functions; no UDFs.
  *
  * Cross-dialect care: DuckDB widens length/strpos/year/... to BIGINT
  * (Spark gives INT) — the oracle casts; dayofweek differs by one
  * (DuckDB Sunday=0, Spark Sunday=1).
  */
object Scalars {

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

  val all: Vector[Q] =
    Vector(q28, q29, q30, q31, q32, q33, q96, q97, q108, q109)
}
