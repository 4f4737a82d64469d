"""Scalar + aggregate function coverage suite (SURVEY.md §2.7 / §2.4).

The reference implements ~200 scalar functions as an interpreted enum
(/root/reference/src/planner/logical_expr.rs:270-536, impls
/root/reference/src/physical/operators/filter.rs:652-5880) and ~30
aggregates (/root/reference/src/physical/operators/hash_agg.rs). Here
every function is a native `pyspark.sql.functions` call — JVM-side,
whole-stage-codegen, no Python in the hot path — grouped into one
query per family so the driver's oracle gate exercises each family
column-by-column.

Oracle strategy: DuckDB-native twin where DuckDB has the function;
otherwise the expected values are precomputed in Python (hashlib/zlib/
base64/urllib — same public algorithms both engines implement) and
embedded as literal VALUES keyed on the stable 5-row `region` table.
Transcendentals are rounded to 9 decimals on both sides: Spark (JVM
StrictMath-adjacent libm) and DuckDB (C libm) agree within 1 ulp, so
the rounded values are identical.

Scale notes: every query here is a narrow projection over a scan —
fully pushed down, codegen'd, shuffle-free (or a single partial+final
agg). At 100 TB these run at scan speed.
"""

from __future__ import annotations

import base64 as b64
import hashlib
import urllib.parse
import zlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tpch import tables

R9 = 9  # rounding for transcendental functions

REGION_NAMES = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Spark-specific hash outputs on the stable region names, captured from
# the engine itself (xxhash64 seed 42, murmur3 seed 42, soundex) —
# public algorithms; values constant across scale factors because
# region is the same 5 rows at every SF.
SPARK_XXHASH64 = {
    "AFRICA": 5725486109973355489,
    "AMERICA": -4157638607041038132,
    "ASIA": -1574007566074333807,
    "EUROPE": 7378977719125113014,
    "MIDDLE EAST": 8048878549592645346,
}
SPARK_MURMUR3 = {
    "AFRICA": 1974905347,
    "AMERICA": 364153739,
    "ASIA": -677835177,
    "EUROPE": 1752960320,
    "MIDDLE EAST": -1396081436,
}
SPARK_SOUNDEX = {
    "AFRICA": "A162",
    "AMERICA": "A562",
    "ASIA": "A200",
    "EUROPE": "E610",
    "MIDDLE EAST": "M342",
}


# --------------------------------------------------------------------------
# f_math — math function family over part (small deterministic subset)
def f_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    x = F.col("p_retailprice")
    n = F.col("p_size")
    return part.filter(F.col("p_partkey") < 10).select(
        "p_partkey",
        F.abs(-x).alias("abs_x"),
        F.ceil(x / 7).cast("bigint").alias("ceil_x"),
        F.floor(x / 7).cast("bigint").alias("floor_x"),
        F.round(x / 7, 3).alias("round_x"),
        F.pow(n, 2).alias("pow_n"),
        F.round(F.sqrt(x), R9).alias("sqrt_x"),
        F.round(F.cbrt(x), R9).alias("cbrt_x"),
        F.round(F.exp(F.lit(1.0) + n / 100), R9).alias("exp_n"),
        F.round(F.log(x), R9).alias("ln_x"),
        F.round(F.log10(x), R9).alias("log10_x"),
        F.round(F.log2(x), R9).alias("log2_x"),
        F.signum(x - 900.5).cast("int").alias("sign_x"),
        (n % 7).alias("mod_n"),
        F.pmod(-n, F.lit(7)).alias("pmod_n"),
        F.round(F.degrees(x / 1000), R9).alias("deg_x"),
        F.round(F.radians(n), R9).alias("rad_n"),
        F.round(F.lit(3.141592653589793), R9).alias("pi_v"),
        F.factorial(n % 10).alias("fact_n"),
        F.conv(n.cast("string"), 10, 16).alias("hex_n"),
    )


F_MATH_SQL = """
SELECT p_partkey,
  abs(-p_retailprice) AS abs_x,
  CAST(ceil(p_retailprice / 7) AS BIGINT) AS ceil_x,
  CAST(floor(p_retailprice / 7) AS BIGINT) AS floor_x,
  round(p_retailprice / 7, 3) AS round_x,
  pow(p_size, 2) AS pow_n,
  round(sqrt(p_retailprice), 9) AS sqrt_x,
  round(cbrt(p_retailprice), 9) AS cbrt_x,
  round(exp(1.0 + p_size / 100.0), 9) AS exp_n,
  round(ln(p_retailprice), 9) AS ln_x,
  round(log10(p_retailprice), 9) AS log10_x,
  round(log2(p_retailprice), 9) AS log2_x,
  CAST(sign(p_retailprice - 900.5) AS INT) AS sign_x,
  p_size % 7 AS mod_n,
  ((-p_size % 7) + 7) % 7 AS pmod_n,
  round(degrees(p_retailprice / 1000), 9) AS deg_x,
  round(radians(p_size), 9) AS rad_n,
  round(pi(), 9) AS pi_v,
  CAST(factorial(p_size % 10) AS BIGINT) AS fact_n,
  to_base(p_size, 16) AS hex_n
FROM part WHERE p_partkey < 10
"""


# --------------------------------------------------------------------------
# f_trig — trigonometric/hyperbolic family
def f_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    t = (F.col("p_size") % 7) * 0.2
    return part.filter(F.col("p_partkey") < 10).select(
        "p_partkey",
        F.round(F.sin(t), R9).alias("sin_t"),
        F.round(F.cos(t), R9).alias("cos_t"),
        F.round(F.tan(t), R9).alias("tan_t"),
        F.round(F.asin(t / 2), R9).alias("asin_t"),
        F.round(F.acos(t / 2), R9).alias("acos_t"),
        F.round(F.atan(t), R9).alias("atan_t"),
        F.round(F.atan2(t, F.lit(1.0)), R9).alias("atan2_t"),
        F.round(F.sinh(t), 7).alias("sinh_t"),
        F.round(F.cosh(t), 7).alias("cosh_t"),
        F.round(F.tanh(t), 7).alias("tanh_t"),
        F.round(F.cot(t + 0.1), R9).alias("cot_t"),
    )


F_TRIG_SQL = """
SELECT p_partkey,
  round(sin(t), 9) AS sin_t, round(cos(t), 9) AS cos_t,
  round(tan(t), 9) AS tan_t, round(asin(t/2), 9) AS asin_t,
  round(acos(t/2), 9) AS acos_t, round(atan(t), 9) AS atan_t,
  round(atan2(t, 1.0), 9) AS atan2_t,
  round((exp(t) - exp(-t)) / 2, 7) AS sinh_t,
  round((exp(t) + exp(-t)) / 2, 7) AS cosh_t,
  round((exp(2*t) - 1) / (exp(2*t) + 1), 7) AS tanh_t,
  round(cot(t + 0.1), 9) AS cot_t
FROM (SELECT p_partkey, (p_size % 7) * 0.2 AS t FROM part WHERE p_partkey < 10)
"""


# --------------------------------------------------------------------------
# f_string — core string family over nation
def f_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    (nation,) = tables(spark, sf_dir, "nation")
    s = F.col("n_name")
    return nation.select(
        "n_nationkey",
        F.upper(s).alias("up"),
        F.lower(s).alias("lo"),
        F.length(s).cast("bigint").alias("len"),
        F.substring(s, 1, 6).alias("sub"),
        F.concat(s, F.lit("!")).alias("cat"),
        F.concat_ws("-", s, F.lit("x"), s).alias("catws"),
        F.regexp_replace(s, "NATION", "N").alias("repl"),
        F.instr(s, "_").cast("bigint").alias("pos"),
        F.reverse(s).alias("rev"),
        F.lpad(s, 12, "*").alias("lp"),
        F.rpad(s, 12, "*").alias("rp"),
        F.substring(s, 1, 4).alias("left4"),
        F.expr("right(n_name, 3)").alias("right3"),
        F.repeat(s, 2).alias("rep2"),
        F.ascii(s).alias("asc"),
        F.chr(F.lit(65) + F.col("n_nationkey") % 26).alias("chr_c"),
        F.translate(s, "NAT", "XYZ").alias("tr"),
        F.levenshtein(s, F.lit("NATION_1")).alias("lev"),
        F.trim(F.concat(F.lit("  "), s, F.lit("  "))).alias("trm"),
        F.ltrim(F.concat(F.lit("  "), s)).alias("ltrm"),
        F.rtrim(F.concat(s, F.lit("  "))).alias("rtrm"),
        F.split_part(s, F.lit("_"), F.lit(2)).alias("sp2"),
        F.startswith(s, F.lit("NAT")).alias("sw"),
        F.endswith(s, F.lit("1")).alias("ew"),
        F.initcap(F.lower(s)).alias("ic"),
    )


F_STRING_SQL = """
SELECT n_nationkey,
  upper(n_name) AS up, lower(n_name) AS lo,
  CAST(length(n_name) AS BIGINT) AS len,
  substring(n_name, 1, 6) AS sub,
  n_name || '!' AS cat,
  concat_ws('-', n_name, 'x', n_name) AS catws,
  regexp_replace(n_name, 'NATION', 'N', 'g') AS repl,
  CAST(strpos(n_name, '_') AS BIGINT) AS pos,
  reverse(n_name) AS rev,
  lpad(n_name, 12, '*') AS lp,
  rpad(n_name, 12, '*') AS rp,
  left(n_name, 4) AS left4,
  right(n_name, 3) AS right3,
  repeat(n_name, 2) AS rep2,
  ascii(n_name) AS asc,
  chr(65 + n_nationkey % 26) AS chr_c,
  translate(n_name, 'NAT', 'XYZ') AS tr,
  levenshtein(n_name, 'NATION_1') AS lev,
  trim('  ' || n_name || '  ') AS trm,
  ltrim('  ' || n_name) AS ltrm,
  rtrim(n_name || '  ') AS rtrm,
  split_part(n_name, '_', 2) AS sp2,
  starts_with(n_name, 'NAT') AS sw,
  ends_with(n_name, '1') AS ew,
  upper(substring(lower(n_name),1,1)) || substring(lower(n_name),2) AS ic
FROM nation
"""


# --------------------------------------------------------------------------
# f_date — date extraction/arithmetic over orders
def f_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.filter(F.col("o_orderkey") < 30).select(
        "o_orderkey",
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mon"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.weekofyear(d).cast("int").alias("woy"),
        F.last_day(d).cast("string").alias("ld"),
        F.date_add(d, 30).cast("string").alias("dadd"),
        F.date_sub(d, 30).cast("string").alias("dsub"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("bigint").alias("dd"),
        F.date_trunc("month", d).cast("date").cast("string").alias("dtrunc"),
        F.add_months(d, 2).cast("string").alias("addm"),
        F.date_format(d, "yyyy-MM").alias("fmt"),
        F.date_format(d, "EEEE").alias("dname"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).cast("string").alias("mkdate"),
        F.extract(F.lit("year"), d).cast("bigint").alias("ext_yr"),
    )


F_DATE_SQL = """
SELECT o_orderkey,
  CAST(year(d) AS INT) AS yr,
  CAST(quarter(d) AS INT) AS qtr,
  CAST(month(d) AS INT) AS mon,
  CAST(day(d) AS INT) AS dom,
  CAST(dayofweek(d) + 1 AS INT) AS dow,
  CAST(dayofyear(d) AS INT) AS doy,
  CAST(weekofyear(d) AS INT) AS woy,
  CAST(last_day(d) AS VARCHAR) AS ld,
  CAST(d + 30 AS VARCHAR) AS dadd,
  CAST(d - 30 AS VARCHAR) AS dsub,
  CAST(datediff('day', DATE '1995-01-01', d) AS BIGINT) AS dd,
  CAST(CAST(date_trunc('month', d) AS DATE) AS VARCHAR) AS dtrunc,
  CAST(CAST(d + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS addm,
  strftime(d, '%Y-%m') AS fmt,
  dayname(d) AS dname,
  CAST(make_date(year(d), month(d), 1) AS VARCHAR) AS mkdate,
  CAST(extract(year FROM d) AS BIGINT) AS ext_yr
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
      FROM orders WHERE o_orderkey < 30)
"""


# --------------------------------------------------------------------------
# f_datetime — timestamp family over events (ns-parquet → µs normalize)
def f_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    ts = F.col("ts")
    return events.filter(F.col("event_id") < 20).select(
        "event_id",
        F.hour(ts).cast("int").alias("hh"),
        F.minute(ts).cast("int").alias("mi"),
        F.second(ts).cast("int").alias("ss"),
        F.date_trunc("hour", ts).alias("thour"),
        F.date_trunc("minute", ts).alias("tmin"),
        ts.cast("date").cast("string").alias("tdate"),
        F.unix_timestamp(ts.cast("timestamp")).cast("bigint").alias("unix_s"),
        F.date_format(ts, "yyyy-MM-dd HH:mm").alias("tfmt"),
        F.timestamp_micros(F.unix_timestamp(ts.cast("timestamp")) * 1000000).alias(
            "roundtrip"
        ),
    )


F_DATETIME_SQL = """
SELECT event_id,
  CAST(hour(t) AS INT) AS hh, CAST(minute(t) AS INT) AS mi,
  CAST(second(t) AS INT) AS ss,
  date_trunc('hour', t) AS thour, date_trunc('minute', t) AS tmin,
  CAST(CAST(t AS DATE) AS VARCHAR) AS tdate,
  CAST(floor(epoch(t)) AS BIGINT) AS unix_s,
  strftime(t, '%Y-%m-%d %H:%M') AS tfmt,
  to_timestamp(CAST(floor(epoch(t)) AS BIGINT))::TIMESTAMP AS roundtrip
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_id < 20)
"""


# --------------------------------------------------------------------------
# f_regex — regex family over part names
def f_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    s = F.col("p_name")
    return part.filter(F.col("p_partkey") < 25).select(
        "p_partkey",
        s.rlike("^[a-z]+ ").alias("rl"),
        F.regexp_extract(s, "([a-z]+) ([a-z]+)", 2).alias("rext"),
        F.regexp_replace(s, "[aeiou]", "#").alias("rrepl"),
        F.regexp_count(s, F.lit("[aeiou]")).cast("bigint").alias("rcnt"),
        F.split(s, " ").getItem(0).alias("rsplit0"),
        F.regexp_substr(s, F.lit("w[a-z]+")).alias("rsub"),
    )


F_REGEX_SQL = """
SELECT p_partkey,
  regexp_matches(p_name, '^[a-z]+ ') AS rl,
  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS rext,
  regexp_replace(p_name, '[aeiou]', '#', 'g') AS rrepl,
  CAST(length(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS rcnt,
  string_split_regex(p_name, ' ')[1] AS rsplit0,
  CASE WHEN regexp_extract(p_name, 'w[a-z]+') = '' THEN NULL
       ELSE regexp_extract(p_name, 'w[a-z]+') END AS rsub
FROM part WHERE p_partkey < 25
"""


# --------------------------------------------------------------------------
# f_json — JSON family over events.props ('{"k": <int>}')
def f_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    p = F.col("props")
    return events.filter(F.col("event_id") < 20).select(
        "event_id",
        F.get_json_object(p, "$.k").alias("jext"),
        F.get_json_object(p, "$.k").cast("bigint").alias("jint"),
        F.get_json_object(p, "$.missing").alias("jmiss"),
        F.json_array_length(F.concat(F.lit("[1,2,"), F.get_json_object(p, "$.k"), F.lit("]")))
        .cast("bigint")
        .alias("jalen"),
        F.schema_of_json(F.lit('{"k": 1}')).alias("jschema"),
        F.to_json(F.struct(F.col("event_id").alias("id"))).alias("jmake"),
    )


F_JSON_SQL = """
SELECT event_id,
  json_extract_string(props, '$.k') AS jext,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS jint,
  json_extract_string(props, '$.missing') AS jmiss,
  CAST(json_array_length('[1,2,' || json_extract_string(props, '$.k') || ']') AS BIGINT) AS jalen,
  'STRUCT<k: BIGINT>' AS jschema,
  '{"id":' || event_id || '}' AS jmake
FROM events WHERE event_id < 20
"""


# --------------------------------------------------------------------------
# f_array — array family (built via split/sequence; higher-order funcs).
# Array-typed outputs are serialized with to_json on BOTH sides: the
# driver's correctness comparer canonicalizes rows via pandas hashing,
# which cannot hash list cells (round-1 `unhashable type: 'list'`).
def f_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    (nation,) = tables(spark, sf_dir, "nation")
    nums = F.sequence(F.lit(1), (F.col("n_nationkey") % 5) + 2)
    words = F.split(F.col("n_name"), "_")
    return nation.select(
        "n_nationkey",
        F.size(nums).cast("bigint").alias("card"),
        F.element_at(nums, 1).alias("el1"),
        F.array_contains(nums, 3).alias("has3"),
        F.array_position(nums, 2).cast("bigint").alias("pos2"),
        F.array_max(nums).alias("amax"),
        F.array_min(nums).alias("amin"),
        F.to_json(F.sort_array(F.array_distinct(F.concat(nums, nums)))).alias("adist"),
        F.to_json(F.sort_array(F.array_union(nums, F.array(F.lit(9))))).alias("aunion"),
        F.to_json(
            F.sort_array(F.array_intersect(nums, F.sequence(F.lit(2), F.lit(4))))
        ).alias("aint"),
        F.to_json(
            F.sort_array(F.array_except(nums, F.sequence(F.lit(1), F.lit(2))))
        ).alias("aexc"),
        F.to_json(F.slice(nums, 1, 2)).alias("aslice"),
        F.array_join(words, "/").alias("ajoin"),
        F.arrays_overlap(nums, F.sequence(F.lit(4), F.lit(6))).alias("aover"),
        F.to_json(F.flatten(F.array(nums, nums))).alias("aflat"),
        F.to_json(F.reverse(nums)).alias("arev"),
        F.to_json(F.sort_array(nums, asc=False)).alias("asortd"),
        F.aggregate(nums, F.lit(0), lambda acc, x: acc + x).cast("bigint").alias("asum"),
        F.to_json(F.transform(nums, lambda x: x * 10)).alias("axform"),
        F.to_json(F.filter(nums, lambda x: x % 2 == 0)).alias("afilt"),
        F.exists(nums, lambda x: x > 4).alias("aexists"),
        F.to_json(F.zip_with(nums, nums, lambda a, b: a + b)).alias("azip"),
        F.to_json(F.array_remove(F.concat(nums, nums), 1)).alias("arem"),
        F.to_json(F.array_repeat(F.col("n_nationkey"), 2)).alias("arep"),
    )


F_ARRAY_SQL = """
SELECT n_nationkey,
  CAST(length(nums) AS BIGINT) AS card,
  nums[1] AS el1,
  list_contains(nums, 3) AS has3,
  CAST(list_position(nums, 2) AS BIGINT) AS pos2,
  list_max(nums) AS amax,
  list_min(nums) AS amin,
  CAST(to_json(list_sort(list_distinct(nums || nums))) AS VARCHAR) AS adist,
  CAST(to_json(list_sort(list_distinct(nums || [9]))) AS VARCHAR) AS aunion,
  CAST(to_json(list_sort(list_intersect(nums, [2,3,4]))) AS VARCHAR) AS aint,
  CAST(to_json(list_sort(list_filter(list_distinct(nums), x -> x NOT IN (1,2)))) AS VARCHAR) AS aexc,
  CAST(to_json(array_slice(nums, 1, 2)) AS VARCHAR) AS aslice,
  array_to_string(string_split(n_name, '_'), '/') AS ajoin,
  length(list_intersect(nums, [4,5,6])) > 0 AS aover,
  CAST(to_json(nums || nums) AS VARCHAR) AS aflat,
  CAST(to_json(list_reverse(nums)) AS VARCHAR) AS arev,
  CAST(to_json(list_sort(nums, 'DESC')) AS VARCHAR) AS asortd,
  CAST(list_aggregate(nums, 'sum') AS BIGINT) AS asum,
  CAST(to_json(list_transform(nums, x -> x * 10)) AS VARCHAR) AS axform,
  CAST(to_json(list_filter(nums, x -> x % 2 = 0)) AS VARCHAR) AS afilt,
  length(list_filter(nums, x -> x > 4)) > 0 AS aexists,
  CAST(to_json(list_transform(nums, x -> x + x)) AS VARCHAR) AS azip,
  CAST(to_json(list_filter(nums || nums, x -> x <> 1)) AS VARCHAR) AS arem,
  CAST(to_json([n_nationkey, n_nationkey]) AS VARCHAR) AS arep
FROM (SELECT n_nationkey, n_name,
             generate_series(1, (n_nationkey % 5) + 2) AS nums
      FROM nation)
"""


# --------------------------------------------------------------------------
# f_hash — hash/encoding family; Spark-only algorithms via literal oracle
def f_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (region,) = tables(spark, sf_dir, "region")
    s = F.col("r_name")
    return region.select(
        "r_name",
        F.md5(s.cast("binary")).alias("h_md5"),
        F.sha2(s.cast("binary"), 256).alias("h_sha256"),
        F.sha1(s.cast("binary")).alias("h_sha1"),
        F.crc32(s.cast("binary")).alias("h_crc32"),
        F.xxhash64(s).alias("h_xx64"),
        F.hash(s).alias("h_murmur3"),
        F.soundex(s).alias("h_sdx"),
        F.base64(s.cast("binary")).alias("e_b64"),
        F.unbase64(F.base64(s.cast("binary"))).cast("string").alias("e_b64rt"),
        F.hex(s.cast("binary")).alias("e_hex"),
        F.unhex(F.hex(s.cast("binary"))).cast("string").alias("e_hexrt"),
    )


def _f_hash_oracle() -> str:
    rows = []
    for name in REGION_NAMES:
        b = name.encode()
        rows.append(
            "('{0}', '{1}', '{2}', '{3}', {4}, {5}, {6}, '{7}', '{8}', '{9}', '{10}', '{11}')".format(
                name,
                hashlib.md5(b).hexdigest(),
                hashlib.sha256(b).hexdigest(),
                hashlib.sha1(b).hexdigest(),
                zlib.crc32(b),
                SPARK_XXHASH64[name],
                SPARK_MURMUR3[name],
                SPARK_SOUNDEX[name],
                b64.b64encode(b).decode(),
                name,
                b.hex().upper(),
                name,
            )
        )
    return (
        "SELECT * FROM (VALUES {0}) AS t(r_name, h_md5, h_sha256, h_sha1, h_crc32, "
        "h_xx64, h_murmur3, h_sdx, e_b64, e_b64rt, e_hex, e_hexrt)".format(",".join(rows))
    )


# --------------------------------------------------------------------------
# f_url — URL family (no DuckDB equivalent → literal oracle)


def f_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    (region,) = tables(spark, sf_dir, "region")
    low = F.regexp_replace(F.lower(F.col("r_name")), " ", "-")
    key = F.col("r_regionkey").cast("string")
    url = F.concat(
        F.lit("https://example.com:8080/path/"), low,
        F.lit("?q="), low, F.lit("&lang=en#frag"), key,
    )
    return region.select(
        "r_name",
        F.parse_url(url, F.lit("HOST")).alias("u_host"),
        F.parse_url(url, F.lit("PATH")).alias("u_path"),
        F.parse_url(url, F.lit("PROTOCOL")).alias("u_proto"),
        F.parse_url(url, F.lit("QUERY")).alias("u_query"),
        F.parse_url(url, F.lit("REF")).alias("u_frag"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("u_param"),
        F.url_encode(F.concat(F.col("r_name"), F.lit(" & co/1"))).alias("u_enc"),
        F.url_decode(F.url_encode(F.col("r_name"))).alias("u_dec"),
    )


def _f_url_oracle() -> str:
    rows = []
    for i, name in enumerate(REGION_NAMES):
        low = name.lower().replace(" ", "-")
        enc = urllib.parse.quote_plus(f"{name} & co/1")
        rows.append(
            f"('{name}', 'example.com', '/path/{low}', 'https', "
            f"'q={low}&lang=en', 'frag{i}', '{low}', '{enc}', '{name}')"
        )
    return (
        "SELECT * FROM (VALUES {0}) AS t(r_name, u_host, u_path, u_proto, u_query, "
        "u_frag, u_param, u_enc, u_dec)".format(",".join(rows))
    )


# --------------------------------------------------------------------------
# f_conditional — CASE/IF/COALESCE/NULLIF/GREATEST/LEAST/TRY over supplier
def f_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    (supplier,) = tables(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    k = F.col("s_suppkey")
    return supplier.filter(k < 25).select(
        "s_suppkey",
        F.when(bal > 5000, "high").when(bal > 1000, "mid").otherwise("low").alias("c_case"),
        F.coalesce(F.nullif(F.col("s_name"), F.col("s_name")), F.lit("fallback")).alias(
            "c_coalesce"
        ),
        F.nullif((k % 3).cast("bigint"), F.lit(0)).alias("c_nullif"),
        F.greatest(bal, F.lit(100.0), (k * 1000).cast("double")).alias("c_greatest"),
        F.least(bal, F.lit(100.0), (k * 1000).cast("double")).alias("c_least"),
        F.expr("if(s_acctbal < 0, 'neg', 'pos')").alias("c_if"),
        F.try_divide(bal, (k % 2).cast("double")).alias("c_trydiv"),
        F.expr("try_cast(s_name AS DOUBLE)").alias("c_trycast"),
        bal.isNull().alias("c_isnull"),
        bal.isNotNull().alias("c_isnotnull"),
        F.isnan(F.lit(float("nan"))).alias("c_isnan"),
        (F.lit(float("inf")) > F.lit(1.0e308)).alias("c_isinf"),
    )


F_CONDITIONAL_SQL = """
SELECT s_suppkey,
  CASE WHEN s_acctbal > 5000 THEN 'high' WHEN s_acctbal > 1000 THEN 'mid'
       ELSE 'low' END AS c_case,
  coalesce(nullif(s_name, s_name), 'fallback') AS c_coalesce,
  nullif(CAST(s_suppkey % 3 AS BIGINT), 0) AS c_nullif,
  greatest(s_acctbal, 100.0, CAST(s_suppkey * 1000 AS DOUBLE)) AS c_greatest,
  least(s_acctbal, 100.0, CAST(s_suppkey * 1000 AS DOUBLE)) AS c_least,
  CASE WHEN s_acctbal < 0 THEN 'neg' ELSE 'pos' END AS c_if,
  CASE WHEN s_suppkey % 2 = 0 THEN NULL
       ELSE s_acctbal / (s_suppkey % 2) END AS c_trydiv,
  try_cast(s_name AS DOUBLE) AS c_trycast,
  s_acctbal IS NULL AS c_isnull,
  s_acctbal IS NOT NULL AS c_isnotnull,
  isnan('nan'::DOUBLE) AS c_isnan,
  isinf('inf'::DOUBLE) AS c_isinf
FROM supplier WHERE s_suppkey < 25
"""


# --------------------------------------------------------------------------
# f_bitwise — bitwise family
def f_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    (nation,) = tables(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return nation.select(
        "n_nationkey",
        k.bitwiseAND(F.lit(3)).alias("b_and"),
        k.bitwiseOR(F.lit(8)).alias("b_or"),
        k.bitwiseXOR(F.lit(5)).alias("b_xor"),
        F.bitwise_not(k.cast("long")).alias("b_not"),
        F.shiftleft(k, 2).cast("bigint").alias("b_shl"),
        F.shiftright(k, 1).cast("bigint").alias("b_shr"),
        F.bit_count(k).cast("int").alias("b_cnt"),
        F.expr("getbit(n_nationkey, 0)").cast("int").alias("b_get"),
    )


F_BITWISE_SQL = """
SELECT n_nationkey,
  n_nationkey & 3 AS b_and,
  n_nationkey | 8 AS b_or,
  xor(n_nationkey, 5) AS b_xor,
  CAST(~n_nationkey AS BIGINT) AS b_not,
  CAST(n_nationkey << 2 AS BIGINT) AS b_shl,
  CAST(n_nationkey >> 1 AS BIGINT) AS b_shr,
  CAST(bit_count(n_nationkey) AS INT) AS b_cnt,
  CAST(n_nationkey & 1 AS INT) AS b_get
FROM nation
"""


# --------------------------------------------------------------------------
# f_agg_stats — statistical aggregates; oracle uses explicit moment
# formulas where DuckDB's bias-correction differs from Spark's
# population formulas (skewness/kurtosis).
def f_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    li = lineitem.filter(F.col("l_orderkey") < 1000)
    x = F.col("l_extendedprice")
    q = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp(x), 4).alias("sd_samp"),
            F.round(F.stddev_pop(x), 4).alias("sd_pop"),
            F.round(F.var_samp(x), 2).alias("v_samp"),
            F.round(F.var_pop(x), 2).alias("v_pop"),
            F.round(F.corr(x, q), 6).alias("corr_xq"),
            F.round(F.covar_pop(x, q), 4).alias("cv_pop"),
            F.round(F.covar_samp(x, q), 4).alias("cv_samp"),
            F.round(F.skewness(x), 6).alias("skew_x"),
            F.round(F.kurtosis(x), 6).alias("kurt_x"),
            F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("r_slope"),
            F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias("r_icept"),
            F.expr("regr_count(l_extendedprice, l_quantity)").cast("bigint").alias("r_count"),
            F.round(F.expr("regr_avgx(l_extendedprice, l_quantity)"), 6).alias("r_avgx"),
            F.round(F.expr("regr_avgy(l_extendedprice, l_quantity)"), 6).alias("r_avgy"),
        )
        .orderBy("l_returnflag")
    )


F_AGG_STATS_SQL = """
SELECT l_returnflag,
  round(stddev_samp(x), 4) AS sd_samp,
  round(stddev_pop(x), 4) AS sd_pop,
  round(var_samp(x), 2) AS v_samp,
  round(var_pop(x), 2) AS v_pop,
  round(corr(x, q), 6) AS corr_xq,
  round(covar_pop(x, q), 4) AS cv_pop,
  round(covar_samp(x, q), 4) AS cv_samp,
  round(avg((x - mx)*(x - mx)*(x - mx)) / pow(stddev_pop(x), 3), 6) AS skew_x,
  round(avg((x - mx)*(x - mx)*(x - mx)*(x - mx)) / pow(var_pop(x), 2) - 3, 6) AS kurt_x,
  round(regr_slope(x, q), 4) AS r_slope,
  round(regr_intercept(x, q), 4) AS r_icept,
  CAST(regr_count(x, q) AS BIGINT) AS r_count,
  round(regr_avgx(x, q), 6) AS r_avgx,
  round(regr_avgy(x, q), 6) AS r_avgy
FROM (
  SELECT l_returnflag, l_extendedprice AS x, l_quantity AS q,
         avg(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mx
  FROM lineitem WHERE l_orderkey < 1000
)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# f_agg_misc — bool/positional/conditional aggregates + listagg
def f_agg_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation, supplier = tables(spark, sf_dir, "nation", "supplier")
    j = supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
    return (
        j.groupBy("n_regionkey")
        .agg(
            F.count_if(F.col("s_acctbal") > 5000).cast("bigint").alias("cnt_if"),
            F.bool_and(F.col("s_acctbal") > -2000).alias("ball"),
            F.bool_or(F.col("s_acctbal") > 9000).alias("bany"),
            F.any_value(F.col("n_regionkey")).cast("bigint").alias("anyv"),
            F.min_by(F.col("s_name"), F.col("s_suppkey")).alias("minby"),
            F.max_by(F.col("s_name"), F.col("s_suppkey")).alias("maxby"),
            F.array_join(F.sort_array(F.collect_list(F.col("n_name"))), ",").alias("lagg"),
            F.round(F.exp(F.avg(F.log(F.col("s_acctbal") + 20000))), 6).alias("geomean"),
            F.bit_and(F.col("s_suppkey")).cast("bigint").alias("bw_and"),
            F.bit_or(F.col("s_suppkey")).cast("bigint").alias("bw_or"),
            F.bit_xor(F.col("s_suppkey")).cast("bigint").alias("bw_xor"),
            F.countDistinct(F.col("n_name")).alias("cntd"),
            F.first(F.col("n_regionkey"), ignorenulls=True).cast("bigint").alias("arb"),
        )
        .orderBy("n_regionkey")
    )


F_AGG_MISC_SQL = """
SELECT n_regionkey,
  CAST(count_if(s_acctbal > 5000) AS BIGINT) AS cnt_if,
  bool_and(s_acctbal > -2000) AS ball,
  bool_or(s_acctbal > 9000) AS bany,
  CAST(any_value(n_regionkey) AS BIGINT) AS anyv,
  min_by(s_name, s_suppkey) AS minby,
  max_by(s_name, s_suppkey) AS maxby,
  string_agg(n_name, ',' ORDER BY n_name) AS lagg,
  round(exp(avg(ln(s_acctbal + 20000))), 6) AS geomean,
  CAST(bit_and(s_suppkey) AS BIGINT) AS bw_and,
  CAST(bit_or(s_suppkey) AS BIGINT) AS bw_or,
  CAST(bit_xor(s_suppkey) AS BIGINT) AS bw_xor,
  CAST(count(DISTINCT n_name) AS BIGINT) AS cntd,
  CAST(any_value(n_regionkey) AS BIGINT) AS arb
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


# --------------------------------------------------------------------------
# f_percentiles — exact percentile/median (approx variants are in
# f_approx with a rows-only check: approximation differs by engine)
def f_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_linestatus")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
            F.round(F.median(F.col("l_quantity")), 6).alias("med"),
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25_price"),
        )
        .orderBy("l_linestatus")
    )


F_PERCENTILES_SQL = """
SELECT l_linestatus,
  round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS p50,
  round(CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE), 6) AS p90,
  round(CAST(median(l_quantity) AS DOUBLE), 6) AS med,
  round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 4) AS p25_price
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --------------------------------------------------------------------------
# f_approx — approximate aggregates. Engine-specific sketches (HLL++ vs
# DuckDB's HLL; GK vs t-digest) produce different estimates by design,
# so these get the rows-only check; exactness is bounded by the
# f_percentiles / f_agg_misc exact twins.
def f_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_nd"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("approx_p50"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# f_decimal — Decimal128(38,10) arithmetic parity. The reference's value
# domain pins Decimal128(38,10) (logical_expr.rs:50); testdata money
# columns are doubles, so cast to decimal first and compare exact
# decimal semantics (no float rounding anywhere). Two dialect drifts
# are avoided deliberately: decimal division rounding (Spark HALF_UP
# at result scale, DuckDB truncates — use an exactly-representable
# divisor) and decimal->int (Spark truncates, DuckDB rounds — use
# explicit floor).
def f_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(38,10)")
    k = F.col("o_orderkey")
    return orders.filter(k < 20).select(
        "o_orderkey",
        d.cast("string").alias("dec_v"),
        (d + F.lit("0.1").cast("decimal(38,10)")).cast("decimal(38,10)")
        .cast("string").alias("dec_add"),
        (d * F.lit(3)).cast("decimal(38,10)").cast("string").alias("dec_mul"),
        (d / F.lit(8)).cast("decimal(38,10)").cast("string").alias("dec_div"),
        F.round(d, 2).cast("decimal(38,2)").cast("string").alias("dec_round"),
        F.floor(d).cast("bigint").alias("dec_toint"),
        F.lit("123456789012345678.1234567890").cast("decimal(38,10)")
        .cast("string").alias("dec_big"),
    )


F_DECIMAL_SQL = """
SELECT o_orderkey,
  CAST(d AS VARCHAR) AS dec_v,
  CAST(CAST(d + CAST('0.1' AS DECIMAL(38,10)) AS DECIMAL(38,10)) AS VARCHAR) AS dec_add,
  CAST(CAST(d * 3 AS DECIMAL(38,10)) AS VARCHAR) AS dec_mul,
  CAST(CAST(d / 8 AS DECIMAL(38,10)) AS VARCHAR) AS dec_div,
  CAST(CAST(round(d, 2) AS DECIMAL(38,2)) AS VARCHAR) AS dec_round,
  CAST(floor(d) AS BIGINT) AS dec_toint,
  CAST(CAST('123456789012345678.1234567890' AS DECIMAL(38,10)) AS VARCHAR) AS dec_big
FROM (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,10)) AS d
      FROM orders WHERE o_orderkey < 20)
"""


# --------------------------------------------------------------------------
# f_datetime2 — Trino date/time spellings the reference exposes as
# functions (DAY_OF_WEEK/DOY/WEEK_OF_YEAR/YEAR_OF_WEEK/MILLISECOND/
# TIMEZONE_HOUR — filter.rs:1799, 3566-3609; DATE_PARSE/PARSE_DATETIME —
# filter.rs:3877-3997). All resolve through compat.register_all: the
# date spellings are Catalyst-inlined SQL UDFs; the two parsers are
# Arrow-batched pandas UDFs (format strings are data-dependent).
def f_datetime2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import compat

    compat.register_all(spark)
    (events,) = tables(spark, sf_dir, "events")
    ev = events.filter(F.col("event_id") < 25).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("t"),
        F.col("ts").cast("date").alias("d"),
    )
    return ev.selectExpr(
        "event_id",
        "day_of_week(d) AS dw",
        "day_of_year(d) AS dy",
        "week_of_year(d) AS woy",
        "year_of_week(d) AS yow",
        "millisecond(t) AS ms",
        "timezone_hour(t) AS tzh",
        "timezone_minute(t) AS tzm",
        "CAST(date_parse(date_format(t, 'yyyy-MM-dd HH:mm:ss'), "
        "'%Y-%m-%d %H:%i:%s') AS STRING) AS dparse",
        "CAST(parse_datetime(date_format(t, 'yyyy-MM-dd HH:mm'), "
        "'yyyy-MM-dd HH:mm') AS STRING) AS pdt",
    )


F_DATETIME2_SQL = """
SELECT event_id,
  CAST(dayofweek(d) + 1 AS INT) AS dw,
  CAST(dayofyear(d) AS INT) AS dy,
  CAST(weekofyear(d) AS INT) AS woy,
  CAST(isoyear(d) AS INT) AS yow,
  CAST(millisecond(t) % 1000 AS INT) AS ms,
  CAST(0 AS INT) AS tzh,
  CAST(0 AS INT) AS tzm,
  CAST(strptime(strftime(t, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS VARCHAR) AS dparse,
  CAST(strptime(strftime(t, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M') AS VARCHAR) AS pdt
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS t, CAST(ts AS DATE) AS d
      FROM events WHERE event_id < 25)
"""


# --------------------------------------------------------------------------
# f_misc — remaining native-function parity: WIDTH_BUCKET, FORMAT /
# FORMAT_NUMBER, FROM_BASE/TO_BASE roundtrip, CHAR_LENGTH/SUBSTR/
# POSITION spellings, CHR, REPEAT, LEFT/RIGHT
# (logical_expr.rs:272-536 families).
def f_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") < 25).selectExpr(
        "p_partkey",
        "CAST(width_bucket(p_retailprice, 0.0D, 2000.0D, 10) AS BIGINT) AS wb",
        "format_number(p_retailprice, 2) AS fnum",
        "format_string('%s has %d', p_name, p_size) AS fstr",
        "CAST(conv('ff', 16, 10) AS BIGINT) AS fbase",
        "lower(conv(CAST(p_size AS STRING), 10, 36)) AS tbase",
        "CAST(char_length(p_name) AS BIGINT) AS clen",
        "substr(p_name, 3, 6) AS sub36",
        "CAST(position('o' IN p_name) AS BIGINT) AS pos_o",
        "chr(65 + p_partkey % 26) AS ch",
        "repeat('ab', CAST(p_size % 4 AS INT)) AS rep",
        "left(p_name, 5) AS l5",
        "right(p_name, 5) AS r5",
    )


F_MISC_SQL = """
SELECT p_partkey,
  CASE WHEN p_retailprice < 0 THEN 0 WHEN p_retailprice >= 2000 THEN 11
       ELSE CAST(floor(p_retailprice / 200) + 1 AS BIGINT) END AS wb,
  format('{:,}', CAST(floor(p_retailprice) AS BIGINT)) || '.' ||
    lpad(CAST(CAST(round(p_retailprice * 100) AS BIGINT) % 100 AS VARCHAR), 2, '0') AS fnum,
  printf('%s has %d', p_name, p_size) AS fstr,
  CAST(255 AS BIGINT) AS fbase,
  lower(to_base(p_size, 36)) AS tbase,
  CAST(length(p_name) AS BIGINT) AS clen,
  substr(p_name, 3, 6) AS sub36,
  CAST(position('o' IN p_name) AS BIGINT) AS pos_o,
  chr(CAST(65 + p_partkey % 26 AS INTEGER)) AS ch,
  repeat('ab', p_size % 4) AS rep,
  left(p_name, 5) AS l5,
  right(p_name, 5) AS r5
FROM part WHERE p_partkey < 25
"""


def f_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type function family: construction (create_map /
    map_from_arrays / map_from_entries), access (element_at,
    map_contains_key), introspection (map_keys / map_values / size),
    and transformation (map_concat, map_filter, transform_values) —
    the map surface f_array's HOF pack doesn't touch. Dialect note:
    DuckDB map extraction returns a single-element LIST (m['k'][1]
    unwraps) and lacks map_filter/transform_values, so the oracle
    expresses those over map_values lists — same values, sorted."""
    (nation,) = tables(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("nk"), F.col("n_nationkey").cast("long"),
        F.lit("rk"), F.col("n_regionkey").cast("long"),
    )
    mc = F.map_concat(
        m, F.create_map(F.lit("x2"), (F.col("n_nationkey") * 2).cast("long"))
    )
    mfa = F.map_from_arrays(
        F.array(F.lit("a"), F.lit("b")),
        F.array(F.col("n_nationkey").cast("long"), F.lit(7).cast("long")),
    )
    mfe = F.map_from_entries(
        F.array(F.struct(F.lit("only").alias("k"), F.col("n_regionkey").cast("long").alias("v")))
    )
    return nation.select(
        "n_nationkey",
        F.to_json(F.sort_array(F.map_keys(mc))).alias("mkeys"),
        F.aggregate(F.map_values(m), F.lit(0).cast("long"), lambda a, x: a + x)
        .alias("vsum"),
        F.element_at(m, F.lit("nk")).alias("get_nk"),
        F.map_contains_key(m, F.lit("rk")).alias("has_rk"),
        F.map_contains_key(m, F.lit("zz")).alias("has_zz"),
        F.size(mc).cast("bigint").alias("msize"),
        F.element_at(mc, F.lit("x2")).alias("get_x2"),
        F.to_json(
            F.sort_array(F.map_values(F.map_filter(mc, lambda k, v: v % 2 == 0)))
        ).alias("even_vals"),
        F.aggregate(
            F.map_values(F.transform_values(m, lambda k, v: v + 1)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("vsum_plus"),
        F.element_at(mfa, F.lit("a")).alias("mfa_a"),
        F.element_at(mfe, F.lit("only")).alias("mfe_only"),
    ).orderBy("n_nationkey")


F_MAP_SQL = """
WITH base AS (
  SELECT n_nationkey,
    map(['nk','rk'], [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)]) AS m,
    map_concat(
      map(['nk','rk'], [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)]),
      map(['x2'], [CAST(n_nationkey * 2 AS BIGINT)])) AS mc,
    map(['a','b'], [CAST(n_nationkey AS BIGINT), CAST(7 AS BIGINT)]) AS mfa,
    map_from_entries([{'k': 'only', 'v': CAST(n_regionkey AS BIGINT)}]) AS mfe
  FROM nation
)
SELECT n_nationkey,
  to_json(list_sort(map_keys(mc))) AS mkeys,
  CAST(list_aggregate(map_values(m), 'sum') AS BIGINT) AS vsum,
  m['nk'][1] AS get_nk,
  len(m['rk']) > 0 AS has_rk,
  len(m['zz']) > 0 AS has_zz,
  CAST(cardinality(mc) AS BIGINT) AS msize,
  mc['x2'][1] AS get_x2,
  to_json(list_sort(list_filter(map_values(mc), x -> x % 2 = 0))) AS even_vals,
  CAST(list_aggregate(list_transform(map_values(m), x -> x + 1), 'sum') AS BIGINT) AS vsum_plus,
  mfa['a'][1] AS mfa_a,
  mfe['only'][1] AS mfe_only
FROM base ORDER BY n_nationkey
"""


def f_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: parse_json into the binary
    semi-structured type, typed path extraction (variant_get),
    schema_of_variant introspection, try_parse_json null-safety, and
    a variant round-trip through to_json — over the events table's
    JSON props column. The engine's answer to open-schema columns:
    parse once, extract typed fields at scan speed. Oracle: DuckDB's
    JSON path functions produce the same typed values."""
    (events,) = tables(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (
        events.filter(F.col("event_id") < 200)
        .select(
            "event_id",
            F.variant_get(v, "$.k", "bigint").alias("k_int"),
            F.variant_get(v, "$.k", "string").alias("k_str"),
            F.variant_get(v, "$.missing", "bigint").alias("k_missing"),
            F.schema_of_variant(v).alias("vschema"),
            F.to_json(v).alias("roundtrip"),
            F.is_variant_null(F.try_parse_json(F.lit("null"))).alias("null_variant"),
            F.try_parse_json(F.lit("not json")).isNull().alias("bad_parse"),
        )
        .orderBy("event_id")
    )


F_VARIANT_SQL = """
SELECT event_id,
  CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
  CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) AS k_str,
  CAST(NULL AS BIGINT) AS k_missing,
  'OBJECT<k: BIGINT>' AS vschema,
  '{"k":' || CAST(json_extract(props, '$.k') AS BIGINT) || '}' AS roundtrip,
  TRUE AS null_variant,
  TRUE AS bad_parse
FROM events WHERE event_id < 200 ORDER BY event_id
"""


def f_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/table-function surface: posexplode (element +
    ordinal), explode_outer (empty arrays keep their row), inline
    (array<struct> to columns), and stack (columns to rows) — the
    row-producing operators behind every flatten step. One Generate
    node each; DuckDB replays them with unnest/range indexing."""
    (nation,) = tables(spark, sf_dir, "nation")
    nums = F.sequence(F.lit(1), (F.col("n_nationkey") % 3))  # empty when key%3==0
    nums_safe = F.when(F.col("n_nationkey") % 3 == 0, F.array().cast("array<bigint>")).otherwise(nums.cast("array<bigint>"))
    pairs = F.array(
        F.struct(F.lit("lo").alias("tag"), F.col("n_nationkey").alias("val")),
        F.struct(F.lit("hi").alias("tag"), (F.col("n_nationkey") * 10).alias("val")),
    )
    pos = (
        nation.select("n_nationkey", F.posexplode(nums_safe).alias("pos", "elem"))
        .select("n_nationkey", F.col("pos").cast("bigint").alias("pos"), "elem")
    )
    outer = nation.select(
        "n_nationkey", F.explode_outer(nums_safe).alias("elem")
    ).select("n_nationkey", F.lit(-1).cast("bigint").alias("pos"),
             F.coalesce(F.col("elem"), F.lit(-99)).alias("elem"))
    inl = nation.select("n_nationkey", F.inline(pairs)).select(
        "n_nationkey",
        F.lit(-2).cast("bigint").alias("pos"),
        F.when(F.col("tag") == "hi", F.col("val")).otherwise(-F.col("val")).cast("bigint").alias("elem"),
    )
    stacked = nation.select(
        "n_nationkey",
        F.expr("stack(2, -3L, n_nationkey * 100L, -4L, n_regionkey * 100L) AS (pos, elem)"),
    ).select("n_nationkey", "pos", F.col("elem").cast("bigint").alias("elem"))
    return (
        pos.unionByName(outer).unionByName(inl).unionByName(stacked)
        .orderBy("n_nationkey", "pos", "elem")
    )


F_GENERATOR_SQL = """
WITH base AS (
  SELECT n_nationkey, n_regionkey, n_nationkey % 3 AS n_el FROM nation
), pos AS (
  SELECT n_nationkey, CAST(g.i AS BIGINT) AS pos, CAST(g.i + 1 AS BIGINT) AS elem
  FROM base CROSS JOIN (SELECT unnest(range(2)) AS i) g
  WHERE g.i < n_el
), outer_e AS (
  SELECT n_nationkey, CAST(-1 AS BIGINT) AS pos,
         CAST(CASE WHEN n_el = 0 THEN -99 ELSE g.i + 1 END AS BIGINT) AS elem
  FROM base CROSS JOIN (SELECT unnest(range(2)) AS i) g
  WHERE g.i < n_el OR (n_el = 0 AND g.i = 0)
), inl AS (
  SELECT n_nationkey, CAST(-2 AS BIGINT) AS pos,
         CAST(CASE WHEN t.tag = 'hi' THEN n_nationkey * 10
                   ELSE -n_nationkey END AS BIGINT) AS elem
  FROM base CROSS JOIN (SELECT unnest(['lo','hi']) AS tag) t
), stacked AS (
  SELECT n_nationkey, CAST(-3 AS BIGINT) AS pos,
         CAST(n_nationkey * 100 AS BIGINT) AS elem FROM base
  UNION ALL
  SELECT n_nationkey, CAST(-4 AS BIGINT), CAST(n_regionkey * 100 AS BIGINT) FROM base
)
SELECT * FROM (
  SELECT * FROM pos UNION ALL SELECT * FROM outer_e
  UNION ALL SELECT * FROM inl UNION ALL SELECT * FROM stacked
) ORDER BY n_nationkey, pos, elem
"""


def f_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML function surface: from_xml schema-directed parsing plus the
    xpath_* extraction family, over XML documents constructed from
    nation rows (so the oracle can derive every extracted value
    closed-form — DuckDB has no XML type). Round-trip property: what
    we serialize, both parse paths recover identically."""
    (nation,) = tables(spark, sf_dir, "nation")
    x = F.concat(
        F.lit("<nation><key>"), F.col("n_nationkey"),
        F.lit("</key><region>"), F.col("n_regionkey"),
        F.lit('</region><name lang="en">'), F.col("n_name"),
        F.lit("</name></nation>"),
    )
    parsed = F.from_xml(x, "key BIGINT, region BIGINT, name STRING")
    return nation.select(
        "n_nationkey",
        parsed.getField("key").alias("p_key"),
        parsed.getField("name").alias("p_name"),
        F.xpath_long(x, F.lit("/nation/key")).alias("x_key"),
        F.xpath_string(x, F.lit("/nation/name")).alias("x_name"),
        F.xpath_string(x, F.lit("/nation/name/@lang")).alias("x_attr"),
        (F.xpath_long(x, F.lit("/nation/region")) * 2).alias("x_region2"),
        F.xpath(x, F.lit("/nation/*/text()")).getItem(0).alias("x_first"),
    ).orderBy("n_nationkey")


F_XML_SQL = """
SELECT n_nationkey,
  CAST(n_nationkey AS BIGINT) AS p_key,
  n_name AS p_name,
  CAST(n_nationkey AS BIGINT) AS x_key,
  n_name AS x_name,
  'en' AS x_attr,
  CAST(n_regionkey * 2 AS BIGINT) AS x_region2,
  CAST(n_nationkey AS VARCHAR) AS x_first
FROM nation ORDER BY n_nationkey
"""


def f_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation surface: UTF8_LCASE case-insensitive
    comparison semantics applied per-expression via collate() —
    grouping, equality, and containment collapse case variants
    without rewriting data through lower(). Mixed-case strings are
    manufactured from customer market segments (initcap vs upper vs
    raw); the oracle reproduces the semantics with lower() — the
    point being that collation gives the OPTIMIZER the same
    semantics declaratively. collation() introspects the assigned
    collator."""
    (customer,) = tables(spark, sf_dir, "customer")
    seg = F.when(
        F.col("c_custkey") % 3 == 0, F.initcap(F.lower(F.col("c_mktsegment")))
    ).when(F.col("c_custkey") % 3 == 1, F.lower(F.col("c_mktsegment"))).otherwise(
        F.col("c_mktsegment")
    )
    base = customer.filter(F.col("c_custkey") < 600).select(seg.alias("seg"))
    grouped = (
        base.groupBy(F.collate(F.col("seg"), "UTF8_LCASE").alias("seg_ci"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grouped.select(
        F.lower(F.col("seg_ci")).alias("seg"),
        "n",
        (F.collate(F.col("seg_ci"), "UTF8_LCASE") == F.lit("building")).alias(
            "is_building"
        ),
        F.contains(
            F.collate(F.col("seg_ci"), "UTF8_LCASE"), F.lit("MACH")
        ).alias("has_mach"),
        F.collation(F.collate(F.col("seg_ci"), "UTF8_LCASE")).alias("coll"),
    ).orderBy("seg")


F_COLLATION_SQL = """
WITH seg AS (
  SELECT CASE WHEN c_custkey % 3 = 0
              THEN upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
              WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg
  FROM customer WHERE c_custkey < 600
)
SELECT lower(seg) AS seg, CAST(COUNT(*) AS BIGINT) AS n,
  lower(seg) = 'building' AS is_building,
  contains(lower(seg), lower('MACH')) AS has_mach,
  'SYSTEM.BUILTIN.UTF8_LCASE' AS coll
FROM seg GROUP BY lower(seg)
ORDER BY seg
"""


def f_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL arithmetic family (Spark 4 ANSI intervals): timestamp ±
    day-time intervals, date + year-month intervals, make_dt_interval /
    make_ym_interval constructors, and timestampdiff extraction at
    multiple units. Interval values never cross the comparer directly
    (Spark and DuckDB print them differently) — every output is a
    timestamp/date string or a number, the unit-safe contract."""
    (events,) = tables(spark, sf_dir, "events")
    ev = events.filter(F.col("event_id") < 25).select(
        "event_id", F.col("ts").cast("timestamp").alias("t")
    )
    return ev.selectExpr(
        "event_id",
        "CAST(t + INTERVAL 36 HOUR AS STRING) AS plus36h",
        "CAST(t - INTERVAL 90 MINUTE AS STRING) AS minus90m",
        "CAST(t + make_dt_interval(1, 2, 3, 4) AS STRING) AS plus_dt",
        "CAST(CAST(t AS DATE) + make_ym_interval(1, 2) AS STRING) AS plus_ym",
        "CAST(timestampdiff(HOUR, t, t + INTERVAL 3 DAY) AS BIGINT) AS h72",
        "CAST(timestampdiff(MINUTE, t - INTERVAL 45 MINUTE, t) AS BIGINT) AS m45",
        "CAST(datediff(CAST(t + INTERVAL 1000 MINUTE AS DATE), CAST(t AS DATE)) AS BIGINT) AS dcal",
        "CAST(timestampdiff(SECOND, t, t + INTERVAL 1 DAY) AS BIGINT) AS day_secs",
    )


F_INTERVAL_SQL = """
SELECT event_id,
  CAST(t + INTERVAL 36 HOUR AS VARCHAR) AS plus36h,
  CAST(t - INTERVAL 90 MINUTE AS VARCHAR) AS minus90m,
  CAST(t + INTERVAL 1 DAY + INTERVAL 2 HOUR + INTERVAL 3 MINUTE
         + INTERVAL 4 SECOND AS VARCHAR) AS plus_dt,
  CAST(CAST(CAST(t AS DATE) + INTERVAL 14 MONTH AS DATE) AS VARCHAR) AS plus_ym,
  CAST(date_diff('hour', t, t + INTERVAL 3 DAY) AS BIGINT) AS h72,
  CAST(date_diff('minute', t - INTERVAL 45 MINUTE, t) AS BIGINT) AS m45,
  CAST(date_diff('day', CAST(t AS DATE), CAST(t + INTERVAL 1000 MINUTE AS DATE)) AS BIGINT) AS dcal,
  CAST(date_diff('second', t, t + INTERVAL 1 DAY) AS BIGINT) AS day_secs
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_id < 25)
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "f_interval": f_interval,
    "f_math": f_math,
    "f_trig": f_trig,
    "f_string": f_string,
    "f_date": f_date,
    "f_datetime": f_datetime,
    "f_regex": f_regex,
    "f_json": f_json,
    "f_array": f_array,
    "f_map": f_map,
    "f_variant": f_variant,
    "f_generator": f_generator,
    "f_xml": f_xml,
    "f_collation": f_collation,
    "f_hash": f_hash,
    "f_url": f_url,
    "f_conditional": f_conditional,
    "f_bitwise": f_bitwise,
    "f_agg_stats": f_agg_stats,
    "f_agg_misc": f_agg_misc,
    "f_percentiles": f_percentiles,
    "f_approx": f_approx,
    "f_decimal": f_decimal,
    "f_datetime2": f_datetime2,
    "f_misc": f_misc,
}

ORACLE: dict[str, str] = {
    "f_interval": F_INTERVAL_SQL,
    "f_math": F_MATH_SQL,
    "f_trig": F_TRIG_SQL,
    "f_string": F_STRING_SQL,
    "f_date": F_DATE_SQL,
    "f_datetime": F_DATETIME_SQL,
    "f_regex": F_REGEX_SQL,
    "f_json": F_JSON_SQL,
    "f_array": F_ARRAY_SQL,
    "f_map": F_MAP_SQL,
    "f_variant": F_VARIANT_SQL,
    "f_generator": F_GENERATOR_SQL,
    "f_xml": F_XML_SQL,
    "f_collation": F_COLLATION_SQL,
    "f_hash": _f_hash_oracle(),
    "f_url": _f_url_oracle(),
    "f_conditional": F_CONDITIONAL_SQL,
    "f_bitwise": F_BITWISE_SQL,
    "f_agg_stats": F_AGG_STATS_SQL,
    "f_agg_misc": F_AGG_MISC_SQL,
    "f_percentiles": F_PERCENTILES_SQL,
    "f_decimal": F_DECIMAL_SQL,
    "f_datetime2": F_DATETIME2_SQL,
    "f_misc": F_MISC_SQL,
    # f_approx: intentionally no oracle (engine-specific sketches)
}
