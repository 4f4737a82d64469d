"""TPC-H-shaped query suite, adapted to the driver's testdata schema.

The reference implements all 22 TPC-H queries
(/root/reference/src/tpch/queries.rs; smoke at tests/tpch_queries.rs).
The driver's testdata (TESTDATA.md) is a slimmed TPC-H star schema —
no ``partsupp`` table and fewer columns (no l_commitdate/l_receiptdate/
l_shipmode/p_container/c_phone) — so each query here keeps the
*operator shape* of its TPC-H counterpart (same joins, subquery
patterns, aggregations) with predicates adapted to the available
columns. q1..q22 line up with BASELINE.md's per-query numbers.

Every query has a DataFrame-API implementation (Catalyst plans it) and
a DuckDB oracle in ``ORACLE``.

Determinism contract with the oracle: double aggregates use
``dsum``/``davg`` (floor-quantize each row to 1e-6, sum exactly as
DECIMAL(38,0)), so Spark's parallel sum and DuckDB's sum produce
bit-identical doubles regardless of order. Integer-valued doubles
(l_quantity) sum exactly anyway. COUNT/SUM(int) are cast to BIGINT on
both sides (DuckDB SUM(int) is HUGEINT). year() is cast to INT on
both sides.

Scale notes: dimension tables (region/nation/supplier/part) are
broadcast-joined by Catalyst (size-based) — at 100 TB the fact table
never shuffles for those joins; AQE handles skew. Aggregations are
partial+final automatically. LIMIT queries use TakeOrderedAndProject
(no full sort/gather).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table

# Determinism quantum: double expressions are floor-quantized to 1e-6
# at the row level before summing. IEEE double multiply/floor are
# bit-identical across Spark (JVM) and DuckDB (C++), so the per-row
# integers — and therefore the exact DECIMAL(38,0) sums — match
# exactly. (A direct double->DECIMAL cast does NOT match: the two
# engines round the binary fraction differently at the 10th decimal.)
QUANT = 1000000.0


def dsum(col) -> F.Column:
    """Order-independent, engine-reproducible sum of a double expression."""
    return F.sum(F.floor(col * F.lit(QUANT)).cast("decimal(38,0)")).cast(
        "double"
    ) / F.lit(QUANT)


def davg(col) -> F.Column:
    """Order-independent, engine-reproducible mean of a double expression."""
    return dsum(col) / F.count(col)


def DSUM(e: str) -> str:
    """DuckDB-SQL twin of ``dsum`` (identical quantization)."""
    return f"(CAST(SUM(CAST(FLOOR(({e}) * 1000000) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0)"


def DAVG(e: str) -> str:
    """DuckDB-SQL twin of ``davg``."""
    return f"({DSUM(e)} / COUNT({e}))"


_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load tables with a per-session DataFrame cache — avoids
    re-reading parquet footers (schema inference) on every query.
    DataFrames are immutable plans, so reuse is safe."""
    out = []
    sid = id(spark._jsparkSession)
    for n in names:
        key = (sid, sf_dir, n)
        if key not in _TABLE_CACHE:
            _TABLE_CACHE[key] = load_table(spark, os.path.join(sf_dir, f"{n}.parquet"))
        out.append(_TABLE_CACHE[key])
    return out


# Materialize-vs-recompute gate for MULTIPLY-REFERENCED derived frames.
# Catalyst does not de-duplicate subtrees: a frame referenced N times
# re-runs its whole lineage — source scan included — N times. Above
# this source size, one lazy persist (computed inside the consuming
# action, shared by every reference; bench/driver sessions clearCache()
# between queries) replaces N-1 corpus scans. Below it, recomputation
# is CHEAPER: the duplicated sub-second subtrees run fully parallel,
# while the materialization barrier serializes the stage graph and
# pays cache write/read (measured r9-opt at sf0.1: persist cost
# 1.2-3x on ev_dau_wau_mau/op_ks_test/op_freq_itemsets — the same
# lesson as the reverted corpus-wide respread). The local default keeps
# the driver bench comparable; the production value is argued in
# OPTIMIZATION_r09.md.
MATERIALIZE_MIN_BYTES = 256 << 20

# Broadcast-HINT gate (r9 verdict, What's wrong #1): F.broadcast() is
# honored unconditionally by the planner, so a hard hint on a frame
# whose cardinality grows with the corpus (per-user aggregates,
# vocabularies, filtered dimensions) trades the planner's sort-merge
# fallback for a build-side OOM at scale. Below this SOURCE size the
# derived frame is provably tiny (it is at most an aggregate of the
# source) and the hint merely restores the choice the planner would
# make from fresh estimates (a persisted frame's RDD-backed stats hide
# them); above it, no hint — the planner/AQE pick from real sizes.
BROADCAST_HINT_MAX_SOURCE_BYTES = 1 << 30


def _source_bytes(sf_dir: str, source_tables: tuple[str, ...]) -> int | None:
    """Total on-disk bytes of the named source tables; None if any is
    unknown (caller picks its safe side)."""
    from ..sources.registry import table_bytes

    total = 0
    for t in source_tables:
        b = table_bytes(sf_dir, t)
        if b is None:
            return None
        total += b
    return total


# Frames persist_if_large has gated ON, so a long-lived session can
# release them without a blanket clearCache(). The bench and oracle
# harnesses clearCache() between queries (which also drops these);
# any other back-to-back consumer should call release_gated_persists()
# after each query's action completes (r9 verdict, What's wrong #2).
_GATED_PERSISTS: list[DataFrame] = []


def release_gated_persists() -> int:
    """Unpersist every frame persist_if_large gated on since the last
    call; returns how many were released. Safe to call at any point —
    an in-flight action keeps its already-materialized blocks until it
    finishes (Spark unpersist is non-blocking here)."""
    n = 0
    while _GATED_PERSISTS:
        df = _GATED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


def persist_if_large(df: DataFrame, sf_dir: str, *source_tables: str) -> DataFrame:
    """Lazily persist `df` when its source tables are big enough that
    re-running its lineage per reference would dominate (see
    MATERIALIZE_MIN_BYTES). Unknown sizes persist (the scale-safe
    side — a missed persist costs corpus re-scans, a spurious one
    costs a bounded cache write).

    Ownership contract: gated persists are MEMORY_AND_DISK and live
    until the session clears its cache. Harnesses running queries
    back-to-back must clearCache() (bench.py, oracle_sweep.py do) or
    call release_gated_persists() between queries, or caches
    accumulate across the session."""
    total = _source_bytes(sf_dir, source_tables)
    if total is None or total >= MATERIALIZE_MIN_BYTES:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _GATED_PERSISTS.append(df)
        return df
    return df


def broadcast_if_small(df: DataFrame, sf_dir: str, *source_tables: str) -> DataFrame:
    """Broadcast hint gated on SOURCE size (see
    BROADCAST_HINT_MAX_SOURCE_BYTES): below the gate the hint is safe
    and keeps the sub-second BroadcastHashJoin the planner would pick
    from fresh estimates; above it (or when sizes are unknown) the
    frame is returned unhinted so the planner/AQE keep their sort-merge
    fallback — a user-count- or vocabulary-sized frame at 100 TB is not
    broadcastable and a hard hint OOMs the build side instead of
    degrading gracefully."""
    total = _source_bytes(sf_dir, source_tables)
    if total is not None and total <= BROADCAST_HINT_MAX_SOURCE_BYTES:
        return F.broadcast(df)
    return df


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# --------------------------------------------------------------------------
# q1 — pricing summary report (full aggregate-function sweep, 1 scan)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(_rev()).alias("sum_disc_price"),
            dsum(_rev() * (F.lit(1.0) + F.col("l_tax"))).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {DSUM("l_quantity")} AS sum_qty,
  {DSUM("l_extendedprice")} AS sum_base_price,
  {DSUM("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
  {DSUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
  {DAVG("l_quantity")} AS avg_qty,
  {DAVG("l_extendedprice")} AS avg_price,
  {DAVG("l_discount")} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q2 — best supplier per part (correlated scalar MAX subquery; TPC-H Q2
# shape with s_acctbal standing in for ps_supplycost, lineitem for partsupp)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part, supplier, lineitem, nation, region = tables(
        spark, sf_dir, "part", "supplier", "lineitem", "nation", "region"
    )
    asia = region.filter(F.col("r_name") == "ASIA")
    sup_n = (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(asia, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    p15 = part.filter(F.col("p_size") == 15).select("p_partkey", "p_type")
    # join the selective part filter FIRST, then one windowed max-per-part
    # pass — the per-part MAX subquery without recomputing the pairs
    # subtree (a groupBy+self-join would scan it twice)
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(p15, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup_n, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        pairs.withColumn("best_acctbal", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("best_acctbal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .distinct()
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


Q2_SQL = """
SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type
FROM part p, supplier s, lineitem l, nation n, region r
WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'ASIA' AND p.p_size = 15
  AND s.s_acctbal = (
    SELECT MAX(s2.s_acctbal)
    FROM supplier s2, lineitem l2, nation n2, region r2
    WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'ASIA')
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
"""


# --------------------------------------------------------------------------
# q3 — shipping priority: top-10 revenue of unshipped orders
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = tables(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-03-15").cast("date")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_rev()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey,
  {DSUM("l_extendedprice * (1 - l_discount)")} AS revenue,
  o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '1998-03-15' AND l_shipdate > DATE '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# q4 — order priority checking (EXISTS -> semi join; TPC-H Q4 shape with
# l_shipdate > o_orderdate standing in for commitdate < receiptdate)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("date"))
    )
    return (
        o.join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q5 — local supplier volume (6-way join through region)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, supplier, nation, region = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supplier, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(lineitem, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(_rev()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


Q5_SQL = f"""
SELECT n_name,
  {DSUM("l_extendedprice * (1 - l_discount)")} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# q6 — forecasting revenue change (pure scan/filter/agg — pushdown showcase)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount").between(0.04, 0.06))
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


Q6_SQL = f"""
SELECT {DSUM("l_extendedprice * l_discount")} AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# q7 — volume shipping between two nations (self-join of nation, OR pairs)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, orders, customer, nation = tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date")
            )
        )
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(_rev()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
  {DSUM("volume")} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# q8 — national market share (8-way join, conditional aggregation)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem, orders, customer, nation, region = tables(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "customer", "nation", "region"
    )
    n1 = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    n2 = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation"))
    all_nations = (
        lineitem.join(part.filter(F.col("p_type") == "ECONOMY"), F.col("p_partkey") == F.col("l_partkey"))
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            orders.filter(
                F.col("o_orderdate").between(
                    F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date")
                )
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("cn_key"))
        .join(region.filter(F.col("r_name") == "AMERICA"), F.col("cn_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("volume"),
            F.col("nation"),
        )
    )
    return (
        all_nations.groupBy("o_year")
        .agg(
            (
                dsum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(F.lit(0.0)))
                / dsum(F.col("volume"))
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT o_year,
  {DSUM("CASE WHEN nation = 'NATION_1' THEN volume ELSE 0.0 END")}
  / {DSUM("volume")} AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


# --------------------------------------------------------------------------
# q9 — product type profit (p_retailprice*0.1 stands in for ps_supplycost)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, supplier, lineitem, orders, nation = tables(
        spark, sf_dir, "part", "supplier", "lineitem", "orders", "nation"
    )
    amount = _rev() - (F.col("p_retailprice") * F.col("l_quantity")) * F.lit(0.1)
    return (
        lineitem.join(
            part.filter(F.col("p_name").like("%widget%")), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = f"""
SELECT nation, o_year,
  {DSUM("amount")} AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) - (p_retailprice * l_quantity) * 0.1 AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey AND p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# q10 — returned item reporting (top 20 customers by lost revenue)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem, nation = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return (
        customer.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-10-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            lineitem.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name,
  {DSUM("l_extendedprice * (1 - l_discount)")} AS revenue,
  c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= DATE '1997-10-01' AND o_orderdate < DATE '1998-01-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# q11 — important stock identification (scalar subquery in HAVING;
# flow value from lineitem stands in for partsupp inventory value)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier, nation = tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation"
    )
    base = (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            nation.filter(F.col("n_name") == "NATION_1"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("l_partkey", (F.col("p_retailprice") * F.col("l_quantity")).alias("val"))
    )
    per_part = base.groupBy(F.col("l_partkey").alias("ps_partkey")).agg(
        dsum(F.col("val")).alias("value")
    )
    total = base.agg((dsum(F.col("val")) * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("ps_partkey", "value")
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


Q11_SQL = f"""
SELECT l_partkey AS ps_partkey,
  {DSUM("p_retailprice * l_quantity")} AS value
FROM lineitem, part, supplier, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
GROUP BY l_partkey
HAVING {DSUM("p_retailprice * l_quantity")} > (
  SELECT {DSUM("p_retailprice * l_quantity")} * 0.001
  FROM lineitem, part, supplier, nation
  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey AND n_name = 'NATION_1')
ORDER BY value DESC, ps_partkey
"""


# --------------------------------------------------------------------------
# q12 — shipping mode / priority (conditional counts; l_linestatus stands
# in for the missing l_shipmode)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_quantity") > 25)
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_quantity > 25
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --------------------------------------------------------------------------
# q13 — customer distribution (left outer join w/ join-time filter,
# two-level aggregation)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = tables(spark, sf_dir, "customer", "orders")
    c_orders = (
        customer.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --------------------------------------------------------------------------
# q14 — promotion effect (conditional agg ratio)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("date"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * dsum(promo) / dsum(_rev())).alias("promo_revenue"))
    )


Q14_SQL = f"""
SELECT 100.0 * {DSUM("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
  / {DSUM("l_extendedprice * (1 - l_discount)")} AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= DATE '1997-06-01' AND l_shipdate < DATE '1997-07-01'
"""


# --------------------------------------------------------------------------
# q15 — top supplier (CTE + scalar MAX subquery over an aggregate)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem = tables(spark, sf_dir, "supplier", "lineitem")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_rev()).alias("total_revenue"))
    )
    best = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        supplier.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    {DSUM("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q16 — supplier counting (NOT IN -> anti join, COUNT DISTINCT)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, supplier = tables(spark, sf_dir, "lineitem", "part", "supplier")
    excluded = supplier.filter(F.col("s_name").like("%0003%")).select("s_suppkey")
    return (
        lineitem.join(
            part.filter(
                (F.col("p_brand") != "Brand#13")
                & (~F.col("p_type").like("PROMO%"))
                & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0003%')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# q17 — small-quantity-order revenue (correlated AVG subquery per part;
# exact because l_quantity is integral)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    thresh = lineitem.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        lineitem.join(part.filter(F.col("p_brand") == "Brand#13"), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresh, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg((dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = f"""
SELECT {DSUM("l_extendedprice")} / 7.0 AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


# --------------------------------------------------------------------------
# q18 — large volume customers (IN over GROUP BY/HAVING subquery)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders, lineitem = tables(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 180)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
        )
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  {DSUM("l_quantity")} AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 180)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q19 — discounted revenue (disjunction of conjunctive range predicates
# over a single equi-join key — residual-filter hash join)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        lineitem.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(_rev()).alias("revenue"))
    )


Q19_SQL = f"""
SELECT {DSUM("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey AND (
     (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
  OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
  OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))
"""


# --------------------------------------------------------------------------
# q20 — potential part promotion (nested IN subqueries with relative
# HAVING threshold so selectivity is scale-invariant)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, nation, lineitem, part = tables(
        spark, sf_dir, "supplier", "nation", "lineitem", "part"
    )
    cold = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .join(
            part.filter(F.col("p_name").like("cold%")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    avg_qty = cold.agg((F.lit(1.2) * F.avg("qty")).alias("avg_qty"))
    heavy = (
        cold.join(F.broadcast(avg_qty))
        .filter(F.col("qty") > F.col("avg_qty"))
        .select("l_suppkey")
    )
    return (
        supplier.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(
            nation.filter(F.col("n_regionkey") <= 2),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_name LIKE 'cold%'
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > (
    SELECT 1.2 * AVG(qty) FROM (
      SELECT SUM(l_quantity) AS qty FROM lineitem, part
      WHERE l_partkey = p_partkey AND p_name LIKE 'cold%'
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      GROUP BY l_suppkey)))
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
ORDER BY s_name
"""


# --------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS correlated
# self-joins; l_shipdate ordering stands in for commit/receipt dates)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier, lineitem, orders, nation = tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "nation"
    )
    l1 = lineitem.alias("l1")
    l2 = lineitem.alias("l2")
    l3 = lineitem.alias("l3")
    base = (
        l1.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l1.l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return (
        base.join(supplier, F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
  AND s_nationkey = n_nationkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --------------------------------------------------------------------------
# q22 — global sales opportunity (scalar AVG subquery + NOT EXISTS;
# c_custkey % 7 stands in for the missing phone country code)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, orders = tables(spark, sf_dir, "customer", "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    recent = orders.filter(F.col("o_orderdate") > F.lit("2000-06-01").cast("date")).select(
        "o_custkey"
    )
    return (
        customer.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select((F.col("c_custkey") % 7).cast("int").alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = f"""
SELECT cntrycode, COUNT(*) AS numcust,
  {DSUM("c_acctbal")} AS totacctbal
FROM (
  SELECT CAST(c_custkey % 7 AS INT) AS cntrycode, c_acctbal
  FROM customer
  WHERE c_acctbal > (
      SELECT {DAVG("c_acctbal")}
      FROM customer WHERE c_acctbal > 0.0)
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderdate > DATE '2000-06-01')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    f"q{i}": globals()[f"q{i}"] for i in range(1, 23)
}

ORACLE: dict[str, str] = {f"q{i}": globals()[f"Q{i}_SQL"] for i in range(1, 23)}
