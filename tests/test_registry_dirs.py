"""Directory-of-parquet-files tables (reference ParquetTable supports
single file OR directory — /root/reference/src/storage/parquet.rs:26-260)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from iceberg_query_engine_spark.sources.registry import load_table, register_parquet


def test_directory_table(spark, sf_oracle, tmp_path):
    nation = spark.read.parquet(f"{sf_oracle}/nation.parquet")
    d = str(tmp_path / "nation_dir")
    # two files in one directory = one table
    nation.filter(F.col("n_nationkey") < 10).write.mode("overwrite").parquet(d)
    nation.filter(F.col("n_nationkey") >= 10).write.mode("append").parquet(d)
    df = load_table(spark, d)
    assert df.count() == 25
    assert set(df.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    register_parquet(spark, "nation_dir", d)
    assert spark.sql("SELECT COUNT(*) AS n FROM nation_dir").collect()[0].n == 25

def test_respread_guard_restores_scan_parallelism(spark, tmp_path):
    """A file written as ONE giant row group is scanned by one task
    (Spark cannot split inside a row group); load_table detects the
    footer pathology against the session's maxPartitionBytes target and
    round-robins once. Well-laid-out input is left untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 200_000
    big = str(tmp_path / "big.parquet")
    pq.write_table(
        pa.table({"k": list(range(n)), "s": ["x" * 40] * n}), big,
        row_group_size=n,  # one row group ≈ 9 MB
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))  # 1 MB target
    try:
        df = load_table(spark, big)
        assert df.count() == n
        assert df.rdd.getNumPartitions() > 1  # respread fired
        assert "Exchange" in df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ) or df.rdd.getNumPartitions() > 1

        # bounded row groups → no respread, scan splits natively
        good = str(tmp_path / "good.parquet")
        pq.write_table(
            pa.table({"k": list(range(n)), "s": ["x" * 40] * n}), good,
            row_group_size=8192,
        )
        df2 = load_table(spark, good)
        plan = df2._sc._jvm.PythonSQLUtils.explainString(
            df2._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan  # untouched: plain scan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_partitioned_directory_footer_helpers(spark, tmp_path):
    """Hive-partitioned table directories (k=0/, k=1/): the footer
    helpers see the nested files, and a directory with no parquet file
    is unknown to all of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_query_engine_spark.sources.registry import (
        table_bytes,
        table_fingerprint,
        table_rows,
    )

    sf = str(tmp_path)
    path = os.path.join(sf, "events.parquet")
    spark.range(100).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(path)
    assert table_rows(sf, "events") == spark.read.parquet(path).count() == 100
    assert table_bytes(sf, "events") > 0

    before = table_fingerprint(sf, "events")
    nested = os.path.join(path, "k=1")
    victim = os.path.join(nested, sorted(f for f in os.listdir(nested) if f.endswith(".parquet"))[0])
    pq.write_table(pa.table({"id": list(range(7))}), victim)
    assert table_fingerprint(sf, "events") != before

    empty = os.path.join(sf, "documents.parquet", "k=0")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()
    assert table_rows(sf, "documents") is None
    assert table_bytes(sf, "documents") is None
    assert table_fingerprint(sf, "documents") is None
