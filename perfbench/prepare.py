"""Builds the benchmark's inputs once per checkout and scale: the
driver-schema tables, the full TPC-H schema, and the digests of the
DuckDB oracle results the interactive workload is checked against.

    python3 perfbench/prepare.py <scale> <dest-dir>

Runs in its own process so that the measured process starts clean.
The directory appears only when complete.
"""

from __future__ import annotations

import json
import os
import shutil
import sys


def main(scale: float, dest: str) -> None:
    from iceberg_query_engine_spark.session import get_spark
    from iceberg_query_engine_spark.sources.generator import generate_tpch, generate_tpch_full
    from iceberg_query_engine_spark.testing import duck_connect

    from workloads import digest, interactive_queries, oracle_sql, shutdown

    tmp = dest + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = get_spark(app_name="perfbench-prepare", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    try:
        generate_tpch(spark, scale, os.path.join(tmp, "driver"))
        generate_tpch_full(spark, scale, os.path.join(tmp, "full"))
    finally:
        shutdown(spark)
    con = duck_connect(os.path.join(tmp, "driver"))
    try:
        digests = {
            q.name: digest(con.execute(oracle_sql(q, os.path.join(tmp, "full"))).df())
            for q in interactive_queries()
        }
    finally:
        con.close()
    with open(os.path.join(tmp, "oracle_digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    os.rename(tmp, dest)


if __name__ == "__main__":
    main(float(sys.argv[1]), sys.argv[2])
