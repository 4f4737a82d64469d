"""Iceberg-lite manifests record their files' Spark schema, so scan
planning launches no Spark job; manifests without one still read."""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from iceberg_query_engine_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    add_column,
    compact,
    rename_column,
    upsert_snapshot,
    write_equality_deletes,
    write_position_deletes,
    write_snapshot,
)


def _rows(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.lit(tag).alias("v"),
    )


def _planning_jobs(spark, build) -> int:
    """Spark jobs launched while `build()` returns its DataFrame; no
    action runs on the result."""
    sc = spark.sparkContext
    group = f"scan-planning-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "iceberg-lite scan planning")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _sorted(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _manifests(path: str) -> list[tuple[dict, dict]]:
    """(manifest-list entry, manifest) for every manifest on disk."""
    out = {}
    for ml in glob.glob(os.path.join(path, "metadata", "manifest-list-*.json")):
        with open(ml) as f:
            for m in json.load(f):
                with open(os.path.join(path, m["manifest_path"])) as mf:
                    out[m["manifest_path"]] = (m, json.load(mf))
    return list(out.values())


def _snapshot_ops(path: str) -> dict[int, str]:
    return {
        s["snapshot_id"]: s["summary"]["operation"]
        for s in IcebergLiteTable(path).snapshots()
    }


def _shape(schema) -> list[tuple[str, str]]:
    """Column names and types; nullability is not compared (Spark reads
    every parquet column back as nullable)."""
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_scan_planning_launches_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "t")
    t = IcebergLiteTable(path)
    jobs: dict[str, int] = {}

    def check(state, **kw):
        jobs[state] = _planning_jobs(spark, lambda: t.read(spark, **kw))

    s1 = write_snapshot(_rows(spark, 0, 30, "a"), path, partition_by="grp",
                        stats_columns=["k"])
    s2 = write_snapshot(_rows(spark, 30, 60, "b"), path, stats_columns=["k"])
    check("append")
    check("pruned_to_nothing", predicates=[("k", ">", 10_000)])
    jobs["incremental"] = _planning_jobs(
        spark, lambda: t.read_incremental(spark, s1)
    )
    jobs["incremental_empty"] = _planning_jobs(
        spark, lambda: t.read_incremental(spark, s2)
    )

    upsert_snapshot(spark, path, _rows(spark, 20, 40, "u"), key_columns=["k"])
    check("upsert")
    write_equality_deletes(spark, path, _rows(spark, 0, 5, "d"), ["k"])
    check("equality_delete")
    write_position_deletes(spark, path, "k % 7 = 0")
    check("position_delete")
    expected = _sorted(t.read(spark))

    sc = compact(spark, path)
    check("compact")
    check("time_travel_snapshot", snapshot_id=s2)
    check("time_travel_timestamp",
          as_of_timestamp_ms=t._snapshot(s1)["timestamp_ms"])

    write_snapshot(_rows(spark, 60, 70, "c"), path)
    rename_column(path, "v", "tag")
    check("rename_column")
    add_column(path, "w", "bigint")
    check("add_column")
    check("add_column_time_travel", snapshot_id=s2)

    # files written under two Spark schemas: the raw scan of
    # write_position_deletes and the incremental read span both
    write_snapshot(
        _rows(spark, 70, 80, "e").withColumnRenamed("v", "tag")
        .withColumn("w", F.col("k") * 10),
        path,
    )
    write_position_deletes(spark, path, "k IN (65, 75)")
    check("mixed_schemas")
    jobs["incremental_mixed_schemas"] = _planning_jobs(
        spark, lambda: t.read_incremental(spark, sc)
    )

    assert jobs == {state: 0 for state in jobs}
    assert sorted(r.k for r in t.read_incremental(spark, sc).collect()) == list(
        range(60, 80)
    )
    got = _sorted(t.read(spark).drop("w"))
    assert got == sorted(
        expected
        + [(k, str(k % 3), "c") for k in range(60, 70) if k != 65]
        + [(k, str(k % 3), "e") for k in range(70, 80) if k != 75]
    )

    # the recorded schema is the schema Spark infers from the files, for
    # every manifest kind each write path produces
    ops = _snapshot_ops(path)
    seen = set()
    for m, manifest in _manifests(path):
        for entry in manifest["entries"]:
            fe = entry.get("data_file") or entry["delete_file"]
            inferred = spark.read.parquet(os.path.join(path, fe["file_path"])).schema
            recorded = StructType.fromJson(manifest["spark_schema"])
            assert _shape(inferred) == _shape(recorded), (
                m["content"],
                ops[m["snapshot_id"]],
            )
        seen.add((m["content"], ops[m["snapshot_id"]]))
    assert seen == {
        ("data", "append"),
        ("data", "overwrite"),
        ("equality_deletes", "overwrite"),
        ("equality_deletes", "delete"),
        ("position_deletes", "delete"),
        ("data", "replace"),
    }


def test_manifests_without_recorded_schema_read_identically(spark, tmp_path):
    """A table written before manifests recorded a Spark schema: strip
    the schema from every manifest and every read, time travel, delete
    application and compaction must return what the unmodified table
    returned."""
    path = str(tmp_path / "t")
    t = IcebergLiteTable(path)
    s1 = write_snapshot(_rows(spark, 0, 30, "a"), path, partition_by="grp",
                        stats_columns=["k"])
    s2 = upsert_snapshot(spark, path, _rows(spark, 20, 40, "u"), key_columns=["k"])
    write_position_deletes(spark, path, "k % 7 = 0")
    rename_column(path, "v", "tag")
    add_column(path, "w", "bigint")
    write_snapshot(
        _rows(spark, 40, 50, "c")
        .withColumnRenamed("v", "tag")
        .withColumn("w", F.col("k") * 10),
        path,
    )

    def results():
        return {
            "current": _sorted(t.read(spark)),
            "pruned": _sorted(t.read(spark, predicates=[("k", ">=", 40)])),
            "empty": _sorted(t.read(spark, predicates=[("k", ">", 10_000)])),
            **{
                f"snapshot_{sid}": _sorted(t.read(spark, snapshot_id=sid))
                for sid in _snapshot_ops(path)
            },
            "incremental": _sorted(t.read_incremental(spark, s1, s2)),
        }

    before = results()
    for m, manifest in _manifests(path):
        assert "spark_schema" in manifest
        del manifest["spark_schema"]
        with open(os.path.join(path, m["manifest_path"]), "w") as f:
            json.dump(manifest, f)

    # without a recorded schema, planning falls back to footer inference
    assert _planning_jobs(spark, lambda: t.read(spark)) > 0
    assert results() == before

    compact(spark, path)
    assert _sorted(t.read(spark)) == before["current"]
