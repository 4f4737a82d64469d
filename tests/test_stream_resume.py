"""Streaming checkpoint resume: exactly-once across restarts.

The suite's stream_* jobs replay the whole source with a fresh
checkpoint (deterministic full-replay oracles). This file covers the
OTHER production property: a restarted query with a PERSISTENT
checkpoint must process only data that arrived since the last run, and
the resumed totals must equal a batch query over everything — Spark's
file-source exactly-once contract. At 100 TB this is what makes a
streaming pipeline restartable without reprocessing the corpus.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from iceberg_query_engine_spark.streaming.jobs import read_event_stream


def _run_counts(spark, src_dir: str, ckpt: str, name: str):
    """One availableNow run of per-user event counts against src_dir
    with the given (persistent) checkpoint; returns collected rows."""
    agg = (
        read_event_stream(spark, src_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    progress = []
    q.awaitTermination()
    for p in q.recentProgress:
        progress.append(p["sources"][0]["numInputRows"])
    return (
        {r.user_id: r.n for r in spark.table(name).collect()},
        sum(progress),
    )


def test_checkpoint_resume_processes_only_new_files(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "events_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")

    # first file arrives → first run processes it fully
    shutil.copy(f"{sf_smoke}/events.parquet", os.path.join(src, "events.parquet"))
    first_total = spark.read.parquet(src).count()
    counts1, input1 = _run_counts(spark, src, ckpt, "mem_resume_1")
    assert input1 == first_total
    batch1 = {
        r.user_id: r.n
        for r in spark.read.parquet(src)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts1 == batch1

    # restart with the SAME checkpoint and no new data → zero input rows
    _, input_idle = _run_counts(spark, src, ckpt, "mem_resume_idle")
    assert input_idle == 0

    # a second file arrives (different name, same glob) → resumed run
    # reads ONLY it, and the complete-mode state still reflects all data
    extra = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .withColumn("event_id", F.col("event_id") + 1_000_000)
    )
    extra_dir = str(tmp_path / "extra")
    extra.coalesce(1).write.parquet(extra_dir)
    part = [f for f in os.listdir(extra_dir) if f.endswith(".parquet")][0]
    # pathGlobFilter matches 'events.parquet' — place the new file under
    # a subdirectory with the expected name
    os.makedirs(os.path.join(src, "batch2"))
    shutil.copy(
        os.path.join(extra_dir, part),
        os.path.join(src, "batch2", "events.parquet"),
    )
    counts2, input2 = _run_counts(spark, src, ckpt, "mem_resume_2")
    assert input2 == first_total  # only the new file's rows
    batch2 = {
        r.user_id: r.n
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(src)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts2 == batch2


def _ckpt_dirs() -> set[str]:
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "sg_ckpt")
    return set(os.listdir(root)) if os.path.isdir(root) else set()


def test_one_shot_streams_leave_no_checkpoint(spark, sf_smoke):
    """The suite's one-shot stream_* queries start a fresh checkpoint
    that nothing resumes: it must be gone once the query returns, for
    memory sinks and foreachBatch sinks alike — while a result that
    reads its sink lazily stays readable."""
    from iceberg_query_engine_spark.streaming.jobs import (
        stream_tumbling,
        stream_upsert_iceberg,
    )

    before = _ckpt_dirs()
    assert stream_tumbling(spark, sf_smoke).count() > 0
    upserted = stream_upsert_iceberg(spark, sf_smoke)
    assert _ckpt_dirs() == before
    assert upserted.count() > 0
