"""Build-once derived artifacts (registry.derived_dir).

Every fixture table and stored index a query builds once from the
canonical tables lives at <tempdir>/sg_derived/<sf slug>/<name>/<fp12>/:
keyed on the CONTENT of its sources, served only after the sentinel its
build writes last, and rebuilt (with superseded and partial dirs
reclaimed) otherwise. Each test points tempfile's root at tmp_path so
its artifacts are private.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from iceberg_query_engine_spark.sources.registry import (
    DERIVED_SENTINEL,
    derived_dir,
    sf_slug,
)


def _private_sf(sf_src: str, dest: str, *names: str) -> str:
    """A private copy of some canonical tables we can regenerate."""
    os.makedirs(dest)
    for name in names:
        src = os.path.join(sf_src, f"{name}.parquet")
        dst = os.path.join(dest, f"{name}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
    return dest


def _touch_table(sf_dir: str, name: str) -> None:
    """Simulate regenerating a table at the same path and row count:
    bump its parquet files' mtimes (fingerprint = name|size|mtime)."""
    t = os.path.join(sf_dir, f"{name}.parquet")
    files = [os.path.join(t, f) for f in os.listdir(t)] if os.path.isdir(t) else [t]
    for fp in files:
        st = os.stat(fp)
        os.utime(fp, ns=(st.st_atime_ns, st.st_mtime_ns + 10_000_000_000))


@pytest.fixture()
def private_tmp(tmp_path, monkeypatch) -> str:
    root = str(tmp_path / "idx")
    monkeypatch.setattr(tempfile, "tempdir", root)
    return root


@pytest.fixture()
def mini_sf(tmp_path, sf_smoke):
    return _private_sf(sf_smoke, str(tmp_path / "sf"), "embeddings")


# -- the helper itself (no Spark) ---------------------------------------
def test_build_once_and_failed_build_never_served(tmp_path, private_tmp, sf_smoke):
    sf = _private_sf(sf_smoke, str(tmp_path / "sf"), "region")
    calls = []

    def build(path: str) -> None:
        calls.append(path)
        assert os.listdir(path) == []  # a fresh, empty directory
        open(os.path.join(path, "part"), "w").close()

    p1 = derived_dir(sf, "art", ["region"], build)
    assert p1.startswith(os.path.join(private_tmp, "sg_derived", sf_slug(sf), "art"))
    assert os.path.exists(os.path.join(p1, DERIVED_SENTINEL))
    assert derived_dir(sf, "art", ["region"], build) == p1
    assert len(calls) == 1

    def crash(path: str) -> None:
        open(os.path.join(path, "half"), "w").close()
        raise RuntimeError("crash mid-build")

    # a crashed build leaves no sentinel, so the next call rebuilds
    # into a clean directory instead of serving the half-built one
    with pytest.raises(RuntimeError):
        derived_dir(sf, "other", ["region"], crash)
    p2 = derived_dir(sf, "other", ["region"], build)
    assert set(os.listdir(p2)) == {"part", DERIVED_SENTINEL}
    # another name's artifact is untouched by that rebuild
    assert os.path.exists(os.path.join(p1, DERIVED_SENTINEL))


def test_unfingerprintable_source_rebuilds_every_call(tmp_path, private_tmp):
    sf = str(tmp_path / "empty_sf")
    os.makedirs(sf)
    calls = []

    def build(path: str) -> None:
        calls.append(path)

    p1 = derived_dir(sf, "art", ["missing"], build)
    p2 = derived_dir(sf, "art", ["missing"], build)
    assert p1 == p2 and len(calls) == 2


# -- fixtures that lacked a partial-build gate or a content key ---------
def test_iceberg_fixture_crash_mid_build_is_rebuilt(
    spark, tmp_path, private_tmp, sf_smoke, monkeypatch
):
    """A crash after the first of _table's two snapshot writes must not
    leave a one-snapshot table that later calls serve as complete."""
    from iceberg_query_engine_spark.queries import iceberg_suite
    from iceberg_query_engine_spark.testing import compare

    sf = _private_sf(sf_smoke, str(tmp_path / "sf"), "orders")
    real = iceberg_suite.write_snapshot
    writes = []

    def crash_after_first(*args, **kwargs):
        if writes:
            raise RuntimeError("crash after the first write_snapshot")
        writes.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(iceberg_suite, "write_snapshot", crash_after_first)
    with pytest.raises(RuntimeError):
        iceberg_suite.iceberg_time_travel(spark, sf)
    monkeypatch.setattr(iceberg_suite, "write_snapshot", real)
    res = compare(
        "iceberg_time_travel",
        iceberg_suite.iceberg_time_travel(spark, sf),
        iceberg_suite.ICEBERG_TIME_TRAVEL_SQL,
        sf,
    )
    assert res.ok, (res.detail, res.mismatches)


def test_iceberg_fixture_follows_regenerated_source(
    spark, tmp_path, private_tmp, sf_smoke
):
    from iceberg_query_engine_spark.queries import iceberg_suite

    sf = _private_sf(sf_smoke, str(tmp_path / "sf"), "orders")
    p1 = iceberg_suite._table(spark, sf)
    _touch_table(sf, "orders")
    p2 = iceberg_suite._table(spark, sf)
    assert p2 != p1, "regenerated data must not serve the stale fixture"
    assert not os.path.exists(p1)
    assert os.listdir(os.path.dirname(p2)) == [os.path.basename(p2)]


# -- the stored kNN delta index ------------------------------------------
def _index_paths(base: str, sf: str) -> list[str]:
    root = os.path.join(base, "sg_derived", sf_slug(sf), "knn_delta_index_t40")
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def test_delta_index_custom_dir_used_and_reused(spark, private_tmp, mini_sf):
    from iceberg_query_engine_spark.queries import similarity_suite as sim

    idx_parent = private_tmp
    p1 = sim._knn_delta_index_path(spark, mini_sf, 40)
    assert p1.startswith(idx_parent)
    assert os.path.exists(os.path.join(p1, "_INDEX_SUCCESS"))
    assert os.path.exists(os.path.join(p1, "members", "_SUCCESS"))
    assert os.path.exists(os.path.join(p1, "centroids"))
    # second call reuses: no rebuild (members dir mtime set unchanged)
    before = set(os.listdir(os.path.join(p1, "members")))
    p2 = sim._knn_delta_index_path(spark, mini_sf, 40)
    assert p2 == p1
    assert set(os.listdir(os.path.join(p1, "members"))) == before
    # the full op runs end-to-end on the relocated index
    out = sim._knn_graph_delta_indexed(spark, mini_sf, 0.9)
    assert out.count() > 0


def test_delta_index_invalidated_by_content_fingerprint(spark, private_tmp, mini_sf):
    from iceberg_query_engine_spark.queries import similarity_suite as sim

    idx_parent = private_tmp
    p1 = sim._knn_delta_index_path(spark, mini_sf, 40)
    _touch_table(mini_sf, "embeddings")
    p2 = sim._knn_delta_index_path(spark, mini_sf, 40)
    assert p2 != p1, "regenerated data must not serve the stale index"
    # the superseded fingerprint's dir was reclaimed — no accumulation
    assert _index_paths(idx_parent, mini_sf) == [os.path.basename(p2)]


def test_delta_index_partial_build_rebuilt(spark, private_tmp, mini_sf):
    from iceberg_query_engine_spark.queries import similarity_suite as sim

    p1 = sim._knn_delta_index_path(spark, mini_sf, 40)
    # simulate a crash between the members and centroids writes: the
    # members table exists (with its own _SUCCESS) but the index-level
    # sentinel is gone and centroids is partial/missing
    os.remove(os.path.join(p1, "_INDEX_SUCCESS"))
    shutil.rmtree(os.path.join(p1, "centroids"))
    p2 = sim._knn_delta_index_path(spark, mini_sf, 40)
    assert p2 == p1
    assert os.path.exists(os.path.join(p2, "_INDEX_SUCCESS"))
    assert os.path.exists(os.path.join(p2, "centroids"))
    rows = spark.read.parquet(os.path.join(p2, "centroids")).count()
    assert rows > 0
