"""Tests of the benchmark's own pieces. The smoke tests start Spark and
take about a minute per workload:

    python -m pytest perfbench/tests -q

Do not run them while a benchmark run is in progress: both use
perfbench/.work/run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import eventlog  # noqa: E402
from harness import METRIC_NAME, Tracer, check_metric_names, median, tail  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_fixture.jsonl")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- percentiles -------------------------------------------------------------


def test_median_odd_and_even():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    value, pct, n = tail(samples, preferred=75.0)
    assert (value, pct, n) == (75.0, 75.0, 100)
    assert sum(s > value for s in samples) >= 10


def test_tail_lowers_percentile_for_small_samples():
    samples = [float(i) for i in range(1, 25)]  # 24 samples
    value, pct, n = tail(samples, preferred=75.0)
    assert sum(s > value for s in samples) == 10
    assert value == 14.0 and n == 24
    assert pct == pytest.approx(100 * 14 / 24)


def test_tail_is_invariant_to_repeating_the_sample():
    one = [0.1, 0.5, 0.2, 0.9, 0.3, 0.4, 0.7, 0.8, 0.6, 1.0] * 5
    assert tail(one, 75.0)[0] == tail(one * 2, 75.0)[0]


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10, 75.0)


# -- spans -------------------------------------------------------------------


def test_self_times_subtract_children():
    tr = Tracer(enabled=True)
    with tr.span("op", op="a"):
        with tr.span("child"):
            with tr.span("grandchild"):
                pass
    by_name = {s.name: s for s in tr.spans}
    selfs = tr.self_times()
    assert all(s.op == "a" for s in tr.spans)
    child, grand, root = by_name["child"], by_name["grandchild"], by_name["op"]
    assert selfs[child.id] == pytest.approx(child.seconds - grand.seconds)
    assert sum(selfs.values()) == pytest.approx(root.seconds)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op", op="a"):
        pass
    assert tr.spans == []


# -- event log -----------------------------------------------------------------


def test_eventlog_attribution_by_group_and_by_time():
    log = eventlog.read(FIXTURE)
    out = eventlog.attribute(log, [("op-a", 1.0, 3.0), ("op-b", 5.0, 6.0)])
    a = out["op-a"]
    # job 0 ran stages 0 (two tasks) and 1 (one task); job 1 skipped the
    # reused stage 1 and ran stage 2, whose only task failed
    assert a["jobs"] == 2
    assert a["stages"] == 3
    assert a["single_task_stages"] == 2
    assert a["tasks"] == 4
    assert a["failed_tasks"] == 1
    assert a["executor_run_s"] == pytest.approx(0.305)
    assert a["executor_cpu_s"] == pytest.approx(0.15)
    assert a["input_bytes"] == 3000
    assert a["shuffle_read_bytes"] == 900
    assert a["shuffle_write_bytes"] == 600
    assert a["spill_bytes"] == 96
    assert out["op-a/queries.build"]["jobs"] == 1
    assert out["op-a/engine.execute"]["tasks"] == 3
    # the ungrouped job inside op-b's window goes to op-b; the one outside
    # every window is dropped
    assert out["op-b"]["jobs"] == 1
    assert out["op-b"]["executor_run_s"] == pytest.approx(0.007)
    assert set(out) == {"op-a", "op-a/engine.execute", "op-a/queries.build", "op-b"}


def test_eventlog_reads_rolling_directory(tmp_path):
    with open(FIXTURE) as f:
        lines = f.readlines()
    (tmp_path / "events_2_app").write_text("".join(lines[8:]))
    (tmp_path / "events_1_app").write_text("".join(lines[:8]))
    (tmp_path / "appstatus_app").write_text("")
    assert eventlog.read(str(tmp_path)).jobs.keys() == eventlog.read(FIXTURE).jobs.keys()


# -- metric names --------------------------------------------------------------


def test_metric_name_pattern():
    assert METRIC_NAME.match("exec.single_task_stage_ratio")
    for bad in ("", ".x", "has space", "a/b", "x" * 65):
        assert not METRIC_NAME.match(bad)
    with pytest.raises(ValueError):
        check_metric_names(["ok", "not ok"])


def test_benchmark_json_matches_the_runner():
    import run

    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    check_metric_names(list(e2e) + list(layers) + [w["name"] for w in bench["workloads"]])
    assert {w["name"] for w in bench["workloads"]} == {"interactive", "lakehouse_rw"}


# -- process supervision ---------------------------------------------------------


_ORPHAN = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
import run
run._prctl(run.PR_SET_CHILD_SUBREAPER, 1)
# the shell exits at once; its sleep, which ignores SIGTERM, is left orphaned
subprocess.run(["bash", "-c", "trap '' TERM; sleep 60 >/dev/null 2>&1 &"])
left = run._descendants()
run.end_descendants(0.2)
print(len(left), run._reap(), run._descendants())
"""


def test_end_descendants_reaps_orphans():
    """An orphan that ignores SIGTERM comes to the subreaper and is killed
    and reaped; nothing is left below it."""
    out = subprocess.run(
        [sys.executable, "-c", _ORPHAN, BENCH_DIR], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["1", "False", "[]"]


# -- smoke -------------------------------------------------------------------


@pytest.mark.parametrize("workload", ["interactive", "lakehouse_rw"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    """Each workload on the sf0.001 corpus, in both modes: every output
    correct, and exactly the metrics BENCHMARK.json names."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    bench = _benchmark()
    expected = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in expected
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
