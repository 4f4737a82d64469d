#!/usr/bin/env python3
"""Runs one benchmark workload as a closed loop and prints its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload lakehouse_rw --seed 1 --seconds 20 --trace 1

Run from the root of a checkout. The command runs the benchmark in a
child process and returns only when every process started below it has
ended (see `supervise`). One client in that child issues each
operation after the previous one completes, on `local[nproc]`. Every
earlier line of stdout is a human-readable summary; the last line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (README.md). `--smoke` runs on a tiny corpus for tests.

All artifacts go under perfbench/.work/: the generated corpus (kept
between runs), per-run scratch (emptied at the start and end of each
run) and trace files.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import glob
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
RUN_DIR = os.path.join(WORK, "run")
CPUS = len(os.sched_getaffinity(0))

# Set in the child process that runs the benchmark itself.
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
END_GRACE_S = 10.0  # for leftover processes to end by themselves

SCALE = 0.01
SMOKE_SCALE = 0.001
SETUPS = 3  # setup_s is the median of this many set-ups in one run
TAIL_PERCENTILE = 75.0  # lowered when a run has too few samples for it

END_TO_END = {
    "setup_s": "s",
    "suite_s": "s",
    "query_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.register_s": "s",
    "warmup_s": "s",
    "dialect.translate_s": "s",
    "rewrites.apply_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "engine.analyze_s": "s",
    "engine.optimize_s": "s",
    "engine.plan_s": "s",
    "engine.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.single_task_stage_ratio": "ratio",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.rows_scanned_per_row_out": "ratio",
    "exec.failed_tasks": "count",
    "plan.shuffles": "count",
    "plan.broadcasts": "count",
    "plan.sort_merge_joins": "count",
    "py.nodes": "count",
    "py.bytes_to_python": "B",
    "py.bytes_from_python": "B",
    "iceberg.plan_files_s": "s",
    "iceberg.files_scanned": "count",
    "iceberg.prune_ratio": "ratio",
    "iceberg.delete_files": "count",
    "iceberg.commit_s": "s",
    "iceberg.files_per_commit": "count",
    "iceberg.bytes_written": "B",
    "iceberg.compact_s": "s",
    "iceberg.expire_s": "s",
    "iceberg.bytes_reclaimed": "B",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_s": "s",
    "trace.plan_shape_s": "s",
    "host.spin_1c_before_s": "s",
    "host.spin_1c_after_s": "s",
    "host.spin_nc_before_s": "s",
    "host.spin_nc_after_s": "s",
}

# Span name -> per-layer metric of its summed self time.
LAYER_SPANS = (
    "session.start",
    "registry.register",
    "warmup",
    "dialect.translate",
    "rewrites.apply",
    "queries.build",
    "engine.analyze",
    "engine.optimize",
    "engine.plan",
    "engine.execute",
    "trace.plan_shape",
    "iceberg.plan_files",
    "iceberg.commit",
    "iceberg.compact",
    "iceberg.expire",
    "stream.trigger",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny corpus, for tests")
    return p.parse_args(argv)


def isolate() -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    per-run directory, before the engine is imported."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "eventlog", "tables"):
        os.makedirs(os.path.join(RUN_DIR, d))
    tmp = os.path.join(RUN_DIR, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_WAREHOUSE=os.path.join(RUN_DIR, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(RUN_DIR, "spark-local"),
        TMPDIR=tmp,
        # no hsperfdata file, which the JVM writes under /tmp regardless
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    for p in (ROOT, BENCH_DIR):
        if p not in sys.path:
            sys.path.insert(0, p)


def prepared_data(scale: float) -> str:
    dest = os.path.join(WORK, "data", f"sf{scale}")
    if not os.path.isdir(dest):
        subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "prepare.py"), str(scale), dest],
            check=True,
            cwd=ROOT,
            stdout=sys.stderr,
        )
    return dest


class Runner:
    """Owns the session, the workload and every measurement of one run."""

    def __init__(self, workload, data: str, tracer):
        self.wl = workload
        self.data = data
        self.tracer = tracer
        self.ctx = None
        # The engine caches DataFrames keyed on id() of the session; keeping
        # every stopped session referenced keeps those ids unique.
        self._retired = []

    def set_job_group(self, op, layer) -> None:
        if op is not None and self.ctx is not None:
            self.ctx.spark.sparkContext.setJobGroup(f"{op}/{layer}", layer)

    def setup(self, extra_conf=None) -> float:
        """Stop any session, then start one, register sources and warm up."""
        from iceberg_query_engine_spark.session import get_spark

        from workloads import Context

        if self.ctx is not None:
            self.ctx.spark.stop()
            self._retired.append(self.ctx.spark)
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=extra_conf)
        self.ctx = Context(
            spark=spark,
            data_dir=os.path.join(self.data, "driver"),
            full_dir=os.path.join(self.data, "full"),
            run_dir=RUN_DIR,
            tracer=tr,
        )
        with tr.span("registry.register"):
            self.wl.register(self.ctx)
        with tr.span("warmup"):
            self.wl.probe(self.ctx)
        return time.perf_counter() - t0

    def measure(self, seconds: float, rng: random.Random, first_pass: int, min_passes: int, warm=False):
        """Whole passes until `seconds` have elapsed and at least
        `min_passes` ran; the window closes at a pass boundary."""
        passes, walls = [], []
        t_end = time.perf_counter() + seconds
        while len(passes) < min_passes or time.perf_counter() < t_end:
            gc.collect()
            t0 = time.perf_counter()
            passes.append(self.wl.run_pass(self.ctx, rng, first_pass + len(passes), time.perf_counter, warm))
            walls.append(time.perf_counter() - t0)
        return passes, walls

    def jvm_pid(self) -> int:
        return self.ctx.spark.sparkContext._gateway.proc.pid


def end_to_end(wl, setup_times, walls, records, rss_mb) -> tuple[dict, dict]:
    """(metrics for BENCHMARK.json, extra figures for the summary)."""
    from harness import TAIL_BEYOND, median, tail

    extra = {"peak_rss_mb": rss_mb, "setup_times_s": setup_times, "pass_walls_s": walls}
    latencies = {}
    for kind in ("query", "write", "maintenance"):
        samples = [r.seconds for r in records if r.kind == kind and r.error is None]
        if not samples:
            continue
        latencies[kind] = median(samples)
        extra[f"{kind}_p50_s"] = latencies[kind]
        extra[f"{kind}_samples"] = len(samples)
        if len(samples) > TAIL_BEYOND:
            value, pct, _n = tail(samples, TAIL_PERCENTILE)
            extra[f"{kind}_tail_s"], extra[f"{kind}_tail_percentile"] = value, pct
    extra.update(wl.amplification())
    metrics = {
        "setup_s": median(setup_times),
        "suite_s": median(walls),
        "query_p50_s": latencies["query"],
    }
    return metrics, extra


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(runner, traced, untraced_walls, spins) -> tuple[dict, list]:
    """Per-layer metrics of the traced passes (median over passes of each
    pass's sum) and the per-operation breakdown for the trace file."""
    import eventlog
    from harness import median

    tr = runner.tracer
    passes, walls = traced
    selfs = tr.self_times()
    by_op: dict[str, list] = {}
    for s in tr.spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    roots = {op: next(s for s in spans if s.parent is None) for op, spans in by_op.items()}
    logs = glob.glob(os.path.join(RUN_DIR, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    exec_by_key = eventlog.attribute(
        eventlog.read(logs[0]), [(op, r.start, r.end) for op, r in roots.items()]
    )
    zero = dict.fromkeys(eventlog.COUNTERS, 0.0)

    ops, per_pass = [], []
    for recs in passes:
        m = dict.fromkeys(PER_LAYER, 0.0)
        ex = dict(zero)
        counts: dict[str, float] = {}  # plan shapes and layer counters of the ops
        for r in recs:
            spans = by_op.get(r.op_id, [])
            layers: dict[str, float] = {}
            for s in spans:
                key = "unattributed" if s.parent is None else s.name
                layers[key] = layers.get(key, 0.0) + selfs[s.id]
            for name in LAYER_SPANS:
                m[f"{name}_s"] += layers.get(name, 0.0)
            m["trace.unattributed_s"] += layers.get("unattributed", 0.0)
            op_exec = exec_by_key.get(r.op_id, zero)
            for k in eventlog.COUNTERS:
                ex[k] += op_exec[k]
            m["queries.build_jobs"] += exec_by_key.get(f"{r.op_id}/queries.build", zero)["jobs"]
            for k, v in r.shape.items():
                counts[k] = counts.get(k, 0.0) + v
            ops.append(
                {
                    "op": r.op_id,
                    "kind": r.kind,
                    "wall_s": roots[r.op_id].seconds if r.op_id in roots else r.seconds,
                    "layers_self_s": layers,
                    "exec": op_exec,
                    "shape": r.shape,
                    "ok": r.ok,
                }
            )
        for k in eventlog.COUNTERS:
            if f"exec.{k}" in m:
                m[f"exec.{k}"] = ex[k]
        m["exec.single_task_stage_ratio"] = _ratio(ex["single_task_stages"], ex["stages"])
        m["exec.rows_scanned_per_row_out"] = _ratio(counts.get("rows_scanned", 0), counts.get("rows_out", 0))
        for metric, key in (
            ("plan.shuffles", "shuffles"),
            ("plan.broadcasts", "broadcasts"),
            ("plan.sort_merge_joins", "sort_merge_joins"),
            ("py.nodes", "py_nodes"),
            ("py.bytes_to_python", "bytes_to_python"),
            ("py.bytes_from_python", "bytes_from_python"),
            ("iceberg.files_scanned", "files_scanned"),
            ("iceberg.delete_files", "delete_files"),
            ("iceberg.bytes_written", "bytes_written"),
            ("iceberg.bytes_reclaimed", "bytes_reclaimed"),
            ("stream.batches", "batches"),
            ("stream.input_rows", "input_rows"),
        ):
            m[metric] = counts.get(key, 0.0)
        m["iceberg.prune_ratio"] = 1 - _ratio(counts.get("prune_kept", 0), counts.get("prune_total", 0)) if counts.get("prune_total") else 0.0
        m["iceberg.files_per_commit"] = _ratio(counts.get("files_committed", 0), counts.get("commits", 0))
        m["stream.add_batch_s"] = counts.get("add_batch_ms", 0.0) / 1e3
        per_pass.append(m)

    out = {k: median([p[k] for p in per_pass]) for k in PER_LAYER}
    setup_layers: dict[str, list[float]] = {}
    for s in tr.spans:
        if s.op is None and s.parent is None:
            setup_layers.setdefault(s.name, []).append(s.seconds)
    for name in ("session.start", "registry.register", "warmup"):
        out[f"{name}_s"] = median(setup_layers[name])
    out["trace.overhead_ratio"] = median(walls) / median(untraced_walls)
    out.update(spins)
    return out, ops


def main(argv=None) -> int:
    args = parse_args(argv)
    isolate()
    import iceberg_query_engine_spark  # noqa: F401  fail fast outside a checkout

    from harness import Tracer, check_metric_names, host_spins, peak_rss_mb, steal_seconds
    from lakehouse import Lakehouse
    from workloads import Interactive, shutdown

    workloads = {"interactive": Interactive, "lakehouse_rw": Lakehouse}
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    check_metric_names(list(END_TO_END) + list(PER_LAYER))
    data = prepared_data(SMOKE_SCALE if args.smoke else SCALE)

    spin_1c_before, spin_nc_before = host_spins(CPUS)
    steal_before = steal_seconds()
    rng = random.Random(args.seed)
    wl = workloads[args.workload]()
    # With --trace 1 the set-ups and the second half of the window are
    # traced; the warm-up pass and the first half run untraced.
    tracer = Tracer(enabled=bool(args.trace))
    runner = Runner(wl, data, tracer)
    tracer.on_enter = runner.set_job_group

    setup_times = [runner.setup() for _ in range(SETUPS)]
    tracer.enabled = False
    # The warm-up pass runs in the same order on every seed, so each
    # measured window starts from the same warmed state.
    warm, warm_walls = runner.measure(0, random.Random(0), 0, 1, warm=True)
    records = [r for p in warm for r in p]
    if args.trace:
        untraced, untraced_walls = runner.measure(args.seconds / 2, rng, len(warm), 1)
        runner.setup(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(RUN_DIR, "eventlog"),
            }
        )
        # the new session's Python workers and caches start cold again
        rewarm, _ = runner.measure(0, random.Random(0), len(warm) + len(untraced), 1, warm=True)
        records += [r for p in rewarm for r in p]
        tracer.enabled = True
        traced = runner.measure(args.seconds / 2, rng, len(warm) + len(untraced) + 1, 1)
        measured = untraced + traced[0]
    else:
        measured, walls = runner.measure(args.seconds, rng, len(warm), wl.min_passes)
    records += [r for p in measured for r in p]
    rss_mb = peak_rss_mb(runner.jvm_pid())  # before the check's own allocations
    wl.check(records)
    shutdown(runner.ctx.spark)
    steal = steal_seconds() - steal_before
    spin_1c_after, spin_nc_after = host_spins(CPUS)

    failed = sum(1 for r in records if not r.ok)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": CPUS,
        "attempted": len(records),
        "failed": failed,
        "fail_ratio": failed / len(records),
        "failures": [f"{r.op_id}: {r.error or 'wrong result'}" for r in records if not r.ok][:20],
        "host.spin_1c_s": [spin_1c_before, spin_1c_after],
        "host.spin_nc_s": [spin_nc_before, spin_nc_after],
        "warm_pass_s": warm_walls[0],
        "host.steal_s": steal,
    }
    if args.trace:
        spins = {
            "host.spin_1c_before_s": spin_1c_before,
            "host.spin_1c_after_s": spin_1c_after,
            "host.spin_nc_before_s": spin_nc_before,
            "host.spin_nc_after_s": spin_nc_after,
        }
        values, ops = per_layer(runner, traced, untraced_walls, spins)
        units = PER_LAYER
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"summary": summary, "per_layer": values, "ops": ops}, f, indent=1)
        summary["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        values, extra = end_to_end(wl, setup_times, walls, [r for p in measured for r in p], rss_mb)
        units = END_TO_END
        summary.update(extra)
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    for k, v in values.items():
        print(f"{k:32s} {v:.6g} {units[k]}")
    print(json.dumps(summary, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(records),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


def _descendants() -> list[int]:
    """Processes below this one, ended or not."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    me, out = os.getpid(), []
    for pid in parent:
        p = parent[pid]
        while p in parent and p != me:
            p = parent[p]
        if p == me:
            out.append(pid)
    return out


def _reap() -> bool:
    """Reap every ended child; True while any child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def end_descendants(grace: float) -> None:
    """Wait up to `grace` seconds for every process below this one to end
    by itself, then send SIGTERM, and SIGKILL 5 s later; reap each.

    As a subreaper this process becomes the parent of every orphan below
    it, so having no child left means having no descendant left. (A
    process whose threads are still exiting already reads as a zombie
    but cannot be reaped yet; waiting on children covers it.)"""
    deadline = time.monotonic() + grace
    signals = [signal.SIGTERM, signal.SIGKILL]
    while _reap():
        if time.monotonic() >= deadline:
            sig = signals.pop(0) if len(signals) > 1 else signals[0]
            for pid in _descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option}) failed")


def supervise(argv) -> int:
    """Run the benchmark in a child process and return its exit code once
    every process started below this one has ended.

    As a child subreaper this process inherits whatever the child leaves
    orphaned (the JVM, Spark's Python workers, spinners), on every path
    out of it, so nothing the run started outlives the command. The child
    is killed if this process dies first, and then its JVM ends as its
    stdin closes."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, WORKER_ENV: "1"},
        preexec_fn=lambda: _prctl(PR_SET_PDEATHSIG, signal.SIGKILL),
    )

    def forward(signum, _frame):
        try:
            os.kill(child.pid, signum)
        except ProcessLookupError:
            pass

    for sig in (signal.SIGINT, signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, forward)
    try:
        code = child.wait()
    finally:
        end_descendants(END_GRACE_S)
    return code if code >= 0 else 128 - code


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(WORKER_ENV) else supervise(sys.argv[1:]))
