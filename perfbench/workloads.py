"""Operations shared by the workloads, and the `interactive` workload.

Each workload's `run_pass` times its operations. With tracing on, each
call into a layer of the engine is wrapped in a span named after the
layer (README.md maps spans to modules), so the spans of one operation
account for its wall time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from iceberg_query_engine_spark.functions import dialect
from iceberg_query_engine_spark.plans.rewrites import apply_rewrites
from iceberg_query_engine_spark.queries import catalog, tpch, tpch_full
from iceberg_query_engine_spark.sources import registry
from iceberg_query_engine_spark.testing import _canon

from harness import Tracer

# Physical operators that hand rows to Python workers.
PY_NODE_MARKERS = ("Python", "InPandas", "InArrow")


@dataclass
class Context:
    spark: SparkSession
    data_dir: str  # driver-schema tables (queries.tpch and the extension suites)
    full_dir: str  # genuine 8-table TPC-H schema (queries.tpch_full texts)
    run_dir: str  # per-run scratch, emptied before each run
    tracer: Tracer


@dataclass
class OpRecord:
    name: str
    kind: str  # "query", "write" or "maintenance"
    op_id: str  # "p<pass>.<index>.<name>", unique in a run
    seconds: float = 0.0
    result: object = None  # digest or value the check compares
    error: str | None = None
    ok: bool | None = None  # set by the workload's check
    shape: dict = field(default_factory=dict)


def shutdown(spark: SparkSession) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit; the
    Python workers Spark started are its children and go with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def digest(pdf) -> str:
    """Hash of `testing.compare`'s canonical form of a result: equal
    digests mean compare() would report a match."""
    canon = _canon(pdf)
    h = hashlib.sha256(json.dumps(list(canon.columns)).encode())
    h.update(canon.to_csv(index=False, header=False).encode())
    return h.hexdigest()


def _jvm_plan_nodes(plan):
    """Physical nodes of an executed plan, AQE's final plan and scalar
    subqueries included; reused exchanges are not descended into."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield name, node
        if name == "ReusedExchangeExec":
            continue
        for seq in (node.children(), node.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                stack.append(it.next())


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


# Final-plan node -> plan shape counter.
PLAN_COUNTERS = {
    "ShuffleExchangeExec": "shuffles",
    "BroadcastExchangeExec": "broadcasts",
    "SortMergeJoinExec": "sort_merge_joins",
}


def plan_shape(df: DataFrame, rows_out: int) -> dict:
    """Shape of the final (post-AQE) plan: exchanges and sort-merge
    joins, Python-boundary nodes and their bytes, and rows read by scans.

    Counted on the plan tree itself: after execution the formatted
    explain that plans.introspect counts holds AQE's initial plan as
    well as its final one, so its counts include both."""
    shape = dict.fromkeys(PLAN_COUNTERS.values(), 0)
    shape.update(py_nodes=0, bytes_to_python=0, bytes_from_python=0, rows_scanned=0, rows_out=rows_out)
    for name, node in _jvm_plan_nodes(df._jdf.queryExecution().executedPlan()):
        if name in PLAN_COUNTERS:
            shape[PLAN_COUNTERS[name]] += 1
        elif any(m in name for m in PY_NODE_MARKERS):
            shape["py_nodes"] += 1
            shape["bytes_to_python"] += _metric(node, "pythonDataSent")
            shape["bytes_from_python"] += _metric(node, "pythonDataReceived")
        elif name.endswith("ScanExec"):
            shape["rows_scanned"] += _metric(node, "numOutputRows")
    return shape


def execute(ctx: Context, df: DataFrame, shape: dict):
    """Run a built DataFrame to a pandas result on the client.

    With tracing on, Catalyst's phases are forced one at a time first, so
    each gets its own span, and the final plan's shape is read after."""
    tr = ctx.tracer
    if tr.enabled:
        qe = df._jdf.queryExecution()
        with tr.span("engine.analyze"):
            qe.analyzed()
        with tr.span("engine.optimize"):
            qe.optimizedPlan()
        with tr.span("engine.plan"):
            qe.executedPlan()
    with tr.span("engine.execute"):
        pdf = df.toPandas()
    if tr.enabled:
        with tr.span("trace.plan_shape"):
            shape.update(plan_shape(df, len(pdf)))
    return pdf


# -- the interactive workload ---------------------------------------------

# sim_ivf_topk crosses the Arrow/Python boundary (functions.vector) and
# launches Spark jobs while its DataFrame is built (IVF training). More
# extension operators do not fit the per-run time budget (README.md).
PIPELINE_OPS = ("sim_ivf_topk",)


@dataclass(frozen=True)
class Query:
    name: str
    family: str  # "sql": verbatim TPC-H text; "df": Python-built DataFrame


def interactive_queries() -> list[Query]:
    """Each TPC-H query once: odd numbers (q9, the rewrite target,
    among them) as verbatim SQL text, even numbers as the adapted
    DataFrame build; then the extension operators."""
    out = [
        Query(f"tpchfull_q{n}", "sql") if n % 2 else Query(f"q{n}", "df") for n in range(1, 23)
    ]
    out += [Query(name, "df") for name in PIPELINE_OPS]
    return out


def oracle_sql(q: Query, full_dir: str) -> str:
    """The DuckDB twin from catalog.all_oracles(), pointed at the
    benchmark's own copy of the full-schema corpus."""
    sql = catalog.all_oracles()[q.name]
    if q.family == "sql":
        sql = sql.replace(tpch_full.ORACLE_DIR + "/", full_dir + "/")
    return sql


class Interactive:
    """Closed loop over TPC-H, as verbatim SQL text and as the adapted
    DataFrame builds, plus extension operators that cross into Python."""

    min_passes = 1

    def __init__(self) -> None:
        self.queries = interactive_queries()
        self._builders = catalog.all_queries()
        self.expected: dict[str, str] = {}

    def register(self, ctx: Context) -> None:
        if not self.expected:
            with open(os.path.join(os.path.dirname(ctx.data_dir), "oracle_digests.json")) as f:
                self.expected = json.load(f)
        # The SQL texts name the eight full-schema tables; the DataFrame
        # builds read their parquet directly.
        for t in tpch_full.FULL_TABLES:
            registry.register_parquet(ctx.spark, t, os.path.join(ctx.full_dir, f"{t}.parquet"))

    def probe(self, ctx: Context) -> None:
        self._run(ctx, self.queries[0], {})

    def _run(self, ctx: Context, q: Query, shape: dict):
        tr = ctx.tracer
        if q.family == "sql":
            with tr.span("rewrites.apply"):
                text = apply_rewrites(tpch_full.QUERY_TEXTS[int(q.name.rsplit("q", 1)[1])])
            with tr.span("dialect.translate"):
                text = dialect.translate(text)
            with tr.span("queries.build"):
                df = ctx.spark.sql(text)
        else:
            with tr.span("queries.build"):
                df = self._builders[q.name](ctx.spark, ctx.data_dir)
        return execute(ctx, df, shape)

    def run_pass(self, ctx: Context, rng: random.Random, pass_no: int, clock, warm: bool) -> list[OpRecord]:
        """All operations, in the order the seed picks; the warm-up pass
        runs them all too, since each query compiles its own plan."""
        order = list(self.queries)
        rng.shuffle(order)
        records = []
        for i, q in enumerate(order):
            op_id = f"p{pass_no}.{i}.{q.name}"
            rec = OpRecord(q.name, "query", op_id)
            t0 = clock()
            try:
                with ctx.tracer.span("op", op=op_id):
                    pdf = self._run(ctx, q, rec.shape)
                rec.seconds = clock() - t0
                rec.result = digest(pdf)
            except Exception as e:  # a failed operation is counted, not fatal
                rec.seconds = clock() - t0
                rec.error = f"{type(e).__name__}: {e}"[:500]
            records.append(rec)
            # frames persisted behind the library's size gate stay pinned
            # until released (as bench.py does between operations)
            tpch.release_gated_persists()
        return records

    def amplification(self) -> dict:
        return {}

    def check(self, records: list[OpRecord]) -> None:
        for r in records:
            r.ok = r.error is None and r.result == self.expected.get(r.name)
