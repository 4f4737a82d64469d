"""The `lakehouse_rw` workload: writes beside reads on iceberg-lite.

One pass is the life of two tables. A month-partitioned table derived
from lineitem is built by appends (`write_snapshot`) of contiguous
ship-month ranges and key-range upserts (`upsert_snapshot`); after each
commit a fixed read mix runs: a full aggregate, a partition- and
stats-pruned read, and a time-travel read. Beside it, event slices land
as files and are ingested, one availableNow stream per slice, by
`streaming.jobs.read_event_stream` + `upsert_user_totals_sink`, each
followed by a read of the totals. The pass ends with `compact` +
`expire_snapshots` on both tables and a final read of each.

The seed chooses the month ranges, the upsert key ranges, the pruned
months and the event slices. Every read and both final tables are
checked against a DuckDB replay of the same batches.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from iceberg_query_engine_spark.sources import iceberg_lite as ice
from iceberg_query_engine_spark.sources import registry
from iceberg_query_engine_spark.streaming import jobs

from workloads import Context, OpRecord, execute

KEYS = ["l_orderkey", "l_linenumber"]
STATS = ["l_orderkey", "l_shipdate"]
# The table holds one year of lineitem (twelve month partitions), so a
# pass of small commits stays within the benchmark's time budget.
FIRST_MONTH, MONTHS = 24, 12
APPENDS = 2
SLICES = 2
# Upserts only touch rows already appended, so every key stays unique.
# The append after the upsert reads beside a live equality-delete file.
SCHEDULE = (("append", 0), ("upsert", 0), ("append", 1))
UPSERT_SHARE = 0.05  # of the appended keys, per upsert
INGEST_AFTER = (0, 2)  # a slice lands and is ingested after these commits

# The DuckDB side of each read, over a view `t`.
READS = {
    "full_agg": "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
    "MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM t GROUP BY l_returnflag, l_linestatus",
    "count_qty": "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM t",
    "totals": "SELECT COUNT(*) AS users, SUM(n_events) AS n, SUM(total_value) AS v FROM t",
}


def _agg(df, name: str):
    """The Spark side of READS[name]."""
    if name == "full_agg":
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    if name == "count_qty":
        return df.agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
    return df.agg(
        F.count(F.lit(1)).alias("users"),
        F.sum("n_events").alias("n"),
        F.sum("total_value").alias("v"),
    )


def rows_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same rows in any order; numbers compared with a relative
    tolerance, because float sums depend on the order of addition."""
    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    cols = sorted(a.columns)
    ra = sorted(map(tuple, a[cols].astype(object).values.tolist()), key=repr)
    rb = sorted(map(tuple, b[cols].astype(object).values.tolist()), key=repr)
    for x_row, y_row in zip(ra, rb):
        for x, y in zip(x_row, y_row):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def _listing(path: str) -> dict[str, int]:
    """File -> mtime under a directory."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _new_files(before: dict[str, int], after: dict[str, int]) -> list[str]:
    """Files created or rewritten between two listings."""
    return [p for p, mtime in after.items() if before.get(p) != mtime]


@dataclass
class Read:
    rec: OpRecord
    agg: str
    commits: int  # commits visible to the read
    months: list | None = None  # pruned read: partition filter ...
    max_key: int | None = None  # ... and stats predicate
    slices: int = 0  # totals read: slices ingested


@dataclass
class PassLog:
    """What one pass did, for the replay."""

    lineitem: str
    totals: str
    warm: bool
    commits: list = field(default_factory=list)  # (kind, rows)
    reads: list = field(default_factory=list)
    slices: list = field(default_factory=list)
    user_bytes: int = 0  # in-memory bytes of the rows committed
    lineitem_bytes: int = 0  # bytes written under the lineitem table
    space_amp: float = 0.0  # set by the check


class Lakehouse:
    # Two measured passes: one pass has only 13 reads, too few for a
    # steady median. The warm-up pass is shortened to pay for the second.
    min_passes = 2

    def __init__(self) -> None:
        self.passes: list[PassLog] = []
        self.source = None
        self._probes = 0

    def register(self, ctx: Context) -> None:
        src = os.path.join(ctx.data_dir, "lineitem.parquet")
        self.lineitem = registry.load_table(ctx.spark, src).withColumn(
            "l_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        if self.source is None:
            source = pq.read_table(src).to_pandas()
            source["l_month"] = source["l_shipdate"].dt.strftime("%Y-%m")
            self.months = sorted(source["l_month"].unique())[FIRST_MONTH : FIRST_MONTH + MONTHS]
            self.source = source[source["l_month"].isin(self.months)]
            self.events = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"))

    def probe(self, ctx: Context) -> None:
        self._probes += 1
        path = os.path.join(ctx.run_dir, "tables", f"probe{self._probes}")
        first = self.lineitem.filter(F.col("l_month") == self.months[0])
        ice.write_snapshot(first, path, partition_by="l_month", stats_columns=STATS)
        _agg(ice.IcebergLiteTable(path).read(ctx.spark), "count_qty").toPandas()

    def amplification(self) -> dict:
        logs = [p for p in self.passes if not p.warm]
        if not logs:
            return {}
        return {
            "write_amp": sum(p.lineitem_bytes for p in logs) / sum(p.user_bytes for p in logs),
            "space_amp": sum(p.space_amp for p in logs) / len(logs),
        }

    # -- one pass ------------------------------------------------------------
    def run_pass(self, ctx: Context, rng: random.Random, pass_no: int, clock, warm: bool) -> list[OpRecord]:
        """One pass; a warm-up pass stops after the first upsert, having
        run every kind of operation once."""
        schedule = SCHEDULE[:2] if warm else SCHEDULE
        n = len(self.months)
        bounds = [0, *(round(n * k / APPENDS) + rng.randint(-1, 1) for k in range(1, APPENDS)), n]
        ranges = [self.months[bounds[i] : bounds[i + 1]] for i in range(APPENDS)]
        order = list(range(self.events.num_rows))
        rng.shuffle(order)
        slices = [self.events.take(sorted(order[k::SLICES])) for k in range(SLICES)]

        base = os.path.join(ctx.run_dir, "tables", f"p{pass_no}")
        li, totals = os.path.join(base, "lineitem"), os.path.join(base, "user_totals")
        landing, ckpt = os.path.join(base, "landing"), os.path.join(base, "checkpoint")
        log = PassLog(li, totals, warm)
        self.passes.append(log)
        records: list[OpRecord] = []
        tr = ctx.tracer

        def op(name, kind, fn, table=None):
            rec = OpRecord(name, kind, f"p{pass_no}.{len(records)}.{name}")
            before = _listing(table) if table else {}
            t0 = clock()
            try:
                with tr.span("op", op=rec.op_id):
                    rec.result = fn(rec.shape)
            except Exception as e:  # a failed operation is counted, not fatal
                rec.error = f"{type(e).__name__}: {e}"[:500]
            rec.seconds = clock() - t0
            if table:
                new = _new_files(before, _listing(table))
                rec.shape["bytes_written"] = sum(os.path.getsize(p) for p in new)
                if kind == "write":
                    rec.shape["commits"] = 1
                    rec.shape["files_committed"] = sum(1 for p in new if p.endswith(".parquet"))
            records.append(rec)
            return rec

        def read(name, table, agg, snapshot_id=None, months=None, max_key=None):
            def fn(shape):
                kw = {"snapshot_id": snapshot_id}
                if months:
                    kw["partition_filters"] = [ice.PartitionFilter("l_month", months)]
                    kw["predicates"] = [("l_orderkey", "<=", max_key)]
                with tr.span("iceberg.plan_files"):
                    t = ice.IcebergLiteTable(table)
                    df = t.read(ctx.spark, **kw)
                shape["files_scanned"] = t.metrics.files_scanned
                if months:
                    shape["prune_total"] = t.metrics.files_total
                    shape["prune_kept"] = t.metrics.files_scanned
                shape["delete_files"] = sum(
                    1 for _e, _seq, content in t._files_with_meta(snapshot_id) if content != "data"
                )
                with tr.span("queries.build"):
                    if months:
                        df = df.filter(F.col("l_month").isin(months) & (F.col("l_orderkey") <= max_key))
                    df = _agg(df, agg)
                return execute(ctx, df, shape)

            visible = len(log.commits) if snapshot_id is None else snapshot_ids.index(snapshot_id) + 1
            rec = op(name, "query", fn)
            log.reads.append(Read(rec, agg, visible, months, max_key, len(log.slices)))

        appended = self.source.iloc[0:0]
        current = appended  # expected live rows, to build upserts from
        snapshot_ids: list[int] = []
        for i, (kind, k) in enumerate(schedule):
            if kind == "append":
                rows = self.source[self.source["l_month"].isin(ranges[k])]
                appended = pd.concat([appended, rows])
                current = pd.concat([current, rows])

                def commit(shape, months=ranges[k]):
                    df = self.lineitem.filter(F.col("l_month").isin(months))
                    with tr.span("iceberg.commit"):
                        return ice.write_snapshot(df, li, partition_by="l_month", stats_columns=STATS)

            else:
                keys = sorted(appended["l_orderkey"].unique())
                width = max(1, int(len(keys) * UPSERT_SHARE))
                lo = rng.randrange(0, len(keys) - width + 1)
                hit = current["l_orderkey"].between(keys[lo], keys[lo + width - 1])
                rows = current[hit].copy()
                rows["l_quantity"] = rows["l_quantity"] + 1
                current = pd.concat([current[~hit], rows])

                def commit(shape, rows=rows):
                    with tr.span("queries.build"):
                        # one client batch, one task: files = months touched
                        df = ctx.spark.createDataFrame(rows, schema=self.lineitem.schema).coalesce(1)
                    with tr.span("iceberg.commit"):
                        return ice.upsert_snapshot(
                            ctx.spark, li, df, KEYS, partition_by="l_month", stats_columns=STATS
                        )

            rec = op(f"{kind}{k}", "write", commit, table=li)
            log.commits.append((kind, rows))
            log.user_bytes += pa.Table.from_pandas(rows, preserve_index=False).nbytes
            log.lineitem_bytes += rec.shape["bytes_written"]
            snapshot_ids.append(rec.result)

            read("full_agg", li, "full_agg")
            read(
                "pruned_read",
                li,
                "count_qty",
                months=rng.sample(sorted(set(appended["l_month"])), 3),
                max_key=int(appended["l_orderkey"].median()),
            )
            read("time_travel", li, "count_qty", snapshot_id=snapshot_ids[max(0, i - 1)])

            if i in INGEST_AFTER:
                s = len(log.slices)
                os.makedirs(os.path.join(landing, f"slice={s}"))
                pq.write_table(slices[s], os.path.join(landing, f"slice={s}", "events.parquet"))
                log.slices.append(slices[s])

                def ingest(shape):
                    with tr.span("stream.trigger"):
                        q = (
                            jobs.read_event_stream(ctx.spark, landing)
                            .writeStream.foreachBatch(jobs.upsert_user_totals_sink(totals))
                            .option("checkpointLocation", ckpt)
                            .trigger(availableNow=True)
                            .start()
                        )
                        q.awaitTermination()
                    progress = q.recentProgress
                    shape["batches"] = len(progress)
                    shape["input_rows"] = sum(p.numInputRows for p in progress)
                    shape["add_batch_ms"] = sum(p.durationMs.get("addBatch", 0) for p in progress)

                op(f"ingest{s}", "write", ingest, table=totals)
                read("totals", totals, "totals")

        def maintain(shape):
            for table, part in ((li, "l_month"), (totals, None)):
                with tr.span("iceberg.compact"):
                    ice.compact(ctx.spark, table, partition_by=part, stats_columns=STATS if part else None)
                with tr.span("iceberg.expire"):
                    res = ice.expire_snapshots(table, keep_last=1)
                shape["bytes_reclaimed"] = shape.get("bytes_reclaimed", 0) + res.bytes_reclaimed

        rec = op("maintenance", "maintenance", maintain, table=li)
        log.lineitem_bytes += rec.shape["bytes_written"]
        read("final_full_agg", li, "full_agg")
        read("final_totals", totals, "totals")
        return records

    # -- correctness -------------------------------------------------------
    def check(self, records: list[OpRecord]) -> None:
        for r in records:
            r.ok = r.error is None
        for log in self.passes:
            try:
                self._check_pass(log)
            except Exception:  # a pass that cannot be replayed counts as failed
                for rd in log.reads:
                    rd.rec.ok = False

    def _check_pass(self, log: PassLog) -> None:
        """Replay the pass's batches in DuckDB; mark every read that
        disagrees, and the pass's final read when a final table does."""
        cols = list(self.source.columns)
        con = duckdb.connect()
        try:
            for n, (kind, rows) in enumerate(log.commits, start=1):
                con.register("batch", rows[cols])
                if n == 1:
                    con.execute("CREATE TABLE li AS SELECT * FROM batch LIMIT 0")
                if kind == "upsert":
                    con.execute(
                        "DELETE FROM li WHERE (l_orderkey, l_linenumber) IN "
                        "(SELECT (l_orderkey, l_linenumber) FROM batch)"
                    )
                con.execute("INSERT INTO li BY NAME SELECT * FROM batch")
                con.execute(f"CREATE TABLE s{n} AS SELECT * FROM li")
            for n in range(1, len(log.slices) + 1):
                con.register(f"ev{n}", pa.concat_tables(log.slices[:n]))
                con.execute(
                    f"CREATE TABLE tot{n} AS SELECT user_id, COUNT(*) AS n_events, "
                    f"SUM(value) AS total_value FROM ev{n} GROUP BY user_id"
                )
            for rd in log.reads:
                if rd.rec.error is not None:
                    continue
                if rd.agg == "totals":
                    view = f"SELECT * FROM tot{rd.slices}"
                elif rd.months:
                    months = ", ".join(f"'{m}'" for m in rd.months)
                    view = f"SELECT * FROM s{rd.commits} WHERE l_month IN ({months}) AND l_orderkey <= {rd.max_key}"
                else:
                    view = f"SELECT * FROM s{rd.commits}"
                con.execute(f"CREATE OR REPLACE TEMP VIEW t AS {view}")
                if not rows_match(rd.rec.result, con.execute(READS[rd.agg]).df()):
                    rd.rec.ok = False
            # the compacted tables hold no delete files, so their data
            # files alone are the live rows
            final_li = _live_rows(log.lineitem)
            final_tot = _live_rows(log.totals)
            ok = rows_match(final_li[cols], con.execute("SELECT * FROM li").df()) and rows_match(
                final_tot, con.execute(f"SELECT * FROM tot{len(log.slices)}").df()
            )
            if not ok:
                final = next(r.rec for r in log.reads if r.rec.name == "final_full_agg")
                final.ok = False
            compacted = os.path.join(os.path.dirname(log.lineitem), "compacted.parquet")
            pq.write_table(pa.Table.from_pandas(final_li, preserve_index=False), compacted)
            log.space_amp = _dir_bytes(log.lineitem) / os.path.getsize(compacted)
        finally:
            con.close()


def _live_rows(path: str) -> pd.DataFrame:
    table = ice.IcebergLiteTable(path)
    files = [os.path.join(path, e["file_path"]) for e in table.data_files()]
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _listing(path))
