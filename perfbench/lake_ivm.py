"""Workload ``lake_ivm``: the lake's write path beside its reads.

Set-up writes a base snapshot of a seeded ``orders`` table and a stored
per-``o_orderstatus`` aggregate over it. Each timed op hands in one seeded
CDC batch (about 1 % upserts, 0.5 % deletes, by key) and runs
``merge_cdc_delta`` -> ``fold_agg_join_view`` -> a full
``read_current_with_deltas`` scan -> ``read_agg``. After every
``FLATTEN_EVERY`` batches, ``flatten_deltas`` + ``stamp_applied_state``
close the cycle, so the delta depth a read resolves cycles 1..F. A timed
unit is one whole cycle. Every read follows a fresh write, so caches miss.
"""

from __future__ import annotations

import os
import time

import datagen
import numpy as np
import pyarrow.parquet as pq
from harness import Run, Tracer, dir_bytes, files, log, median, timed_units

SIZES = {"full": 50_000, "tiny": 2_000}
N_CUST = 5_000
UPSERT_FRAC, DELETE_FRAC = 0.01, 0.005
FLATTEN_EVERY = 2
WARMUP_CYCLES = 1
SETUP_REPEATS = 3
KEY = ["o_orderkey"]
GROUP, VALUE = "o_orderstatus", "o_totalprice"

_CALLS = {
    "lake.merge_cdc_delta": ("s", "jobs", "tasks"),
    "view_maintenance.fold_agg_join_view": ("s", "jobs", "tasks"),
    "lake.read_current_with_deltas": ("s", "jobs", "tasks"),
    "lake.flatten_deltas": ("s", "jobs", "tasks"),
    "view_maintenance.stamp_applied_state": ("s", "jobs"),
    "view_maintenance.read_agg": ("s", "jobs"),
}
PER_LAYER = {
    f"{call}.{m}": ("s" if m == "s" else "count") for call, ms in _CALLS.items() for m in ms
}
PER_LAYER.update({f"lake.mor_read.d{k}.s": "s" for k in range(1, FLATTEN_EVERY + 1)})
PER_LAYER.update(
    {
        "lake.bytes_written_per_user_byte": "ratio",
        "lake.files": "count",
        "lake.space_amp": "ratio",
        "lake_ivm.freshness_s": "s",
        "lake_ivm.mor_read_s": "s",
        "lake_ivm.flatten_s": "s",
        "lake_ivm.trace_overhead": "ratio",
        "lake_ivm.timed_trend": "ratio",
    }
)


class Batches:
    """The seeded CDC stream: batch ``i`` is the same in every run with
    one seed, however many batches a run gets through."""

    def __init__(self, out_dir: str, base, seed: int):
        self.dir = out_dir
        self.rng = np.random.default_rng(seed + 1)
        self.live = np.sort(base.column("o_orderkey").to_numpy())
        self.next_key = int(self.live[-1]) + 1
        self.paths: list[str] = []

    def next(self) -> str:
        table, self.live, self.next_key = datagen.cdc_batch(
            self.rng, self.live, self.next_key, N_CUST, UPSERT_FRAC, DELETE_FRAC
        )
        path = os.path.join(self.dir, f"batch-{len(self.paths):05d}.parquet")
        pq.write_table(table, path)
        self.paths.append(path)
        return path


def _replay(base_path: str, batch_paths: list[str]):
    """The MOR state the batches should leave, replayed in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE t AS SELECT * FROM '{base_path}'")
        for p in batch_paths:
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM '{p}')")
            con.execute(
                f"INSERT INTO t SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice"
                f" FROM '{p}' WHERE _op <> 'delete'"
            )
        return sorted(con.execute("SELECT * FROM t").fetchall())
    finally:
        con.close()


def run(ctx) -> dict:
    from pgcp_spark.sources import lake
    from pgcp_spark.sources import view_maintenance as vm

    rows = SIZES["tiny" if ctx.tiny else "full"]
    rng = np.random.default_rng(ctx.seed)
    base = datagen.orders_table(rng, rows, N_CUST).select(["o_orderkey", "o_custkey", GROUP, VALUE])
    inputs = ctx.path("inputs")
    os.makedirs(inputs)
    base_path = os.path.join(inputs, "base.parquet")
    pq.write_table(base, base_path)
    batches = Batches(inputs, base, ctx.seed)

    log("inputs written")
    spark = ctx.spark("lake_ivm")
    tracer = Tracer(ctx.trace, spark)
    r = Run()
    op_s = {"freshness": [], "mor_read": [], "flatten": []}
    seen: dict[str, int] = {}  # lake file -> size, to count bytes written
    written = 0
    table_bytes, table_files = [], []

    def build(k: int) -> tuple[str, str]:
        table, agg = ctx.path(f"lake{k}", "orders"), ctx.path(f"lake{k}", "agg")
        lake.write_snapshot(spark.read.parquet(base_path), table)
        lake.write_snapshot(
            vm.build_agg_over(lake.read_current(spark, table), GROUP, VALUE),
            agg,
            meta={"applied_view_state": lake.pending_state(table)},
        )
        return table, agg

    def call(name: str, traced: bool, fn, *args):
        with tracer.span(name, count=traced) as sp:
            fn(*args)
        if traced:
            r.time(f"{name}.s", sp.s)
            r.count(f"{name}.jobs", sp.jobs)
            r.count(f"{name}.tasks", sp.tasks)
        return sp

    def track_bytes() -> None:
        nonlocal written
        for p, size in (files(table) | files(agg)).items():
            if seen.get(p) != size:
                written += size
                seen[p] = size
        table_bytes.append(dir_bytes(table))
        table_files.append(len(files(table)))

    def cycle(traced: bool, timed: bool) -> float:
        """F batches, then the flatten; returns the cycle's op time."""
        total = 0.0
        for depth in range(1, FLATTEN_EVERY + 1):
            r.attempted += timed
            path = batches.next()
            try:
                with tracer.span("batch", op=len(batches.paths)):
                    batch = spark.read.parquet(path)
                    m = call("lake.merge_cdc_delta", traced, lake.merge_cdc_delta,
                             spark, table, batch, KEY)
                    f = call("view_maintenance.fold_agg_join_view", traced, vm.fold_agg_join_view,
                             spark, agg, table, KEY, GROUP, VALUE)
                    s = call("lake.read_current_with_deltas", traced,
                             lambda: lake.read_current_with_deltas(spark, table, KEY)
                             .write.format("noop").mode("overwrite").save())
                    a = call("view_maintenance.read_agg", traced,
                             lambda: vm.read_agg(spark, agg, GROUP).collect())
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                if not timed:
                    raise
                r.fail(f"batch {len(batches.paths)}", exc)
                continue
            total += m.s + f.s + s.s + a.s
            if timed:
                op_s["freshness"].append(m.s + f.s)
                op_s["mor_read"].append(s.s)
            if traced:
                r.time(f"lake.mor_read.d{depth}.s", s.s)
            if timed and ctx.trace:
                track_bytes()
        r.attempted += timed
        try:
            with tracer.span("flatten", op=-len(batches.paths)):
                fl = call("lake.flatten_deltas", traced, lake.flatten_deltas, spark, table, KEY)
                st = call("view_maintenance.stamp_applied_state", traced, vm.stamp_applied_state,
                          spark, agg, table)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            if not timed:
                raise
            r.fail(f"flatten after batch {len(batches.paths)}", exc)
            return total
        total += fl.s + st.s
        if timed:
            op_s["flatten"].append(fl.s + st.s)
        if timed and ctx.trace:
            track_bytes()
        return total

    try:
        repeated = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            table, agg = build(k)
            repeated.append(time.perf_counter() - t)
        warm = [cycle(traced=False, timed=False) for _ in range(WARMUP_CYCLES)]
        log(f"warm-up cycles (s): {[round(x, 2) for x in warm]}")
        applied_before = len(batches.paths)
        seen.update(files(table) | files(agg))
        ctx.setup_done(repeated)

        for i, traced in timed_units(ctx.seconds, 2, ctx.trace):
            r.counting = traced and i == 0
            r.unit_s[traced].append(cycle(traced, timed=True))
            log(f"timed unit {i}: {r.unit_s[traced][-1]:.2f} s")
        r.counting = False
        log("timed ops done")

        # output checks, outside the timed region
        mor = lake.read_current_with_deltas(spark, table, KEY)
        if sorted(tuple(x) for x in mor.collect()) != _replay(base_path, batches.paths):
            r.checks_ok = False
            r.fail("merge-on-read state differs from the DuckDB replay of the batches")
        served = sorted(tuple(x) for x in vm.read_agg(spark, agg, GROUP).collect())
        rebuilt = vm.serve_agg(vm.build_agg_over(mor, GROUP, VALUE), GROUP)
        if served != sorted(tuple(x) for x in rebuilt.collect()):
            r.checks_ok = False
            r.fail("stored aggregate differs from its rebuild over the merge-on-read state")
        if ctx.trace:
            compact = ctx.path("compact")
            mor.write.parquet(compact)
            compact_bytes = dir_bytes(compact)
            user_bytes = sum(os.path.getsize(p) for p in batches.paths[applied_before:])
    finally:
        ctx.stop_spark(spark)
        if ctx.trace:
            tracer.write(ctx.spans_path())

    if not ctx.trace:
        return r.end_to_end(ctx.setup_s, median(op_s["freshness"]))
    return r.per_layer(
        PER_LAYER,
        {
            "lake.bytes_written_per_user_byte": written / max(1, user_bytes),
            "lake.files": median(table_files),
            "lake.space_amp": median(table_bytes) / max(1, compact_bytes),
            "lake_ivm.freshness_s": median(op_s["freshness"]),
            "lake_ivm.mor_read_s": median(op_s["mor_read"]),
            "lake_ivm.flatten_s": median(op_s["flatten"]),
            "lake_ivm.trace_overhead": r.trace_overhead(),
            "lake_ivm.timed_trend": r.timed_trend(),
        },
    )
