"""Workload ``analytics_read``: stateless registry queries, read-only.

Each pass runs every query of ``QUERIES`` once, in an order shuffled from
the seed, and runs each query to completion through Spark's ``noop`` sink.
Every pass reads the same paths, so the program's in-process metadata
caches hit: this is the in-cache case, with no lake writes and no
Postgres. After the warm-up pass, which also checks every result against
its DuckDB oracle, set-up rebuilds the BM25 index that
``text_bm25_topk_from_index`` serves from three times over: that is the
repeated set-up step.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time

import datagen
from harness import Run, Tracer, geomean, log, median, timed_units

# (registry name, module that defines it)
QUERIES = [
    ("q1_pricing_summary", "operators.tpch"),
    ("q3_shipping_priority", "operators.tpch"),
    ("q9_product_type_profit", "operators.tpch2"),
    ("window_top3_orders_per_customer", "operators.windows"),
    ("sim_cosine_bruteforce_topk", "functions.similarity"),
    ("text_bm25_topk_from_index", "functions.text_index"),
]
MODULES = sorted({m for _, m in QUERIES})
PER_LAYER = {
    f"{name}.{m}": ("count" if m in ("jobs", "tasks") else "s")
    for name in [q for q, _ in QUERIES] + MODULES
    for m in ("s", "plan_s", "jobs", "tasks")
}
PER_LAYER.update(
    {
        "analytics_read.query_s_geomean": "s",
        "analytics_read.suite_s": "s",
        "analytics_read.trace_overhead": "ratio",
        "analytics_read.timed_trend": "ratio",
    }
)
SF = {"full": 0.02, "tiny": 0.001}
WARMUP_PASSES = 1
# a median over at least three passes, also when a slow machine gets
# through fewer in --seconds
MIN_PASSES = 3
SETUP_REPEATS = 3


def _canon(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, float):
        return ("\x00nan",) if math.isnan(v) else ("f", v.hex())
    return (type(v).__name__[:1], str(v))


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash: columns by name, rows sorted, floats by
    their exact bits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def _oracle_hashes(sf_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{f}'")
        out = {}
        for q, sql in oracles.items():
            res = con.execute(sql)
            out[q] = result_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def run(ctx) -> dict:
    from pgcp_spark.functions import text_index
    from pgcp_spark.registry import all_queries

    sf_dir = ctx.path("data")
    datagen.write_tables(sf_dir, SF["tiny" if ctx.tiny else "full"], ctx.seed)
    log("inputs written")
    spark = ctx.spark("analytics_read")
    log("spark session up")
    tracer = Tracer(ctx.trace, spark)
    r = Run()
    registry = all_queries()
    fns = {q: registry[q].fn for q, _ in QUERIES}
    oracles = {q: registry[q].oracle for q, _ in QUERIES}
    try:
        # the warm-up pass also checks every result against its oracle
        expect = _oracle_hashes(sf_dir, oracles)
        for q, _ in QUERIES * WARMUP_PASSES:
            df = fns[q](spark, sf_dir)
            if result_hash(df.columns, [tuple(x) for x in df.collect()]) != expect[q]:
                r.checks_ok = False
                r.fail(f"{q}: result hash differs from its DuckDB oracle")
        log("warm-up pass and oracle checks done")
        repeated = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(text_index.text_index_dir_for(sf_dir), ignore_errors=True)
            t = time.perf_counter()
            text_index.ensure_text_index(spark, sf_dir)
            repeated.append(time.perf_counter() - t)
        ctx.setup_done(repeated)

        per_q = {q: [] for q, _ in QUERIES}
        for i, traced in timed_units(ctx.seconds, MIN_PASSES, ctx.trace):
            r.counting = traced and i == 0
            order = [q for q, _ in QUERIES]
            random.Random(ctx.seed * 1000 + i).shuffle(order)
            unit = 0.0
            for q in order:
                r.attempted += 1
                try:
                    with tracer.span(q, count=traced, op=r.attempted) as op:
                        with tracer.span(f"{q}.plan", count=traced) as plan:
                            df = fns[q](spark, sf_dir)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - a failed op is counted
                    r.fail(q, exc)
                    continue
                unit += op.s
                per_q[q].append(op.s)
                if traced:
                    r.time(f"{q}.s", op.s)
                    r.time(f"{q}.plan_s", plan.s)
                    r.count(f"{q}.jobs", op.jobs)
                    r.count(f"{q}.tasks", op.tasks)
            r.unit_s[traced].append(unit)
            log(f"timed unit {i}: {unit:.2f} s")
        log("timed ops done")
    finally:
        ctx.stop_spark(spark)
        if ctx.trace:
            tracer.write(ctx.spans_path())

    query_s_geomean = geomean(median(v) for v in per_q.values() if v)
    if not ctx.trace:
        return r.end_to_end(ctx.setup_s, query_s_geomean)
    extra = {
        "analytics_read.query_s_geomean": query_s_geomean,
        "analytics_read.suite_s": median(r.unit_s[True] + r.unit_s[False]),
        "analytics_read.trace_overhead": r.trace_overhead(),
        "analytics_read.timed_trend": r.timed_trend(),
    }
    for mod in MODULES:  # module roll-ups: sums over the module's queries
        for m in ("s", "plan_s", "jobs", "tasks"):
            extra[f"{mod}.{m}"] = sum(median(r.layer[f"{q}.{m}"]) for q, qm in QUERIES if qm == mod)
    return r.per_layer(PER_LAYER, extra)
