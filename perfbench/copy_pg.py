"""Workload ``copy_pg``: the paper's table copy against a private Postgres.

Source schema ``src`` holds one big primary-keyed table with two secondary
indexes and a set of small primary-keyed tables. Ops alternate:

* (a) ``copy``: ``Transport.copy_table("src.big")`` onto the copy left by
  the previous op, i.e. the scheduled re-copy: catalog, staging DDL, CSV
  COPY out and in through Spark, hotswap, index replay;
* (b) ``glob``: ``Transport.copy_tables("src.small_*")``.

(a) moves rows; (b) is mostly per-table catalog, DDL and psql-process
overhead. Rows move through the CSV COPY transfer
(``make_copy_reader``/``make_copy_writer``, the CLI's ``--transfer copy``).
Every call the transport makes goes through the wrappers below, which it
takes through its own injection parameters.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from harness import Run, Tracer, dir_bytes, log, median, timed_units
from pgserver import PgServer

SIZES = {"full": (100_000, 8, 2_000), "tiny": (10_000, 2, 200)}  # big rows, small tables, rows each
WARMUP_PAIRS = 2
SETUP_REPEATS = 3
OPS = ("copy", "glob")
_LAYERS = {
    "pg.catalog.calls": "count",
    "pg.catalog.s": "s",
    "pg.psql_client.calls": "count",
    "pg.ddl.create_s": "s",
    "pg.copy_csv.export_s": "s",
    "pg.copy_csv.load_s": "s",
    "transport.hotswap_s": "s",
    "transport.index_replay_s": "s",
    "pg.copy_csv.tmp_bytes_left": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
}
_COUNTED = {name for name, unit in _LAYERS.items() if unit != "s"}
PER_LAYER = {f"{op}.{name}": unit for op in OPS for name, unit in _LAYERS.items()}
PER_LAYER.update(
    {
        "copy_pg.copy_s": "s",
        "copy_pg.glob_copy_s": "s",
        "copy_pg.unindexed_s": "s",
        "copy_pg.trace_overhead": "ratio",
        "copy_pg.timed_trend": "ratio",
    }
)


class Recorder:
    """The ``(kind, start, end)`` events the wrappers saw since the last
    ``take()``. The glob fan-out's threads add to it concurrently; each
    add is a single list append."""

    def __init__(self):
        self.events: list[tuple[str, float, float]] = []

    def add(self, kind: str, t0: float, t1: float) -> None:
        self.events.append((kind, t0, t1))

    def take(self) -> list[tuple[str, float, float]]:
        out, self.events = self.events, []
        return out


def _kind(sql: str) -> str:
    head = " ".join(sql.split()[:4]).upper()
    if head.startswith("CREATE TABLE"):
        return "ddl.create"
    if head.startswith(("CREATE INDEX", "CREATE UNIQUE INDEX")) or "ADD PRIMARY KEY" in sql.upper():
        return "index"
    return "other"


def _recorded(rec: Recorder, tracer: Tracer, kind: str, span: str, fn, *args):
    with tracer.span(span) as sp:
        out = fn(*args)
    rec.add(kind, sp.start, sp.end)
    return out


class RecordingClient:
    """A ``PgClient`` that times every statement of the client it wraps."""

    def __init__(self, inner, rec: Recorder, tracer: Tracer):
        self.inner, self.rec, self.tracer = inner, rec, tracer

    def _call(self, kind: str, fn, *args):
        return _recorded(self.rec, self.tracer, kind, f"pg.{kind}", fn, *args)

    def fetch(self, sql: str):
        return self._call("catalog", self.inner.fetch, sql)

    def execute(self, sql: str) -> None:
        self._call(_kind(sql), self.inner.execute, sql)

    def execute_transaction(self, statements: list[str]) -> None:
        self._call("hotswap", self.inner.execute_transaction, statements)


def _wrap(kind: str, fn, rec: Recorder, tracer: Tracer):
    """A transport reader or writer that records its calls as ``kind``."""
    return lambda *args: _recorded(rec, tracer, kind, f"pg.copy_csv.{kind}", fn, *args)


def _load_source(client, seed: int, big_rows: int, n_small: int, small_rows: int) -> None:
    h = lambda k: f"hashint8extended(i, {seed * 16 + k})"  # noqa: E731
    client.execute("DROP SCHEMA IF EXISTS src CASCADE")
    client.execute("CREATE SCHEMA src")
    client.execute(
        "CREATE TABLE src.big (id bigint PRIMARY KEY, name text NOT NULL,"
        " amount numeric(12,2), active boolean, created timestamp, qty int)"
    )
    client.execute(
        f"""INSERT INTO src.big SELECT i,
  'name_' || ({h(0)} & 1048575) || repeat('x', ({h(1)} & 15)::int),
  CASE WHEN {h(2)} % 50 = 0 THEN NULL ELSE (({h(3)} & 16777215) / 100.0)::numeric(12,2) END,
  ({h(4)} & 1) = 0,
  TIMESTAMP '2020-01-01' + (({h(5)} & 67108863) || ' seconds')::interval,
  ({h(6)} & 1023)::int
FROM generate_series(1, {big_rows}) g(i)"""
    )
    client.execute("CREATE INDEX big_name_idx ON src.big (name)")
    client.execute("CREATE INDEX big_created_qty_idx ON src.big (created, qty)")
    for k in range(n_small):
        client.execute(
            f"CREATE TABLE src.small_{k:02d} (id int PRIMARY KEY, label text, v numeric(10,2));"
            f" INSERT INTO src.small_{k:02d} SELECT i, 'l' || ({h(7 + k)} & 255),"
            f" (({h(8 + k)} & 65535) / 100.0)::numeric(10,2) FROM generate_series(1, {small_rows}) g(i)"
        )
    client.execute("ANALYZE")


def _fingerprints(client, schema: str, tables: list[str]) -> list[tuple]:
    """Row count, md5 of the rows in key order, and index definitions of
    each table, in one query."""
    parts = [
        f"""SELECT '{t}', (SELECT count(*) FROM {schema}.{t}),
  (SELECT md5(string_agg(x::text, '|' ORDER BY x.id)) FROM {schema}.{t} x),
  (SELECT string_agg(replace(indexdef, ' {schema}.', ' '), ';' ORDER BY indexname)
     FROM pg_indexes WHERE schemaname = '{schema}' AND tablename = '{t}')"""
        for t in tables
    ]
    return client.fetch(" UNION ALL ".join(parts) + " ORDER BY 1")


def _layers(events, tmp_delta: int, jobs, tasks) -> dict[str, float]:
    """One op's per-layer numbers from its wrapper events. Times are busy
    time, summed over the glob fan-out's threads."""
    sums, n = defaultdict(float), defaultdict(int)
    for kind, t0, t1 in events:
        sums[kind] += t1 - t0
        n[kind] += 1
    return {
        "pg.catalog.calls": n["catalog"],
        "pg.catalog.s": sums["catalog"],
        "pg.psql_client.calls": sum(c for k, c in n.items() if k not in ("export", "load")),
        "pg.ddl.create_s": sums["ddl.create"],
        "pg.copy_csv.export_s": sums["export"],
        "pg.copy_csv.load_s": sums["load"],
        "transport.hotswap_s": sums["hotswap"],
        "transport.index_replay_s": sums["index"],
        "pg.copy_csv.tmp_bytes_left": tmp_delta,
        "spark.jobs": jobs,
        "spark.tasks": tasks,
    }


def _unindexed(events) -> float:
    """From the hotswap's return to the last replayed index's return."""
    swap_end = max(t1 for k, _, t1 in events if k == "hotswap")
    last_index = max((t1 for k, _, t1 in events if k == "index"), default=swap_end)
    return last_index - swap_end


def run(ctx) -> dict:
    from pgcp_spark.pg.copy_csv import make_copy_reader, make_copy_writer
    from pgcp_spark.pg.psql_client import PsqlCliClient
    from pgcp_spark.transport import CopyOptions, Transport

    big_rows, n_small, small_rows = SIZES["tiny" if ctx.tiny else "full"]
    smalls = [f"small_{k:02d}" for k in range(n_small)]
    r = Run()
    op_s = defaultdict(list)
    with PgServer(ctx.path("pg")) as server:
        cfg = server.start()
        plain = PsqlCliClient(cfg)
        repeated = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            _load_source(plain, ctx.seed, big_rows, n_small, small_rows)
            repeated.append(time.perf_counter() - t)
        tables = {"copy": ["big"], "glob": smalls}
        want = {op: _fingerprints(plain, "src", t) for op, t in tables.items()}
        plain.execute("CREATE SCHEMA dst")
        log("source loaded")

        spark = ctx.spark("copy_pg")
        tracer = Tracer(ctx.trace, spark)
        rec = Recorder()
        client = RecordingClient(plain, rec, tracer)
        transport = Transport(
            spark, cfg, cfg, src_client=client, dest_client=client,
            reader=_wrap("export", make_copy_reader(spark, client), rec, tracer),
            writer=_wrap("load", make_copy_writer(client), rec, tracer),
        )
        opts = CopyOptions(force_schema="dst")
        ops = {
            "copy": lambda: transport.copy_table("src.big", options=opts),
            "glob": lambda: transport.copy_tables("src.small_*", options=opts),
        }
        tmp = os.environ["TMPDIR"]
        try:
            warm = []
            for _ in range(WARMUP_PAIRS):
                for op in OPS:
                    t = time.perf_counter()
                    ops[op]()
                    warm.append(f"{op} {time.perf_counter() - t:.2f}")
            rec.take()
            log(f"warm-up ops (s): {', '.join(warm)}")
            ctx.setup_done(repeated)

            for i, traced in timed_units(ctx.seconds, 2, ctx.trace):
                r.counting = traced and i == 0
                unit = 0.0
                for op in OPS:
                    r.attempted += 1
                    tmp_before = dir_bytes(tmp) if traced else 0
                    try:
                        with tracer.span(op, count=traced, op=r.attempted) as sp:
                            ops[op]()
                    except Exception as exc:  # noqa: BLE001 - a failed op is counted
                        rec.take()
                        r.fail(op, exc)
                        continue
                    events = rec.take()
                    unit += sp.s
                    op_s[op].append(sp.s)
                    if op == "copy":
                        op_s["unindexed"].append(_unindexed(events))
                    if traced:
                        layers = _layers(events, dir_bytes(tmp) - tmp_before, sp.jobs, sp.tasks)
                        for name, value in layers.items():
                            (r.count if name in _COUNTED else r.time)(f"{op}.{name}", value)
                    if _fingerprints(plain, "dst", tables[op]) != want[op]:
                        r.checks_ok = False
                        r.fail(f"{op}: destination rows or indexes differ from the source")
                r.unit_s[traced].append(unit)
                log(f"timed unit {i}: {unit:.2f} s")
            log("timed ops and checks done")
        finally:
            ctx.stop_spark(spark)
            if ctx.trace:
                tracer.write(ctx.spans_path())

    if not ctx.trace:
        return r.end_to_end(ctx.setup_s, median(op_s["copy"]))
    return r.per_layer(
        PER_LAYER,
        {
            "copy_pg.copy_s": median(op_s["copy"]),
            "copy_pg.glob_copy_s": median(op_s["glob"]),
            "copy_pg.unindexed_s": median(op_s["unindexed"]),
            "copy_pg.trace_overhead": r.trace_overhead(),
            "copy_pg.timed_trend": r.timed_trend(),
        },
    )
