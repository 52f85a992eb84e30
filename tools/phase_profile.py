"""Per-PRIMITIVE job attribution for a registered query (guide §1.5):
wraps the lake/fold/index primitives with thread-local
``setJobDescription`` labels (so overlapped writes label correctly), runs
the query once (plus one warmup) under the event log, and prints job
count + job seconds per primitive — the labeled twin of
``tools/profile_query.py``, which the r13 round used as a session-local
monkeypatch and this round commits as a tool.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/phase_profile.py <query> [--no-warm]
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_tls = threading.local()


def _label(spark, name):
    stack = getattr(_tls, "stack", None)
    if stack is None:
        stack = _tls.stack = []
    stack.append(name)
    spark.sparkContext.setJobDescription(" > ".join(stack))


def _unlabel(spark):
    stack = _tls.stack
    stack.pop()
    spark.sparkContext.setJobDescription(" > ".join(stack) if stack else None)


def _wrap(mod, fn_name, spark):
    fn = getattr(mod, fn_name)

    @functools.wraps(fn)
    def wrapped(*a, **k):
        _label(spark, fn_name)
        try:
            return fn(*a, **k)
        finally:
            _unlabel(spark)

    _rebind(fn_name, fn, wrapped)


def _rebind(fn_name, fn, wrapped):
    # a module that imported ``fn`` by name calls it through its own binding
    for m in list(sys.modules.values()):
        mod_name = getattr(m, "__name__", "")
        if mod_name.startswith("pgcp_spark") and getattr(m, fn_name, None) is fn:
            setattr(m, fn_name, wrapped)


def _inherit_labels(spark):
    """Make ``overlap``'s pool threads start from the caller's label
    stack (the stack is thread-local), so a primitive's overlapped
    writes stay attributed to it."""
    import pgcp_spark.plans.overlap as ov

    fn = ov.overlap

    @functools.wraps(fn)
    def wrapped(*thunks):
        parent = list(getattr(_tls, "stack", None) or [])

        def labeled(thunk):
            def run():
                _tls.stack = list(parent)
                spark.sparkContext.setJobDescription(" > ".join(parent) or None)
                return thunk()

            return run

        return fn(*[labeled(t) for t in thunks])

    _rebind("overlap", fn, wrapped)


def main() -> None:
    name = sys.argv[1]
    warm = "--no-warm" not in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="pgcp_eventlog_")

    from pgcp_spark.registry import all_queries
    from pgcp_spark.session import get_spark

    spark = get_spark(
        f"phases_{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    q = all_queries()[name]

    import pgcp_spark.functions.text_index as ti
    import pgcp_spark.plans.materialize as mat
    import pgcp_spark.sources.lake as lake
    import pgcp_spark.sources.view_maintenance as vm
    import pgcp_spark.streaming.ingest_view as iv
    from pgcp_spark.indexes import loop

    _inherit_labels(spark)
    for mod, names in (
        (lake, ["write_snapshot", "append_delta", "delete_delta",
                "merge_cdc_delta", "flatten_deltas", "upsert", "merge_cdc",
                "compact", "state_changes", "table_changes",
                "pending_changes", "read_current_with_deltas",
                "unapplied_changes"]),
        (vm, ["fold_join_view", "fold_agg_join_view", "fold_minmax_join_view",
              "fold_distinct_join_view", "fold_topk_join_view",
              "apply_agg_feed", "apply_minmax_feed",
              "apply_distinct_feed", "_collected_keys",
              "stamp_applied_state", "write_spec_tables"]),
        (ti, ["update_text_index", "remove_from_text_index", "_write_tables",
              "_write_stats_from_doclen", "fold_text_index_from_docs_state",
              "build_text_index_from", "bm25_from_index", "bm25_over_frames"]),
        (mat, ["materialize"]),
        (loop, ["stage_group_files", "maybe_flatten"]),
        (iv, ["fold_view_batch", "apply_cdc_batches"]),
    ):
        for fn_name in names:
            # a renamed primitive must fail loudly, not drop its attribution
            if not hasattr(mod, fn_name):
                raise SystemExit(f"phase_profile: {mod.__name__}.{fn_name} not found")
            _wrap(mod, fn_name, spark)

    if warm:
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    time.sleep(0.3)
    t0_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    spark.stop()

    jobs: dict[int, dict] = {}
    paths = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):
            paths.extend(
                p
                for p in glob.glob(os.path.join(path, "*"))
                if os.path.basename(p).startswith("events")
            )
        else:
            paths.append(path)
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(ev, dict):
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "t": ev["Submission Time"],
                        "desc": props.get("spark.job.description", "")
                        or props.get("callSite.short", "?"),
                    }
                elif et == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["dur"] = (ev["Completion Time"] - j["t"]) / 1000.0

    timed = [j for j in jobs.values() if j.get("t", 0) >= t0_ms and "dur" in j]
    by = defaultdict(lambda: [0, 0.0])
    for j in timed:
        d = by[j["desc"]]
        d[0] += 1
        d[1] += j["dur"]
    tot = sum(v[1] for v in by.values())
    print(f"== {name}: wall {wall:.2f}s, {len(timed)} jobs, job time {tot:.2f}s ==")
    for desc, (n, s) in sorted(by.items(), key=lambda kv: -kv[1][1]):
        print(f"{s:8.2f}s  n={n:<4d} {desc}")
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
