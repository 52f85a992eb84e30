"""Contracts for the streaming materialized-view maintenance loop
(``streaming/ingest_view.py``): the stream-maintained view and every
aggregate kind over it are invariant under micro-batch coalescing
(ordered sub-batch split), the fact table the loop co-maintains matches
the view's own key set, the delete-then-resurrect arc lands correctly
through the tombstone ordering, and a reader racing the group-commit
stream only ever sees batch-consistent states. The aggregate-kind
contracts run once per ``ViewSpec``."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from pgcp_spark.sources import load_table
from pgcp_spark.sources.lake import read_current, read_current_with_deltas
from pgcp_spark.sources.txn import read_group
from pgcp_spark.sources.view_maintenance import (
    AGG_SPEC,
    DISTINCT_SPEC,
    GROUP_COL,
    MINMAX_SPEC,
    distinct_agg_from_support,
)
from pgcp_spark.streaming import ingest_view as iv
from pgcp_spark.streaming.ingest_view import (
    VIEW_COLS,
    fold_view_batch,
    run_ingest_view,
)

SF = "/root/testdata/sf0.001"

SPECS = pytest.mark.parametrize(
    "spec",
    [AGG_SPEC, MINMAX_SPEC, DISTINCT_SPEC],
    ids=["agg", "minmax", "distinct"],
)


def _view_rows(spark, view_dir):
    return sorted(
        tuple(r)
        for r in read_current_with_deltas(spark, view_dir, key=["o_orderkey"]).collect()
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _live(df):
    """Drop the rows a fold retains as evidence of an emptied group or
    pair (count column folded to zero); a build over the view never
    produces them."""
    for c in ("order_cnt", "cnt", "distinct_cnt"):
        if c in df.columns:
            return df.filter(F.col(c) > 0)
    return df


def _dim(spark):
    return load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@pytest.fixture(scope="module")
def per_table_runs(spark):
    """One per-table stream (batch-at-a-time) per spec, shared by the
    boundary-invariance test and the txn end-state comparison."""
    roots = {}

    def run(spec):
        if spec not in roots:
            roots[spec] = run_ingest_view(spark, SF, spec, max_files_per_trigger=1)
        return roots[spec]

    yield run
    for root in roots.values():
        shutil.rmtree(root, ignore_errors=True)


def test_batch_boundary_invariance_and_resurrect(spark):
    """availableNow-in-one-trigger (all three CDC batches in one
    micro-batch) must produce a BIT-IDENTICAL view to batch-at-a-time:
    the handler splits by seq and applies in order, so coalescing cannot
    reorder same-key writes. Also pins the arc semantics: a %77 key
    (deleted in batch 1, re-priced in batch 2) is PRESENT at
    original+1000, and a %35 key (upserted in batch 0, skipped by the
    delete predicate) stays doubled."""
    r1 = r2 = None
    try:
        r1 = run_ingest_view(spark, SF, max_files_per_trigger=1)
        r2 = run_ingest_view(spark, SF, max_files_per_trigger=None)
        rows1 = _view_rows(spark, os.path.join(r1, "view"))
        rows2 = _view_rows(spark, os.path.join(r2, "view"))
        assert rows1 == rows2
        view = {r[0]: r for r in rows1}
        orders = {
            r.o_orderkey: r
            for r in spark.read.parquet(f"{SF}/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .collect()
        }
        custkeys = {
            r.c_custkey
            for r in spark.read.parquet(f"{SF}/customer.parquet").collect()
        }
        res = [k for k in orders if k is not None and k % 77 == 0 and k % 5 != 0
               and orders[k].o_custkey in custkeys]
        assert res, "corpus should contain a resurrectable %77 key"
        for k in res:
            assert k in view, f"deleted-then-reinserted key {k} missing"
            assert view[k][2] == orders[k].o_totalprice + 1000
        kept35 = [k for k in orders if k is not None and k % 35 == 0 and k % 11 != 0
                  and orders[k].o_custkey in custkeys]
        for k in kept35:
            assert view[k][2] == orders[k].o_totalprice * 2
        # fact and view agree on membership (modulo dim-less fact rows)
        fact = read_current_with_deltas(
            spark, os.path.join(r1, "fact"), key=["o_orderkey"]
        )
        fact_joinable = {
            r.o_orderkey
            for r in fact.filter(F.col("o_custkey").isNotNull()).collect()
            if r.o_custkey in custkeys
        }
        assert set(view) == fact_joinable
    finally:
        for d in (r1, r2):
            if d:
                shutil.rmtree(d, ignore_errors=True)


@SPECS
def test_stream_boundary_invariance(spark, spec, per_table_runs):
    """Coalesced delivery (all CDC batches in ONE micro-batch) must leave
    every aggregate kind's served result bit-identical to batch-at-a-time
    — the watermarked state-diff (plus MIN/MAX's selective rescan)
    makes batching invisible — and after the stream each owned table
    must equal the spec's build over the maintained view. For COUNT
    DISTINCT the served counts must also equal the rollup of the
    support table (the crash-repair identity holding live)."""
    root_a = per_table_runs(spec)
    root_b = run_ingest_view(spark, SF, spec, max_files_per_trigger=None)
    try:
        served = {}
        for name, root in (("a", root_a), ("b", root_b)):
            served[name] = _rows(
                spec.serve(read_current(spark, os.path.join(root, "agg")))
            )
        assert served["a"] == served["b"] and served["a"]
        view = read_current_with_deltas(
            spark, os.path.join(root_a, "view"), key=["o_orderkey"]
        )
        for t, built in spec.build(view).items():
            stored = read_current(spark, os.path.join(root_a, t))
            assert _rows(_live(stored)) == _rows(_live(built)), t
        if "support" in spec.tables:
            support = read_current(spark, os.path.join(root_a, "support"))
            assert served["a"] == _rows(
                spec.serve(distinct_agg_from_support(support, GROUP_COL))
            )
    finally:
        shutil.rmtree(root_b, ignore_errors=True)


def test_cascade_replay_converges_and_matches_recompute(spark):
    """At-least-once: replaying a CDC batch through the cascade fold
    appends shadow view deltas (new state id, same data) — the agg fold
    must see an EMPTY state diff and skip, leaving the aggregate equal
    to a recompute from the post fact state."""
    root = run_ingest_view(spark, SF, AGG_SPEC)
    agg_dir = os.path.join(root, "agg")
    try:
        before = _rows(read_current(spark, agg_dir))
        # replay the LAST CDC batch (seq 2) verbatim
        orders = load_table(spark, SF, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        replay = (
            orders.filter(F.col("o_orderkey") % 11 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
            .withColumn("_op", F.lit("upsert"))
            .withColumn("seq", F.lit(2))
        )
        fold_view_batch(spark, replay, root, _dim(spark), AGG_SPEC)
        assert _rows(read_current(spark, agg_dir)) == before
        # and the whole cascade equals a recompute of the aggregated join
        view = read_current_with_deltas(
            spark, os.path.join(root, "view"), key=["o_orderkey"]
        )
        want = _rows(AGG_SPEC.serve(AGG_SPEC.build(view)["agg"]))
        assert _rows(AGG_SPEC.serve(read_current(spark, agg_dir))) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _txn_keys(spec):
    all_keys = {
        "fact": ["o_orderkey"],
        "view": ["o_orderkey"],
        "support": [GROUP_COL, spec.value_col],
        "agg": [GROUP_COL],
    }
    return {n: all_keys[n] for n in ("fact", "view") + spec.tables}


@pytest.fixture(scope="module")
def txn_runs(spark):
    """One group-commit stream per spec, run with a read_group reader
    racing it. The reader resolves the manifest once per observation and
    records every observation where view != fact ⋈ dim, or an owned
    table != the spec's build over the pinned view. Returns
    ``(run dir, torn observations)``."""
    dim = _dim(spark)
    runs = {}

    def race(spec):
        keys = _txn_keys(spec)
        torn: list[str] = []
        stop = threading.Event()
        root_holder: list[str] = []
        started = threading.Event()

        def _observe():
            dfs = read_group(spark, root_holder[0], keys)
            want_view = _rows(
                dfs["fact"]
                .join(dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey")
                .select(*VIEW_COLS)
            )
            if _rows(dfs["view"]) != want_view:
                torn.append("view != fact join dim under the manifest")
                return
            for t, built in spec.build(dfs["view"]).items():
                if _rows(_live(dfs[t])) != _rows(_live(built)):
                    torn.append(f"{t} != its build over the pinned view")
                    return

        def reader():
            started.wait(timeout=30)
            while not stop.is_set():
                if not root_holder:
                    continue
                try:
                    _observe()
                except Exception as exc:  # noqa: BLE001 — a died reader must
                    # FAIL the test (a GC'd pin under keep=1 killed the
                    # thread silently and passed it vacuously — the exact
                    # hazard the keep-exceeds-commits-per-publish rule fixes)
                    torn.append(f"reader died: {exc}")
                    return
                if torn:
                    return

        # expose the run dir to the reader as soon as the initial group
        # commit lands (the first micro-batch starts after it), and let it
        # spin on the manifest as the transactions land
        orig = iv.fold_view_batch

        def hooked(spark_, mb, root, *args):
            if not root_holder:
                root_holder.append(root)
                started.set()
            return orig(spark_, mb, root, *args)

        t = threading.Thread(target=reader)
        t.start()
        try:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(iv, "fold_view_batch", hooked)
                root = run_ingest_view(spark, SF, spec, txn=True)
        finally:
            stop.set()
            t.join(timeout=120)
        if t.is_alive():
            torn.append("reader did not stop")
        return root, torn

    def run(spec):
        if spec not in runs:
            runs[spec] = race(spec)
        return runs[spec]

    yield run
    for root, _ in runs.values():
        shutil.rmtree(root, ignore_errors=True)


def _assert_reader_saw_consistent_states(spark, spec, txn_runs):
    """No racing observation was torn, and the end state equals the
    recompute from the pinned view."""
    root, torn = txn_runs(spec)
    assert not torn, torn[0]
    pinned = read_group(spark, root, _txn_keys(spec))
    got = _rows(spec.serve(pinned["agg"]))
    assert got == _rows(spec.serve(spec.build(pinned["view"])["agg"])) and got


def _assert_txn_matches_per_table(spark, spec, txn_runs, per_table_runs):
    """The group-commit stream's served result equals the per-table
    stream's, bit for bit."""
    root, _ = txn_runs(spec)
    pinned = read_group(spark, root, {"agg": [GROUP_COL]})
    txn = _rows(spec.serve(pinned["agg"]))
    per_table = _rows(
        spec.serve(read_current(spark, os.path.join(per_table_runs(spec), "agg")))
    )
    assert per_table == txn and txn


@pytest.mark.parametrize(
    "spec", [AGG_SPEC, DISTINCT_SPEC], ids=["agg", "distinct"]
)
def test_txn_stream_reader_sees_only_batch_consistent_states(
    spark, spec, txn_runs, per_table_runs
):
    """THE pin for the group-commit stream: a read_group reader racing
    the stream must find view == fact ⋈ dim AND every owned table == the
    spec's build over the pinned view on EVERY observation — the
    per-table loop's fact-advanced/agg-stale window is structurally
    gone, for the three-member group and the four-member distinct group
    alike (the two downstream tables commit separately inside the batch,
    yet stay mutually consistent under the manifest). The end state must
    equal the recompute from the pinned view AND the per-table stream's."""
    _assert_reader_saw_consistent_states(spark, spec, txn_runs)
    _assert_txn_matches_per_table(spark, spec, txn_runs, per_table_runs)


def test_txn_minmax_stream_reader_sees_only_batch_consistent_trios(spark, txn_runs):
    """The racing-reader pin for the MIN/MAX trio: the group commit is
    fold-agnostic, so a reader racing the transactional MIN/MAX stream
    must find view == fact ⋈ dim AND minmax-agg == min/max(groupBy(view))
    on EVERY observation, and the end state must equal the recompute
    from the pinned view."""
    _assert_reader_saw_consistent_states(spark, MINMAX_SPEC, txn_runs)


def test_txn_minmax_end_state_matches_per_table_stream(
    spark, txn_runs, per_table_runs
):
    """The composition proof the shared oracle relies on, pinned locally
    too: the transactional MIN/MAX stream's served bounds equal the
    per-table MIN/MAX stream's, bit for bit."""
    _assert_txn_matches_per_table(spark, MINMAX_SPEC, txn_runs, per_table_runs)
