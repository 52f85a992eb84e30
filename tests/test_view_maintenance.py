"""Contracts for the incremental JOIN-view maintenance layer
(``sources/view_maintenance.py``): fold == recompute across every CDC
shape on both base tables, all mutations land merge-on-read (base
snapshot untouched), the dim arm's pushed-IN pruning reaches the parquet
scans, replay converges, and flatten retires the deltas bit-exactly."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pgcp_spark.sources.lake import (
    current_snapshot,
    delete,
    delta_names,
    flatten_deltas,
    merge_cdc,
    read_current,
    read_current_with_deltas,
    table_changes,
    upsert,
    vacuum,
    write_snapshot,
)
from pgcp_spark.sources.view_maintenance import (
    AGG_SPEC,
    DISTINCT_SPEC,
    MINMAX_SPEC,
    TOPK_SPEC,
    VIEW_DIM_PUSHDOWN_MAX,
    _pruned_by_keys,
    fold_join_view,
)

VIEW_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def ivm_lake_factory(spark):
    """Builds a fresh instance of the ivm_lake scenario (below); the
    cascade fixture needs its own because the flatten test consumes the
    shared instance's pending feed. Caller owns cleanup."""

    def build():
        return _build_ivm_lake(spark)

    return build


@pytest.fixture(scope="module")
def ivm_lake(spark):
    """A fact/dim/view lake exercising every delta-join arm at once:

    dim: keys 1..6; updates key 2, INSERTS keys 7 (childless) and 99
    (matching two pre-existing, view-invisible fact rows), DELETES key 4.
    fact: NULL-custkey rows, custkey-99 rows (childless at build time),
    one CDC batch inserting o13, doubling o1, re-pointing o5→6 and
    o6→404 (missing partner — must leave the view), deleting o2.
    """
    lk = _build_ivm_lake(spark)
    yield lk
    for d in (lk["fact_dir"], lk["dim_dir"], lk["view_dir"]):
        shutil.rmtree(d, ignore_errors=True)


def _build_ivm_lake(spark):
    dim_rows = [(k, f"n{k}", f"s{k}") for k in range(1, 7)]
    fact_rows = [
        (1, 1, 10.0), (2, 1, 20.0), (3, 2, 30.0), (4, 2, 40.0),
        (5, 3, 50.0), (6, 3, 60.0), (7, 4, 70.0), (8, 4, 80.0),
        (9, None, 90.0), (10, None, 100.0), (11, 99, 110.0), (12, 99, 120.0),
    ]
    dim = spark.createDataFrame(dim_rows, ["c_custkey", "c_name", "c_mktsegment"])
    fact = spark.createDataFrame(fact_rows, ["o_orderkey", "o_custkey", "o_totalprice"])
    fact_dir = tempfile.mkdtemp(prefix="ivm_t_fact_")
    dim_dir = tempfile.mkdtemp(prefix="ivm_t_dim_")
    view_dir = tempfile.mkdtemp(prefix="ivm_t_view_")
    fact_snap = write_snapshot(fact, fact_dir, keep=2)
    dim_snap = write_snapshot(dim, dim_dir, keep=4)
    view0 = fact.join(
        dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
    ).select(*VIEW_COLS)
    write_snapshot(view0, view_dir, cluster_by=["o_custkey"])

    # --- base-table mutations ---
    dim_mut = spark.createDataFrame(
        [(2, "n2", "s2X"), (7, "n7", "s7"), (99, "n99", "s99")],
        ["c_custkey", "c_name", "c_mktsegment"],
    )
    upsert(spark, dim_dir, dim_mut, key=["c_custkey"], keep=4)
    delete(
        spark,
        dim_dir,
        keys=spark.createDataFrame([(4,)], ["c_custkey"]),
        key=["c_custkey"],
        keep=4,
    )
    batch = spark.createDataFrame(
        [
            (13, 3, 130.0, "upsert"),
            (1, 1, 20.0, "upsert"),
            (5, 6, 50.0, "upsert"),
            (6, 404, 60.0, "upsert"),
            (2, None, None, "delete"),
        ],
        ["o_orderkey", "o_custkey", "o_totalprice", "_op"],
    )
    merge_cdc(spark, fact_dir, batch, key=["o_orderkey"], keep=2)

    return {
        "fact_dir": fact_dir,
        "dim_dir": dim_dir,
        "view_dir": view_dir,
        "fact_snap": fact_snap,
        "dim_snap": dim_snap,
    }


def _fold(spark, lk):
    fold_join_view(
        spark,
        lk["view_dir"],
        view_key=["o_orderkey"],
        fact_feed=table_changes(spark, lk["fact_dir"], lk["fact_snap"], key=["o_orderkey"]),
        dim_feed=table_changes(spark, lk["dim_dir"], lk["dim_snap"], key=["c_custkey"]),
        dim_current=read_current(spark, lk["dim_dir"]),
        fact_join_col="o_custkey",
        dim_join_col="c_custkey",
        fact_current=read_current(spark, lk["fact_dir"]),
    )


def _recompute(spark, lk):
    fact = read_current(spark, lk["fact_dir"])
    dim = read_current(spark, lk["dim_dir"])
    return fact.join(
        dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
    ).select(*VIEW_COLS)


def test_fold_equals_recompute_and_base_untouched(spark, ivm_lake):
    base_before = current_snapshot(ivm_lake["view_dir"])
    _fold(spark, ivm_lake)
    assert current_snapshot(ivm_lake["view_dir"]) == base_before  # deltas only
    assert delta_names(ivm_lake["view_dir"])  # and they exist
    got = read_current_with_deltas(spark, ivm_lake["view_dir"], key=["o_orderkey"])
    assert _rows(got) == _rows(_recompute(spark, ivm_lake))
    # spot the arms: dim update refreshed o3/o4 to s2X, dim insert pulled
    # the view-invisible o11/o12 in, dim delete dropped o7/o8, fact
    # re-point to missing dim key dropped o6, fact delete dropped o2
    keys = {r[0] for r in got.select("o_orderkey").collect()}
    assert keys == {1, 3, 4, 5, 11, 12, 13}
    segs = {r[0] for r in got.filter(F.col("o_custkey") == 2).select("c_mktsegment").collect()}
    assert segs == {"s2X"}


def test_replay_converges(spark, ivm_lake):
    """At-least-once delivery of the same feeds: a second fold appends
    shadow deltas, and the merge-on-read result is bit-identical."""
    before = _rows(read_current_with_deltas(spark, ivm_lake["view_dir"], key=["o_orderkey"]))
    _fold(spark, ivm_lake)
    after = _rows(read_current_with_deltas(spark, ivm_lake["view_dir"], key=["o_orderkey"]))
    assert after == before


def test_flatten_retires_deltas_bit_exactly(spark, ivm_lake):
    before = _rows(read_current_with_deltas(spark, ivm_lake["view_dir"], key=["o_orderkey"]))
    assert delta_names(ivm_lake["view_dir"])
    flatten_deltas(spark, ivm_lake["view_dir"], key=["o_orderkey"], cluster_by=["o_custkey"])
    assert delta_names(ivm_lake["view_dir"]) == []
    assert _rows(read_current(spark, ivm_lake["view_dir"])) == before


def test_dim_insert_without_fact_current_raises(spark):
    dim = spark.createDataFrame([(1, "n1")], ["c_custkey", "c_name"])
    fact = spark.createDataFrame([(1, 1, 1.0)], ["o_orderkey", "o_custkey", "o_totalprice"])
    dim_dir = tempfile.mkdtemp(prefix="ivm_t_noins_d_")
    view_dir = tempfile.mkdtemp(prefix="ivm_t_noins_v_")
    try:
        snap = write_snapshot(dim, dim_dir, keep=2)
        write_snapshot(
            fact.join(dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey")
            .select("o_orderkey", "o_custkey", "o_totalprice", "c_name"),
            view_dir,
        )
        upsert(spark, dim_dir, spark.createDataFrame([(2, "n2")], dim.columns),
               key=["c_custkey"], keep=2)
        with pytest.raises(ValueError, match="fact_current"):
            fold_join_view(
                spark, view_dir, view_key=["o_orderkey"],
                fact_feed=None,
                dim_feed=table_changes(spark, dim_dir, snap, key=["c_custkey"]),
                dim_current=read_current(spark, dim_dir),
                fact_join_col="o_custkey", dim_join_col="c_custkey",
            )
    finally:
        shutil.rmtree(dim_dir, ignore_errors=True)
        shutil.rmtree(view_dir, ignore_errors=True)


def test_fact_arm_lands_one_delta_per_batch(spark):
    """The fact arm writes its rebuilt rows and its dead keys (deletes and
    posts re-pointed at a missing dim key) as ONE delta: a feed carrying
    both adds exactly one ``delta_names`` entry, and the view reads as
    the recomputed join."""
    dim = spark.createDataFrame([(1, "n1"), (2, "n2")], ["c_custkey", "c_name"])
    fact = spark.createDataFrame(
        [(1, 1, 10.0), (2, 1, 20.0), (3, 2, 30.0)],
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "c_name"]
    view_dir = tempfile.mkdtemp(prefix="ivm_t_onedelta_")
    try:
        join = lambda f: f.join(  # noqa: E731
            dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
        ).select(*cols)
        write_snapshot(join(fact), view_dir)
        feed = spark.createDataFrame(
            [
                (4, 2, 40.0, "insert"),
                (1, 2, 11.0, "update_postimage"),
                (3, 404, 30.0, "update_postimage"),  # no dim partner: leaves
                (2, 1, 20.0, "delete"),
            ],
            ["o_orderkey", "o_custkey", "o_totalprice", "_change_type"],
        )
        fold_join_view(
            spark, view_dir, view_key=["o_orderkey"], fact_feed=feed,
            dim_feed=None, dim_current=dim,
            fact_join_col="o_custkey", dim_join_col="c_custkey",
        )
        assert len(delta_names(view_dir)) == 1
        post = spark.createDataFrame(
            [(1, 2, 11.0), (3, 404, 30.0), (4, 2, 40.0)], fact.columns
        )
        assert _rows(
            read_current_with_deltas(spark, view_dir, key=["o_orderkey"])
        ) == _rows(join(post)) == [(1, 2, 11.0, "n2"), (4, 2, 40.0, "n2")]
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)


def test_pruned_by_keys_pushes_in_filter(spark, ivm_lake):
    """The dim arm's selector reaches the parquet footers: PushedFilters
    carries the In(o_custkey,…) on the view's base scan AND on pending
    delta scans (here: post-flatten base only — both shapes covered by
    running before the flatten test reorders… the fixture is module-
    scoped, so read whatever state stands and assert every scan)."""
    from pgcp_spark.plans.explain import pushed_filters

    keys_df = spark.createDataFrame([(2,), (3,)], ["c_custkey"])
    view = read_current_with_deltas(spark, ivm_lake["view_dir"], key=["o_orderkey"])
    pruned = _pruned_by_keys(view, "o_custkey", keys_df)
    filters = pushed_filters(pruned)
    assert filters, "expected parquet scans in the pruned view plan"
    scans_with_in = [f for f in filters if "In(o_custkey" in f]
    assert scans_with_in, f"pushed IN missing from every scan: {filters}"


def test_pushdown_probe_is_bounded(spark):
    """A dim delta wider than VIEW_DIM_PUSHDOWN_MAX must NOT be collected:
    the helper returns the frame unfiltered (bounded probe only)."""
    big = spark.range(VIEW_DIM_PUSHDOWN_MAX + 5).select(F.col("id").alias("k"))
    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    out = _pruned_by_keys(df, "k", big)
    assert out is df


# --- cascade IVM: aggregate over the maintained join view (round 11) -------


def _agg_recompute(spark, lk):
    from pgcp_spark.sources.view_maintenance import build_agg_over

    return build_agg_over(_recompute(spark, lk), "c_mktsegment", "o_totalprice")


@pytest.fixture(scope="module")
def cascade_lake(spark, request):
    """Its own fact/dim/view lake (the ivm_lake scenario rebuilt — that
    fixture's view feed is consumed by the flatten test), plus an
    aggregate built over the view's initial state and ONE join fold run,
    so the view carries the full pending feed (every CDC shape at once)
    when the cascade tests start."""
    from pgcp_spark.sources.lake import pending_state
    from pgcp_spark.sources.lake import read_current as rc
    from pgcp_spark.sources.view_maintenance import build_agg_over

    lk = request.getfixturevalue("ivm_lake_factory")()
    agg_dir = tempfile.mkdtemp(prefix="ivm_t_agg_")
    write_snapshot(
        build_agg_over(rc(spark, lk["view_dir"]), "c_mktsegment", "o_totalprice"),
        agg_dir,
        meta={"applied_view_state": pending_state(lk["view_dir"])},
    )
    _fold(spark, lk)  # land the view's MOR deltas — the cascade's feed
    yield {**lk, "agg_dir": agg_dir}
    shutil.rmtree(agg_dir, ignore_errors=True)
    for d in (lk["fact_dir"], lk["dim_dir"], lk["view_dir"]):
        shutil.rmtree(d, ignore_errors=True)


def test_cascade_fold_equals_recompute(spark, cascade_lake):
    """The signed fold over the view's pending feed must equal a full
    recompute of the aggregate from both POST base states — including
    the dim's segment rename (s2 → s2X), which moves orders BETWEEN
    groups and is invisible to any fact-feed-only consumer."""
    from pgcp_spark.sources.lake import delta_names
    from pgcp_spark.sources.view_maintenance import fold_agg_join_view

    lk = cascade_lake
    assert delta_names(lk["view_dir"]), "cascade test needs a pending view feed"
    folded = fold_agg_join_view(
        spark, lk["agg_dir"], lk["view_dir"], ["o_orderkey"], "c_mktsegment",
        "o_totalprice",
    )
    assert folded is True
    from pgcp_spark.sources.lake import read_current

    got = _rows(read_current(spark, lk["agg_dir"]).filter(F.col("order_cnt") > 0))
    want = _rows(_agg_recompute(spark, lk))
    assert got == want
    segs = {r[0] for r in got}
    assert "s2X" in segs and "s2" not in segs  # the rename MOVED the group


def test_cascade_crash_window_replay_is_skipped(spark, cascade_lake):
    """The crash window: agg committed, flatten not yet run. A replayed
    fold sees the SAME pending view state, finds its id stamped in the
    aggregate's commit metadata, and must skip — signed folds are not
    idempotent, so this watermark is what makes the cascade exactly-once."""
    from pgcp_spark.sources.lake import read_current, snapshot_meta
    from pgcp_spark.sources.view_maintenance import fold_agg_join_view

    lk = cascade_lake
    before = _rows(read_current(spark, lk["agg_dir"]))
    assert snapshot_meta(lk["agg_dir"]).get("applied_view_state")
    folded = fold_agg_join_view(
        spark, lk["agg_dir"], lk["view_dir"], ["o_orderkey"], "c_mktsegment",
        "o_totalprice",
    )
    assert folded is False  # replay detected via the commit watermark
    assert _rows(read_current(spark, lk["agg_dir"])) == before


@pytest.mark.parametrize(
    "spec",
    [AGG_SPEC, MINMAX_SPEC, DISTINCT_SPEC, TOPK_SPEC],
    ids=["agg", "minmax", "distinct", "topk"],
)
def test_cascade_flatten_stamp_then_fold_is_noop(spark, ivm_lake_factory, spec):
    """The owner protocol after a flatten, for every aggregate kind: the
    old state id is GC-bait (reaped here by ``vacuum``, the end of the
    reader grace), so a fold across it must REFUSE with the re-anchor
    recipe (never guess — a blind re-fold double-counts), and
    the documented flatten-then-stamp sequence — every owned table
    re-stamped, as ``fold_view_batch`` does — makes the next fold a clean
    no-op with the aggregate still equal to the recompute."""
    from pgcp_spark.sources.view_maintenance import (
        member_dirs,
        stamp_applied_state,
        write_spec_tables,
    )

    lk = ivm_lake_factory()
    root = tempfile.mkdtemp(prefix="ivm_t_spec_")
    dirs = {**member_dirs(root, spec, bases=()), "view": lk["view_dir"]}
    try:
        write_spec_tables(spec, read_current(spark, lk["view_dir"]), dirs)
        _fold(spark, lk)  # land the view's MOR deltas — the cascade's feed
        assert spec.fold(spark, dirs) is True
        flatten_deltas(
            spark, lk["view_dir"], key=["o_orderkey"], cluster_by=["o_custkey"]
        )
        vacuum(lk["view_dir"])
        with pytest.raises(RuntimeError, match="stamp_applied_state"):
            spec.fold(spark, dirs)
        for t in spec.tables:
            stamp_applied_state(spark, dirs[t], lk["view_dir"])
        before = {t: _rows(read_current(spark, dirs[t])) for t in spec.tables}
        assert spec.fold(spark, dirs) is False
        assert {t: _rows(read_current(spark, dirs[t])) for t in spec.tables} == before
        # and the aggregate STILL equals the recompute after the flatten
        recomputed = spec.build(_recompute(spark, lk))["agg"]
        assert _rows(spec.serve(read_current(spark, dirs["agg"]))) == _rows(
            spec.serve(recomputed)
        )
        if spec is AGG_SPEC:
            got = _rows(
                read_current(spark, dirs["agg"]).filter(F.col("order_cnt") > 0)
            )
            assert got == _rows(_agg_recompute(spark, lk))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        for d in (lk["fact_dir"], lk["dim_dir"], lk["view_dir"]):
            shutil.rmtree(d, ignore_errors=True)


def test_pending_changes_prunes_by_tombstone_own_shape(spark):
    """An attribute-keyed equality-delete tombstone (the dim arm's shape:
    its column is NOT the reader key) must still produce a correct feed —
    round 11 fixed the shape grouping that crashed on it."""
    from pgcp_spark.sources.lake import (
        append_delta,
        delete_delta,
        pending_changes,
        write_snapshot,
    )

    d = tempfile.mkdtemp(prefix="pc_shape_")
    try:
        base = spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 10, "c")], ["k", "g", "v"]
        )
        write_snapshot(base, d)
        append_delta(spark.createDataFrame([(4, 30, "d")], ["k", "g", "v"]), d)
        delete_delta(spark.createDataFrame([(10,)], ["g"]), d, key=["g"])
        feed = _rows(pending_changes(spark, d, key=["k"]))
        assert feed == [
            (1, 10, "a", "delete"),
            (3, 10, "c", "delete"),
            (4, 30, "d", "insert"),
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_snapshot_meta_commits_atomically_with_data(spark):
    """meta lives INSIDE the snapshot dir: a new commit without meta
    reads {}, a commit with meta reads it back, and time-travel reads
    the meta of THAT snapshot, not the current one."""
    from pgcp_spark.sources.lake import snapshot_meta, upsert, write_snapshot

    d = tempfile.mkdtemp(prefix="meta_t_")
    try:
        df = spark.createDataFrame([(1, "a")], ["k", "v"])
        s1 = write_snapshot(df, d, keep=3, meta={"applied": "v1"})
        assert snapshot_meta(d) == {"applied": "v1"}
        s2 = upsert(
            spark, d, spark.createDataFrame([(2, "b")], ["k", "v"]), key=["k"],
            keep=3,
        )
        assert snapshot_meta(d) == {}  # the new commit carried none
        assert snapshot_meta(d, s1) == {"applied": "v1"}  # time travel
        assert s2 != s1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cascade_missing_watermark_refuses(spark):
    """ADVICE r11: an aggregate with NO applied_view_state watermark must
    REFUSE to fold — the round-11 'legacy bootstrap' folded the full
    pending feed, which silently double-counts whenever the watermark was
    CLEARED by a metaless commit (compaction / manual write_snapshot)
    rather than never written. Both arrivals at the metaless state raise."""
    from pgcp_spark.sources.lake import (
        append_delta,
        pending_state,
        read_current,
        write_snapshot as ws,
    )
    from pgcp_spark.sources.view_maintenance import (
        build_agg_over,
        fold_agg_join_view,
    )

    view_dir = tempfile.mkdtemp(prefix="ivm_wm_view_")
    agg_dir = tempfile.mkdtemp(prefix="ivm_wm_agg_")
    try:
        view0 = spark.createDataFrame(
            [(1, 10, 5.0, "a"), (2, 20, 7.0, "b")],
            ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"],
        )
        ws(view0, view_dir)
        # (1) never stamped at build
        ws(build_agg_over(view0, "c_mktsegment", "o_totalprice"), agg_dir)
        append_delta(
            spark.createDataFrame(
                [(3, 10, 9.0, "a")], view0.columns
            ),
            view_dir,
        )
        with pytest.raises(RuntimeError, match="applied_view_state"):
            fold_agg_join_view(
                spark, agg_dir, view_dir, ["o_orderkey"], "c_mktsegment",
                "o_totalprice",
            )
        # (2) stamped, folded once, then a metaless commit CLEARS the
        # watermark (the silent-corruption shape) — must refuse, not
        # double-count
        ws(
            build_agg_over(view0, "c_mktsegment", "o_totalprice"),
            agg_dir,
            meta={"applied_view_state": f"{pending_state(view_dir).split('|')[0]}|"},
        )
        assert fold_agg_join_view(
            spark, agg_dir, view_dir, ["o_orderkey"], "c_mktsegment",
            "o_totalprice",
        )
        ws(read_current(spark, agg_dir), agg_dir)  # meta dropped — cleared
        with pytest.raises(RuntimeError, match="applied_view_state"):
            fold_agg_join_view(
                spark, agg_dir, view_dir, ["o_orderkey"], "c_mktsegment",
                "o_totalprice",
            )
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


# --- MIN/MAX cascade fold (round 12) ---------------------------------------


def _mm_lake(spark, rows, agg_from=None):
    """A tiny view lake + stamped min/max aggregate over it. ``rows`` are
    (o_orderkey, o_custkey, o_totalprice, c_mktsegment)."""
    from pgcp_spark.sources.lake import pending_state
    from pgcp_spark.sources.view_maintenance import build_minmax_over

    view_dir = tempfile.mkdtemp(prefix="mm_view_")
    agg_dir = tempfile.mkdtemp(prefix="mm_agg_")
    view0 = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"]
    )
    write_snapshot(view0, view_dir, cluster_by=["c_mktsegment"])
    write_snapshot(
        build_minmax_over(agg_from if agg_from is not None else view0,
                          "c_mktsegment", "o_totalprice"),
        agg_dir,
        meta={"applied_view_state": pending_state(view_dir)},
    )
    return view_dir, agg_dir


def _mm_fold(spark, agg_dir, view_dir):
    from pgcp_spark.sources.view_maintenance import fold_minmax_join_view

    return fold_minmax_join_view(
        spark, agg_dir, view_dir, ["o_orderkey"], "c_mktsegment", "o_totalprice"
    )


def _mm_serve(spark, agg_dir):
    from pgcp_spark.sources.view_maintenance import read_minmax_agg

    return _rows(read_minmax_agg(spark, agg_dir, "c_mktsegment"))


def _mm_recompute(spark, view_dir):
    from pgcp_spark.sources.view_maintenance import build_minmax_over

    v = read_current_with_deltas(spark, view_dir, key=["o_orderkey"])
    return _rows(
        build_minmax_over(v, "c_mktsegment", "o_totalprice").select(
            "c_mktsegment",
            F.col("min_dec").cast("double"),
            F.col("max_dec").cast("double"),
            "order_cnt",
        )
    )


def test_minmax_delete_raises_group_minimum(spark):
    """THE case the signed fold cannot serve: deleting the row holding a
    group's minimum must RAISE the served minimum — via the selective
    rescan, with fold==recompute."""
    from pgcp_spark.sources.lake import delete_delta

    view_dir, agg_dir = _mm_lake(
        spark,
        [(1, 10, 5.0, "a"), (2, 11, 10.0, "a"), (3, 12, 40.0, "a"),
         (4, 20, 7.0, "b"), (5, 21, 9.0, "b")],
    )
    try:
        # delete o1 — the holder of group a's minimum 5.0
        delete_delta(
            spark.createDataFrame([(1,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )
        assert _mm_fold(spark, agg_dir, view_dir) is True
        got = _mm_serve(spark, agg_dir)
        assert got == [("a", 10.0, 40.0, 2), ("b", 7.0, 9.0, 2)]
        assert got == _mm_recompute(spark, view_dir)
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


def test_minmax_rescan_scoped_to_endangered_groups(spark):
    """The rescan-decision helper: a removal strictly INSIDE a group's
    (min, max) folds without rescan; only bound-tying removals (or
    removals against a group the store can't vouch for) flag."""
    from pgcp_spark.sources.view_maintenance import minmax_rescan_groups

    stored = spark.createDataFrame(
        [("a", 5.0, 40.0, 3), ("b", 7.0, 9.0, 2), ("c", 1.0, 2.0, 2)],
        ["c_mktsegment", "min_dec", "max_dec", "order_cnt"],
    ).select(
        "c_mktsegment",
        F.col("min_dec").cast("decimal(18,2)").alias("min_dec"),
        F.col("max_dec").cast("decimal(18,2)").alias("max_dec"),
        "order_cnt",
    )
    deltas = spark.createDataFrame(
        [
            # a: removal 10.0 strictly inside (5, 40) + an insert → fold
            ("a", 3.0, 3.0, 10.0, 10.0, 0),
            # b: removal ties the max 9.0 → rescan
            ("b", None, None, 9.0, 9.0, -1),
            # d: new group, insert only → fold
            ("d", 1.0, 2.0, None, None, 2),
        ],
        ["c_mktsegment", "ins_min", "ins_max", "rm_min", "rm_max", "d_cnt"],
    ).select(
        "c_mktsegment",
        *[F.col(c).cast("decimal(18,2)").alias(c)
          for c in ("ins_min", "ins_max", "rm_min", "rm_max")],
        "d_cnt",
    )
    touched, flag = minmax_rescan_groups(stored, deltas, "c_mktsegment")
    flags = {
        r[0]: r[1]
        for r in touched.select("c_mktsegment", flag.alias("f")).collect()
    }
    assert flags == {"a": False, "b": True, "d": False}


def test_minmax_insert_only_folds_and_matches(spark):
    """Inserts (a new global max, a new group) fold via least/greatest;
    fold == recompute with no rescan possible (no removals)."""
    from pgcp_spark.sources.lake import append_delta

    view_dir, agg_dir = _mm_lake(
        spark, [(1, 10, 5.0, "a"), (2, 11, 10.0, "a")]
    )
    try:
        append_delta(
            spark.createDataFrame(
                [(3, 12, 50.0, "a"), (4, 13, 2.0, "a"), (5, 20, 7.0, "z")],
                ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"],
            ),
            view_dir,
        )
        assert _mm_fold(spark, agg_dir, view_dir) is True
        got = _mm_serve(spark, agg_dir)
        assert got == [("a", 2.0, 50.0, 4), ("z", 7.0, 7.0, 1)]
        assert got == _mm_recompute(spark, view_dir)
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


def test_minmax_replay_and_group_to_zero_and_nulls(spark):
    """One fold covering the remaining contracts: an update moves the
    bound, a whole group folds to zero rows (drops from serving), NULL
    values never move bounds; an at-least-once replay of the same state
    is skipped bit-exactly."""
    from pgcp_spark.sources.lake import delete_delta, merge_cdc_delta, read_current

    view_dir, agg_dir = _mm_lake(
        spark,
        [(1, 10, 5.0, "a"), (2, 11, 10.0, "a"),
         (3, 20, 7.0, "gone"), (4, 30, None, "n"), (5, 31, 3.0, "n")],
    )
    try:
        batch = spark.createDataFrame(
            [(2, 11, 100.0, "a", "upsert"),      # raises a's max via update
             (3, 20, None, None, "delete"),       # group 'gone' → zero rows
             (6, 32, None, "n", "upsert")],       # NULL value: bounds hold
            ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment", "_op"],
        )
        merge_cdc_delta(spark, view_dir, batch, key=["o_orderkey"])
        assert _mm_fold(spark, agg_dir, view_dir) is True
        got = _mm_serve(spark, agg_dir)
        assert got == [("a", 5.0, 100.0, 2), ("n", 3.0, 3.0, 3)]
        assert got == _mm_recompute(spark, view_dir)
        before = _rows(read_current(spark, agg_dir))
        assert _mm_fold(spark, agg_dir, view_dir) is False  # replay skip
        assert _rows(read_current(spark, agg_dir)) == before
        # and the missing-watermark refuse holds for this fold too
        write_snapshot(read_current(spark, agg_dir), agg_dir)
        delete_delta(
            spark.createDataFrame([(5,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )
        with pytest.raises(RuntimeError, match="applied_view_state"):
            _mm_fold(spark, agg_dir, view_dir)
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


# --- exact COUNT DISTINCT fold (round 13) ----------------------------------


def _dst_lake(spark, rows):
    """A tiny view lake + stamped support/distinct-agg pair over it.
    ``rows`` are (o_orderkey, o_custkey, o_orderpriority, c_mktsegment):
    group = c_mktsegment, value = o_orderpriority."""
    from pgcp_spark.sources.lake import pending_state
    from pgcp_spark.sources.view_maintenance import (
        build_distinct_over,
        build_distinct_support,
    )

    view_dir = tempfile.mkdtemp(prefix="dst_view_")
    sup_dir = tempfile.mkdtemp(prefix="dst_sup_")
    agg_dir = tempfile.mkdtemp(prefix="dst_agg_")
    view0 = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment"]
    )
    write_snapshot(view0, view_dir, cluster_by=["c_mktsegment"])
    state0 = pending_state(view_dir)
    write_snapshot(
        build_distinct_support(view0, "c_mktsegment", "o_orderpriority"),
        sup_dir,
        meta={"applied_view_state": state0},
    )
    write_snapshot(
        build_distinct_over(view0, "c_mktsegment", "o_orderpriority"),
        agg_dir,
        meta={"applied_view_state": state0},
    )
    return view_dir, sup_dir, agg_dir


def _dst_fold(spark, sup_dir, agg_dir, view_dir):
    from pgcp_spark.sources.view_maintenance import fold_distinct_join_view

    return fold_distinct_join_view(
        spark, sup_dir, agg_dir, view_dir, ["o_orderkey"],
        "c_mktsegment", "o_orderpriority",
    )


def _dst_serve(spark, agg_dir):
    from pgcp_spark.sources.view_maintenance import read_distinct_agg

    return _rows(read_distinct_agg(spark, agg_dir, "c_mktsegment"))


def _dst_recompute(spark, view_dir):
    from pgcp_spark.sources.view_maintenance import build_distinct_over

    v = read_current_with_deltas(spark, view_dir, key=["o_orderkey"])
    return _rows(
        build_distinct_over(v, "c_mktsegment", "o_orderpriority").filter(
            F.col("distinct_cnt") > 0
        )
    )


_DST_ROWS = [
    (1, 10, "P1", "a"), (2, 11, "P1", "a"), (3, 12, "P2", "a"),
    (4, 20, "P1", "b"), (5, 21, None, "b"),
]


def test_distinct_transitions_fold_exactly(spark):
    """The four transition cases in one feed: deleting ONE of two P1
    holders in group a changes nothing; deleting the LAST P2 holder
    decrements; inserting an existing value changes nothing; inserting a
    new value increments — fold == recompute, and the support stays the
    pure per-pair multiplicity."""
    from pgcp_spark.sources.lake import append_delta, delete_delta
    from pgcp_spark.sources.view_maintenance import distinct_agg_from_support

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        delete_delta(
            spark.createDataFrame([(1,), (3,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )  # drop one P1 (no-op) and the last P2 (−1) in group a
        append_delta(
            spark.createDataFrame(
                [(6, 22, "P1", "b"), (7, 23, "P9", "b")],
                ["o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment"],
            ),
            view_dir,
        )  # b: P1 again (no-op) + brand-new P9 (+1)
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is True
        got = _dst_serve(spark, agg_dir)
        assert got == [("a", 1), ("b", 2)]
        assert got == _dst_recompute(spark, view_dir)
        # the agg must also equal its own support rollup (the crash-
        # repair identity)
        sup = read_current_with_deltas(
            spark, sup_dir, key=["c_mktsegment", "o_orderpriority"]
        )
        assert got == _rows(distinct_agg_from_support(sup, "c_mktsegment"))
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_distinct_replay_skips_and_group_to_zero_drops(spark):
    """An already-folded state replays as a no-op (False), and a group
    whose every value-holder is deleted serves no row while its support
    rows remain as retained evidence."""
    from pgcp_spark.sources.lake import delete_delta

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        delete_delta(
            spark.createDataFrame([(4,), (5,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )  # group b loses its only non-NULL holder (and a NULL row)
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is True
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is False
        got = _dst_serve(spark, agg_dir)
        assert got == [("a", 2)]
        assert got == _dst_recompute(spark, view_dir)
        sup = read_current_with_deltas(
            spark, sup_dir, key=["c_mktsegment", "o_orderpriority"]
        )
        b_rows = _rows(sup.filter(F.col("c_mktsegment") == "b"))
        assert b_rows == [("b", "P1", 0)]  # evidence retained at cnt 0
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_distinct_crash_between_commits_repairs_from_support(spark, monkeypatch):
    """The crash protocol: support committed, agg commit lost — the next
    fold detects support-at-state/agg-behind and REBUILDS the agg from
    the support (convergent), without re-applying the feed."""
    from pgcp_spark.sources import view_maintenance as vm
    from pgcp_spark.sources.lake import delete_delta, snapshot_meta

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        delete_delta(
            spark.createDataFrame([(3,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )  # last P2 holder in a: a real transition
        real_upsert = vm.upsert
        calls = {"n": 0}

        def crashing_upsert(spark_, table_dir, *a, **kw):
            if table_dir == agg_dir:
                calls["n"] += 1
                raise RuntimeError("simulated crash before the agg commit")
            return real_upsert(spark_, table_dir, *a, **kw)

        monkeypatch.setattr(vm, "upsert", crashing_upsert)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _dst_fold(spark, sup_dir, agg_dir, view_dir)
        monkeypatch.setattr(vm, "upsert", real_upsert)
        assert calls["n"] == 1
        from pgcp_spark.sources.lake import pending_state

        assert snapshot_meta(sup_dir)["applied_view_state"] == pending_state(
            view_dir
        )
        assert snapshot_meta(agg_dir)["applied_view_state"] != pending_state(
            view_dir
        )
        # recovery fold: repairs the agg from the support, no feed re-read
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is True
        got = _dst_serve(spark, agg_dir)
        assert got == [("a", 1), ("b", 1)]
        assert got == _dst_recompute(spark, view_dir)
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is False
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_distinct_crash_then_redelivery_repairs_and_continues(spark, monkeypatch):
    """The at-least-once restart arc the pure agg-behind branch misses:
    after the crash, the redelivered batch lands MORE view commits
    before the retry, so NEITHER watermark matches the current state.
    The support still leads — the fold must rebuild the agg from it at
    the SUPPORT'S watermark, then continue folding the remaining view
    diff, converging to the recompute (not refuse forever)."""
    from pgcp_spark.sources import view_maintenance as vm
    from pgcp_spark.sources.lake import append_delta, delete_delta

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        delete_delta(
            spark.createDataFrame([(3,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )
        real_upsert = vm.upsert

        def crashing_upsert(spark_, table_dir, *a, **kw):
            if table_dir == agg_dir:
                raise RuntimeError("simulated crash before the agg commit")
            return real_upsert(spark_, table_dir, *a, **kw)

        monkeypatch.setattr(vm, "upsert", crashing_upsert)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _dst_fold(spark, sup_dir, agg_dir, view_dir)
        monkeypatch.setattr(vm, "upsert", real_upsert)
        # the redelivery: a further view commit BEFORE the retry — a new
        # value lands in group b
        append_delta(
            spark.createDataFrame(
                [(10, 31, "P3", "b")],
                ["o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment"],
            ),
            view_dir,
        )
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is True
        got = _dst_serve(spark, agg_dir)
        assert got == [("a", 1), ("b", 2)]
        assert got == _dst_recompute(spark, view_dir)
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is False
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_distinct_crash_agg_ahead_repairs_from_support(spark, monkeypatch):
    """The r14 overlap's new crash case: the two data commits run
    concurrently, so a crash can now leave the AGG committed and the
    SUPPORT lost (the reverse of the r13 support-first window). The
    support stays authoritative either way — the retry must rebuild the
    agg from the support at ITS watermark (rolling the ahead agg back)
    and re-fold the residual diff, converging to the recompute."""
    from pgcp_spark.sources import view_maintenance as vm
    from pgcp_spark.sources.lake import delete_delta, pending_state, snapshot_meta

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        delete_delta(
            spark.createDataFrame([(3,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )  # last P2 holder in a: a real transition
        real_upsert = vm.upsert

        def crashing_upsert(spark_, table_dir, *a, **kw):
            if table_dir == sup_dir:
                raise RuntimeError("simulated crash before the support commit")
            return real_upsert(spark_, table_dir, *a, **kw)

        monkeypatch.setattr(vm, "upsert", crashing_upsert)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _dst_fold(spark, sup_dir, agg_dir, view_dir)
        monkeypatch.setattr(vm, "upsert", real_upsert)
        # the window under test: agg AHEAD, support behind
        assert snapshot_meta(agg_dir)["applied_view_state"] == pending_state(
            view_dir
        )
        assert snapshot_meta(sup_dir)["applied_view_state"] != pending_state(
            view_dir
        )
        # recovery fold: agg rebuilt from the (behind) support, residual
        # diff re-folded — both tables converge to the recompute
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is True
        got = _dst_serve(spark, agg_dir)
        assert got == [("a", 1), ("b", 1)]
        assert got == _dst_recompute(spark, view_dir)
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is False
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_distinct_missing_watermark_refuses(spark):
    """A metaless commit on the support clears the fold's watermark —
    the fold must refuse (the signed support fold double-counts on a
    blind re-fold). A metaless agg is repaired instead (next test)."""
    from pgcp_spark.sources.lake import append_delta, read_current

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        append_delta(
            spark.createDataFrame(
                [(8, 30, "P5", "a")],
                ["o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment"],
            ),
            view_dir,
        )
        write_snapshot(read_current(spark, sup_dir), sup_dir)  # metaless
        with pytest.raises(RuntimeError, match="no\\s+applied_view_state"):
            _dst_fold(spark, sup_dir, agg_dir, view_dir)
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_distinct_metaless_agg_rebuilds_from_support(spark):
    """The agg is a pure function of the support, so a metaless commit
    that clears only the AGG's watermark needs no refusal: its stamp
    differs from the support's, the crash repair rebuilds it from the
    support, and the fold continues to the recompute."""
    from pgcp_spark.sources.lake import append_delta, read_current, snapshot_meta

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        append_delta(
            spark.createDataFrame(
                [(8, 30, "P5", "a")],
                ["o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment"],
            ),
            view_dir,
        )
        write_snapshot(read_current(spark, agg_dir), agg_dir)  # metaless
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is True
        assert snapshot_meta(agg_dir) == snapshot_meta(sup_dir)
        got = _dst_serve(spark, agg_dir)
        assert got == [("a", 3), ("b", 1)]
        assert got == _dst_recompute(spark, view_dir)
        assert _dst_fold(spark, sup_dir, agg_dir, view_dir) is False
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_fold_grace_preserves_pinned_snapshots(spark):
    """The retention rule the transactional streams rely on, pinned
    deterministically (the racing-reader tests exercise it under real
    timing, but a race can pass by luck): a fold leaves the previous agg
    snapshot resolvable — a group-manifest reader pinned to it survives
    — with no ``keep`` at all, because the lake keeps a retired snapshot
    for its reader grace; ``vacuum``, the explicit end of grace, then
    reaps it."""
    import os

    from pgcp_spark.sources.lake import append_delta, current_snapshot, vacuum
    from pgcp_spark.sources.view_maintenance import fold_distinct_join_view

    view_dir, sup_dir, agg_dir = _dst_lake(spark, _DST_ROWS)
    try:
        pinned = current_snapshot(agg_dir)
        append_delta(
            spark.createDataFrame(
                [(9, 30, "P7", "a")],
                ["o_orderkey", "o_custkey", "o_orderpriority", "c_mktsegment"],
            ),
            view_dir,
        )
        assert fold_distinct_join_view(
            spark, sup_dir, agg_dir, view_dir, ["o_orderkey"],
            "c_mktsegment", "o_orderpriority",
        ) is True
        assert os.path.isdir(os.path.join(agg_dir, pinned))
        assert pinned in vacuum(agg_dir)
        assert not os.path.isdir(os.path.join(agg_dir, pinned))
    finally:
        for d in (view_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)


# --- per-group TOP-K fold (round 13) ---------------------------------------


def _tk_lake(spark, rows, k=2):
    """A tiny view lake + stamped top-k sets over it. ``rows`` are
    (o_orderkey, o_custkey, o_totalprice, c_mktsegment)."""
    from pgcp_spark.sources.lake import pending_state
    from pgcp_spark.sources.view_maintenance import build_topk_over

    view_dir = tempfile.mkdtemp(prefix="tk_view_")
    agg_dir = tempfile.mkdtemp(prefix="tk_agg_")
    view0 = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"]
    )
    write_snapshot(view0, view_dir, cluster_by=["c_mktsegment"])
    write_snapshot(
        build_topk_over(view0, "c_mktsegment", "o_orderkey", "o_totalprice", k),
        agg_dir,
        meta={"applied_view_state": pending_state(view_dir)},
    )
    return view_dir, agg_dir


def _tk_fold(spark, agg_dir, view_dir, k=2):
    from pgcp_spark.sources.view_maintenance import fold_topk_join_view

    return fold_topk_join_view(
        spark, agg_dir, view_dir, ["o_orderkey"],
        "c_mktsegment", "o_orderkey", "o_totalprice", k,
    )


def _tk_serve(spark, agg_dir):
    from pgcp_spark.sources.view_maintenance import serve_topk

    return _rows(
        serve_topk(read_current(spark, agg_dir), "c_mktsegment", "o_orderkey")
    )


def _tk_recompute(spark, view_dir, k=2):
    from pgcp_spark.sources.view_maintenance import build_topk_over, serve_topk

    v = read_current_with_deltas(spark, view_dir, key=["o_orderkey"])
    return _rows(
        serve_topk(
            build_topk_over(v, "c_mktsegment", "o_orderkey", "o_totalprice", k),
            "c_mktsegment",
            "o_orderkey",
        )
    )


_TK_ROWS = [
    (1, 10, 50.0, "a"), (2, 11, 40.0, "a"), (3, 12, 30.0, "a"),
    (4, 20, 9.0, "b"), (5, 21, 8.0, "b"),
]


def test_topk_delete_of_member_promotes_successor(spark):
    """THE case the stored set cannot answer alone: deleting a stored
    member (key 2, the rank-2 holder of group a) must promote the
    successor (key 3) via the selective rescan — fold == recompute."""
    from pgcp_spark.sources.lake import delete_delta

    view_dir, agg_dir = _tk_lake(spark, _TK_ROWS)
    try:
        delete_delta(
            spark.createDataFrame([(2,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )
        assert _tk_fold(spark, agg_dir, view_dir) is True
        got = _tk_serve(spark, agg_dir)
        assert got == [("a", 1, 50.0, 1), ("a", 3, 30.0, 2),
                       ("b", 4, 9.0, 1), ("b", 5, 8.0, 2)]
        assert got == _tk_recompute(spark, view_dir)
        assert _tk_fold(spark, agg_dir, view_dir) is False  # replay skip
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


def test_topk_rescan_exactly_member_hits(spark):
    """The decision helper: a removal of a NON-member never rescans (the
    rule is exact, keyed — unlike MIN/MAX's conservative value tie), a
    member hit rescans its group only, and a removal against an
    evidence-free group rescans defensively."""
    from pgcp_spark.sources.view_maintenance import topk_rescan_groups

    stored = spark.createDataFrame(
        [("a", 1, 50.0), ("a", 2, 40.0), ("b", 4, 9.0)],
        ["c_mktsegment", "o_orderkey", "topv"],
    )
    pre = spark.createDataFrame(
        [("a", 3), ("b", 4), ("c", 7)], ["c_mktsegment", "o_orderkey"]
    )
    got = sorted(
        r[0]
        for r in topk_rescan_groups(
            stored, pre, "c_mktsegment", "o_orderkey"
        ).collect()
    )
    # a: key 3 is NOT stored — no rescan; b: key 4 IS — rescan;
    # c: no evidence — defensive rescan
    assert got == ["b", "c"]


def test_topk_insert_promotion_folds_without_view_read(spark, monkeypatch):
    """An insert that enters the top-k folds by merge-and-rerank — the
    maintained view must NOT be read (the fold's inputs are the batch
    and the stored sets)."""
    import pgcp_spark.sources.view_maintenance as vm
    from pgcp_spark.sources.lake import append_delta

    view_dir, agg_dir = _tk_lake(spark, _TK_ROWS)
    try:
        append_delta(
            spark.createDataFrame(
                [(6, 13, 45.0, "a"), (7, 22, 1.0, "b")],
                ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"],
            ),
            view_dir,
        )
        real = vm.read_current_with_deltas
        reads = []

        def spying(spark_, tdir, *a, **kw):
            reads.append(tdir)
            return real(spark_, tdir, *a, **kw)

        monkeypatch.setattr(vm, "read_current_with_deltas", spying)
        assert _tk_fold(spark, agg_dir, view_dir) is True
        monkeypatch.setattr(vm, "read_current_with_deltas", real)
        assert view_dir not in reads, "insert-only fold read the view"
        got = _tk_serve(spark, agg_dir)
        # 45.0 displaces 40.0 in a; 1.0 does not enter b
        assert got == [("a", 1, 50.0, 1), ("a", 6, 45.0, 2),
                       ("b", 4, 9.0, 1), ("b", 5, 8.0, 2)]
        assert got == _tk_recompute(spark, view_dir)
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


def test_topk_ties_group_to_zero_and_missing_watermark(spark):
    """Equal values tie-break by key ascending in fold and oracle alike;
    a group whose every row is deleted drops from serving; a metaless
    commit refuses."""
    from pgcp_spark.sources.lake import delete_delta, read_current

    view_dir, agg_dir = _tk_lake(
        spark,
        [(9, 1, 5.0, "t"), (8, 2, 5.0, "t"), (7, 3, 5.0, "t"),
         (4, 20, 9.0, "b"), (5, 21, 8.0, "b")],
    )
    try:
        # ties: keys 7,8 win over 9 (key-ascending at equal value)
        assert _tk_serve(spark, agg_dir) == [
            ("b", 4, 9.0, 1), ("b", 5, 8.0, 2),
            ("t", 7, 5.0, 1), ("t", 8, 5.0, 2),
        ]
        delete_delta(
            spark.createDataFrame([(4,), (5,)], ["o_orderkey"]), view_dir,
            key=["o_orderkey"],
        )
        assert _tk_fold(spark, agg_dir, view_dir) is True
        got = _tk_serve(spark, agg_dir)
        assert got == [("t", 7, 5.0, 1), ("t", 8, 5.0, 2)]  # b gone
        assert got == _tk_recompute(spark, view_dir)
        write_snapshot(read_current(spark, agg_dir), agg_dir)  # metaless
        import pytest as _pt

        with _pt.raises(RuntimeError, match="no applied_view_state"):
            _tk_fold(spark, agg_dir, view_dir)
    finally:
        shutil.rmtree(view_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)


def test_topk_fallback_beyond_probe_bound_matches_bounded_path(
    spark, monkeypatch
):
    """Wave-5 pin: the fold's bounded group-list probes (literal-IN fast
    path) and the distributed join fallback (forced here by shrinking
    the probe bound to 0) must produce the identical stored sets for the
    same mixed batch — a member delete (rescan arm) plus an insert
    promotion (merge arm) at once."""
    import pgcp_spark.sources.view_maintenance as vm
    from pgcp_spark.sources.lake import append_delta, delete_delta

    view_a, agg_a = _tk_lake(spark, _TK_ROWS)
    view_b, agg_b = _tk_lake(spark, _TK_ROWS)
    try:
        for vd in (view_a, view_b):
            delete_delta(
                spark.createDataFrame([(2,)], ["o_orderkey"]), vd,
                key=["o_orderkey"],
            )
            append_delta(
                spark.createDataFrame(
                    [(6, 13, 45.0, "a"), (7, 22, 1.0, "b")],
                    ["o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"],
                ),
                vd,
            )
        assert _tk_fold(spark, agg_a, view_a) is True  # bounded fast path
        monkeypatch.setattr(vm, "VIEW_DIM_PUSHDOWN_MAX", 0)
        assert _tk_fold(spark, agg_b, view_b) is True  # forced fallback
        monkeypatch.undo()
        got_a, got_b = _tk_serve(spark, agg_a), _tk_serve(spark, agg_b)
        assert got_a == got_b
        assert got_a == _tk_recompute(spark, view_a)
    finally:
        for d in (view_a, agg_a, view_b, agg_b):
            shutil.rmtree(d, ignore_errors=True)


def test_minmax_fallback_beyond_probe_bound_matches_bounded_path(
    spark, monkeypatch
):
    """Same pin for the MIN/MAX fold: the rescan arm's bounded pushed-IN
    probe and the semi-join fallback (probe bound forced to 0) serve the
    identical bounds after a minimum-raising delete."""
    import pgcp_spark.sources.view_maintenance as vm
    from pgcp_spark.sources.lake import delete_delta

    rows = [(1, 10, 5.0, "a"), (2, 11, 10.0, "a"), (3, 12, 40.0, "a"),
            (4, 20, 7.0, "b"), (5, 21, 9.0, "b")]
    view_a, agg_a = _mm_lake(spark, rows)
    view_b, agg_b = _mm_lake(spark, rows)
    try:
        for vd in (view_a, view_b):
            delete_delta(
                spark.createDataFrame([(1,)], ["o_orderkey"]), vd,
                key=["o_orderkey"],
            )
        assert _mm_fold(spark, agg_a, view_a) is True  # bounded fast path
        monkeypatch.setattr(vm, "VIEW_DIM_PUSHDOWN_MAX", 0)
        assert _mm_fold(spark, agg_b, view_b) is True  # forced fallback
        monkeypatch.undo()
        got_a, got_b = _mm_serve(spark, agg_a), _mm_serve(spark, agg_b)
        assert got_a == got_b
        assert got_a == _mm_recompute(spark, view_a)
    finally:
        for d in (view_a, agg_a, view_b, agg_b):
            shutil.rmtree(d, ignore_errors=True)


# --- Spark job counts of one lake fold (the lake_ivm cycle, shrunk) -------

def _spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by ``statusTracker()`` under a job
    group of its own, after the listener bus is drained (the tracker
    only knows jobs whose events it has seen)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lake_fold_job_counts_stay_batch_sized(spark):
    """One CDC batch per fold over a 3,000-row lake, as in the ``lake_ivm``
    benchmark: ``merge_cdc_delta`` lands the batch as one delta, and
    ``fold_agg_join_view`` folds them into the stored aggregate. Under AQE
    every exchange of the merge-on-read resolve and of the signed fold is
    a job of its own, so the counts pin the plan shapes: the fold runs at
    most 12 jobs with one batch pending and with two (where the old state
    is itself resolved through the deltas), and the merge-on-read scan at
    two batches at most 5. The folded aggregate equals its rebuild."""
    from pgcp_spark.sources.lake import merge_cdc_delta, pending_state
    from pgcp_spark.sources.view_maintenance import (
        build_agg_over, fold_agg_join_view, read_agg, serve_agg,
    )

    key, group, value = ["o_orderkey"], "o_orderstatus", "o_totalprice"
    table = tempfile.mkdtemp(prefix="ivm_jobs_t_")
    agg = tempfile.mkdtemp(prefix="ivm_jobs_agg_")
    try:
        base = spark.range(1, 3001).select(
            F.col("id").alias("o_orderkey"),
            F.element_at(F.array(*map(F.lit, "FOP")), (F.col("id") % 3 + 1).cast("int"))
            .alias(group),
            (F.col("id") * 1.25).alias(value),
        )
        write_snapshot(base, table)
        write_snapshot(
            build_agg_over(read_current(spark, table), group, value), agg,
            meta={"applied_view_state": pending_state(table)},
        )

        def batch(lo: int):
            ups = spark.range(lo, 3001, 97).select(
                F.col("id").alias("o_orderkey"), F.lit("P").alias(group),
                (F.col("id") * 2.5).alias(value), F.lit("upsert").alias("_op"),
            )
            dels = spark.range(lo + 13, 3001, 89).select(
                F.col("id").alias("o_orderkey"), F.lit(None).cast("string").alias(group),
                F.lit(None).cast("double").alias(value), F.lit("delete").alias("_op"),
            )
            return ups.unionByName(dels)

        fold = lambda: fold_agg_join_view(spark, agg, table, key, group, value)  # noqa: E731
        merge_cdc_delta(spark, table, batch(1), key)
        assert _spark_jobs(spark, fold) <= 12
        merge_cdc_delta(spark, table, batch(5), key)
        assert _spark_jobs(spark, fold) <= 12
        scan = lambda: read_current_with_deltas(spark, table, key).write.format(  # noqa: E731
            "noop").mode("overwrite").save()
        assert _spark_jobs(spark, scan) <= 5

        rebuilt = serve_agg(
            build_agg_over(read_current_with_deltas(spark, table, key), group, value), group
        )
        assert _rows(read_agg(spark, agg, group)) == _rows(rebuilt)
    finally:
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(agg, ignore_errors=True)
