"""Contracts for the cross-table atomic commit (``sources/txn.py``):
group readers can never observe fact-advanced/view-stale, the manifest
CAS detects interleaved group commits, and the commit is all-or-nothing
under a racing reader."""

from __future__ import annotations

import shutil
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from pgcp_spark.sources.lake import (
    read_current,
    table_changes,
    upsert,
    write_snapshot,
)
from pgcp_spark.sources.txn import (
    GroupConflict,
    commit_group,
    group_state,
    read_group,
    table_state,
)
from pgcp_spark.sources.view_maintenance import fold_join_view

KEYS = {"fact": ["k"], "view": ["k"]}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def group(spark):
    """A fact+view group: fact(k, g, v) ⋈ dim(g, dname) = view, all
    committed through one initial manifest."""
    gdir = tempfile.mkdtemp(prefix="txn_group_")
    fact = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 10, 3.0)], ["k", "g", "v"]
    )
    dim = spark.createDataFrame([(10, "a"), (20, "b")], ["g", "dname"])
    import os

    write_snapshot(fact, os.path.join(gdir, "fact"), keep=6)
    write_snapshot(dim, os.path.join(gdir, "dim"), keep=6)
    view = fact.join(dim, on="g").select("k", "g", "v", "dname")
    write_snapshot(view, os.path.join(gdir, "view"), keep=6)
    commit_group(
        gdir,
        {n: table_state(gdir, n) for n in ("fact", "dim", "view")},
    )
    yield gdir
    shutil.rmtree(gdir, ignore_errors=True)


def _txn_cycle(spark, gdir, i):
    """One two-table transaction: upsert the fact, fold the view from the
    change feed, publish both post states in ONE group commit."""
    import os

    fact_dir, view_dir = os.path.join(gdir, "fact"), os.path.join(gdir, "view")
    prev = group_state(gdir)["fact"]["snapshot"]
    upsert(
        spark,
        fact_dir,
        spark.createDataFrame([(i + 100, 10, float(i))], ["k", "g", "v"]),
        key=["k"],
        keep=6,
    )
    fold_join_view(
        spark,
        view_dir,
        view_key=["k"],
        fact_feed=table_changes(spark, fact_dir, prev, key=["k"]),
        dim_feed=None,
        dim_current=read_current(spark, os.path.join(gdir, "dim")),
        fact_join_col="g",
        dim_join_col="g",
    )
    commit_group(gdir, {n: table_state(gdir, n) for n in ("fact", "view")})


def test_group_reader_never_sees_torn_state(spark, group):
    """THE pin: a reader racing the two-table commit resolves the
    manifest once per read and must see view == fact ⋈ dim on EVERY
    observation — fact-advanced/view-stale is structurally impossible."""
    dim = read_current(spark, f"{group}/dim")
    stop = threading.Event()
    torn: list[str] = []

    def reader():
        while not stop.is_set():
            dfs = read_group(spark, group, KEYS)
            want = _rows(
                dfs["fact"].join(dim, on="g").select("k", "g", "v", "dname")
            )
            got = _rows(dfs["view"].select("k", "g", "v", "dname"))
            if got != want:
                torn.append(f"view={got} expected={want}")
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(4):
            _txn_cycle(spark, group, i)
    finally:
        stop.set()
        t.join()
    assert not torn, torn[0]
    # and the final state reflects every transaction
    dfs = read_group(spark, group, KEYS)
    assert dfs["fact"].count() == 3 + 4
    assert dfs["view"].count() == 3 + 4


def test_uncommitted_per_table_writes_invisible_to_group(spark, group):
    """Crash window: per-table commits landed, group commit didn't run.
    Group readers stay on the old consistent state."""
    import os

    before = _rows(read_group(spark, group, KEYS)["fact"])
    upsert(
        spark,
        os.path.join(group, "fact"),
        spark.createDataFrame([(999, 10, 9.9)], ["k", "g", "v"]),
        key=["k"],
        keep=6,
    )
    # per-table reader sees it; group reader does not
    assert (999,) in {
        (r.k,) for r in read_current(spark, os.path.join(group, "fact")).collect()
    }
    assert _rows(read_group(spark, group, KEYS)["fact"]) == before


def test_group_cas_detects_interleaved_commit(spark, group):
    """Two transactions computed against the same manifest: the second
    commit's CAS must raise GroupConflict, not silently publish."""
    snap = group_state(group)
    commit_group(group, {"fact": table_state(group, "fact")}, expect=snap)
    with pytest.raises(GroupConflict):
        commit_group(group, {"view": table_state(group, "view")}, expect=snap)


def test_concurrent_group_commits_serialize(spark, group):
    """Unconditional group commits from many threads never corrupt the
    manifest (the lock serializes the read-modify-write)."""

    def commit(i):
        commit_group(group, {f"t{i}": {"snapshot": f"s{i}", "deltas": []}})

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(commit, range(16)))
    st = group_state(group)
    assert all(f"t{i}" in st for i in range(16))


def test_read_group_unknown_member_raises(spark, group):
    with pytest.raises(KeyError):
        read_group(spark, group, {"nope": ["k"]})


def test_group_pins_mor_deltas(spark, group):
    """A manifest entry carrying pending deltas serves the merge-on-read
    state AS OF the manifest — later per-table deltas stay invisible."""
    import os

    from pgcp_spark.sources.lake import append_delta

    view_dir = os.path.join(group, "view")
    append_delta(
        spark.createDataFrame([(50, 10, 5.0, "a")], ["k", "g", "v", "dname"]),
        view_dir,
    )
    commit_group(group, {"view": table_state(group, "view")})
    pinned = read_group(spark, group, KEYS)  # manifest includes the delta
    assert (50,) in {(r.k,) for r in pinned["view"].collect()}
    st = group_state(group)
    append_delta(
        spark.createDataFrame([(51, 10, 5.1, "a")], ["k", "g", "v", "dname"]),
        view_dir,
    )  # NOT group-committed
    again = read_group(spark, group, KEYS, state=st)
    ks = {(r.k,) for r in again["view"].collect()}
    assert (50,) in ks and (51,) not in ks


def test_occ_commit_group_retries_past_conflict(spark, group):
    """Two threads transacting against the same manifest: the loser's
    CAS conflicts, occ_commit_group recomputes against the new manifest
    and lands — both transactions' table states publish."""
    from pgcp_spark.sources.txn import occ_commit_group

    def txn(i):
        def compute(state):
            return {f"occ{i}": {"snapshot": f"s{i}", "deltas": []}}

        return occ_commit_group(group, compute)

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(txn, range(2)))
    st = group_state(group)
    assert "occ0" in st and "occ1" in st


def test_occ_commit_group_gives_up_cleanly(spark, group, monkeypatch):
    """Permanent conflict (the manifest moves under every attempt) must
    surface as GroupConflict, never a silent publish."""
    import pgcp_spark.sources.txn as T

    real = T.commit_group
    calls = {"n": 0}

    def always_behind(group_dir, tables=None, expect=None):
        calls["n"] += 1
        real(group_dir, {"noise": {"snapshot": f"x{calls['n']}", "deltas": []}})
        return real(group_dir, tables, expect=expect)

    monkeypatch.setattr(T, "commit_group", always_behind)
    with pytest.raises(T.GroupConflict):
        T.occ_commit_group(group, lambda st: {"t": {"snapshot": "s", "deltas": []}}, retries=3)
    assert calls["n"] == 3


def test_vacuum_group_protects_manifest_pins(spark, group):
    """Per-table vacuum knows nothing about the manifest; vacuum_group
    must keep every manifest-pinned snapshot/delta alive even past the
    keep window, so read_group stays servable — and still reap the
    unpinned history."""
    import os

    from pgcp_spark.sources.lake import append_delta, history
    from pgcp_spark.sources.txn import vacuum_group

    fact_dir = os.path.join(group, "fact")
    pinned_snap = group_state(group)["fact"]["snapshot"]
    # advance the per-table pointer twice WITHOUT a group commit: the
    # manifest now lags by two snapshots
    for i in range(2):
        upsert(
            spark,
            fact_dir,
            spark.createDataFrame([(700 + i, 10, 7.0)], ["k", "g", "v"]),
            key=["k"],
            keep=6,
        )
    # pin a delta on the view through the manifest, then vacuum
    view_dir = os.path.join(group, "view")
    append_delta(
        spark.createDataFrame([(60, 10, 6.0, "a")], ["k", "g", "v", "dname"]),
        view_dir,
    )
    commit_group(group, {"view": table_state(group, "view")})
    removed = vacuum_group(group, keep=1)
    assert os.path.isdir(os.path.join(fact_dir, pinned_snap))  # pin survives
    assert pinned_snap in history(fact_dir)  # and stays COMMITTED in the log
    assert len(history(fact_dir)) == 2  # newest + the protected pin only
    assert any(removed.values())  # the unpinned middle snapshot reaped
    # the group read still serves the manifest's states bit-for-bit
    dfs = read_group(spark, group, KEYS)
    assert (60,) in {(r.k,) for r in dfs["view"].collect()}
    assert (700,) not in {(r.k,) for r in dfs["fact"].collect()}  # manifest lags


def test_three_table_group_fact_view_agg_consistent(spark):
    """The round's two big features composed: fact CDC → view fold →
    cascade aggregate fold, all three post states published in ONE
    manifest commit. A reader racing the transactions resolves the
    manifest once and must find BOTH invariants on every observation:
    view == fact ⋈ dim AND agg == groupBy(view) — the cascade's
    watermark makes the agg exactly-once, the manifest makes the trio
    atomic."""
    import os

    from pgcp_spark.sources.lake import pending_state
    from pgcp_spark.sources.view_maintenance import (
        build_agg_over,
        fold_agg_join_view,
    )

    gdir = tempfile.mkdtemp(prefix="txn_casc_group_")
    try:
        fact = spark.createDataFrame(
            [(1, 10, 1.0), (2, 20, 2.0), (3, 10, 3.0)], ["k", "g", "v"]
        )
        dim = spark.createDataFrame([(10, "a"), (20, "b")], ["g", "dname"])
        write_snapshot(fact, os.path.join(gdir, "fact"), keep=6)
        write_snapshot(dim, os.path.join(gdir, "dim"), keep=6)
        view = fact.join(dim, on="g").select("k", "g", "v", "dname")
        write_snapshot(view, os.path.join(gdir, "view"), keep=6)
        write_snapshot(
            build_agg_over(view, "dname", "v"),
            os.path.join(gdir, "agg"),
            keep=6,
            meta={"applied_view_state": pending_state(os.path.join(gdir, "view"))},
        )
        commit_group(
            gdir, {n: table_state(gdir, n) for n in ("fact", "dim", "view", "agg")}
        )

        stop = threading.Event()
        torn: list[str] = []

        def reader():
            keys = {"fact": ["k"], "view": ["k"], "agg": ["dname"]}
            while not stop.is_set():
                dfs = read_group(spark, gdir, keys)
                want_view = _rows(
                    dfs["fact"].join(dim, on="g").select("k", "g", "v", "dname")
                )
                got_view = _rows(dfs["view"].select("k", "g", "v", "dname"))
                if got_view != want_view:
                    torn.append("view != fact join dim")
                    return
                want_agg = _rows(
                    build_agg_over(dfs["view"], "dname", "v").filter(
                        F.col("order_cnt") > 0
                    )
                )
                got_agg = _rows(dfs["agg"].filter(F.col("order_cnt") > 0))
                if got_agg != want_agg:
                    torn.append(f"agg {got_agg} != groupBy(view) {want_agg}")
                    return

        def txn(i):
            # ONE transaction end to end: fact upsert + view fold + agg
            # fold, then a SINGLE three-table publish. (Committing
            # fact+view first and agg second would itself be the torn
            # window the reader hunts.)
            fact_dir = os.path.join(gdir, "fact")
            view_dir = os.path.join(gdir, "view")
            prev = group_state(gdir)["fact"]["snapshot"]
            upsert(
                spark, fact_dir,
                spark.createDataFrame([(i + 100, 10, float(i))], ["k", "g", "v"]),
                key=["k"], keep=6,
            )
            fold_join_view(
                spark, view_dir, view_key=["k"],
                fact_feed=table_changes(spark, fact_dir, prev, key=["k"]),
                dim_feed=None,
                dim_current=read_current(spark, os.path.join(gdir, "dim")),
                fact_join_col="g", dim_join_col="g",
            )
            fold_agg_join_view(
                spark, os.path.join(gdir, "agg"), view_dir, ["k"], "dname", "v"
            )
            commit_group(
                gdir, {n: table_state(gdir, n) for n in ("fact", "view", "agg")}
            )

        t = threading.Thread(target=reader)
        t.start()
        try:
            for i in range(3):
                txn(i)
        finally:
            stop.set()
            t.join()
        assert not torn, torn[0]
        final = read_group(spark, gdir, {"view": ["k"], "agg": ["dname"]})
        assert final["view"].count() == 3 + 3
        got = _rows(final["agg"].filter(F.col("order_cnt") > 0))
        want = _rows(
            build_agg_over(final["view"], "dname", "v").filter(
                F.col("order_cnt") > 0
            )
        )
        assert got == want and got
    finally:
        shutil.rmtree(gdir, ignore_errors=True)


def test_manifest_history_and_read_group_as_of(spark, group):
    """Round 12: every group commit appends to _MANIFEST_LOG; as-of reads
    resolve the newest manifest at or before the timestamp and serve the
    trio pinned to THAT transaction — mutually consistent history."""
    import time

    from pgcp_spark.sources.txn import manifest_history, read_group_as_of

    t_initial = time.time()
    _txn_cycle(spark, group, 0)
    t_mid = time.time()
    _txn_cycle(spark, group, 1)
    hist = manifest_history(group)
    assert len(hist) == 3  # initial + two transactions
    assert [t for t, _ in hist] == sorted(t for t, _ in hist)
    old = read_group_as_of(spark, group, KEYS, t_initial)
    assert old["fact"].count() == 3 and old["view"].count() == 3
    mid = read_group_as_of(spark, group, KEYS, t_mid)
    assert mid["fact"].count() == 4 and mid["view"].count() == 4
    now = read_group_as_of(spark, group, KEYS, time.time())
    assert now["fact"].count() == 5
    # the as-of members are mutually consistent AT that commit
    dim = read_current(spark, f"{group}/dim")
    assert _rows(mid["view"].select("k", "g", "v", "dname")) == _rows(
        mid["fact"].join(dim, on="g").select("k", "g", "v", "dname")
    )
    with pytest.raises(FileNotFoundError, match="no group commit"):
        read_group_as_of(spark, group, KEYS, hist[0][0] - 1.0)


def test_manifest_log_torn_line_skipped(spark, group):
    """A crash mid-append leaves a torn _MANIFEST_LOG tail; the parser
    skips it and current + historical reads keep working."""
    import os

    from pgcp_spark.sources.txn import MANIFEST_LOG, manifest_history

    good = manifest_history(group)
    assert good
    with open(os.path.join(group, MANIFEST_LOG), "a") as f:
        f.write("torn-no-tab")
    assert manifest_history(group) == good
    with open(os.path.join(group, MANIFEST_LOG), "a") as f:
        f.write("\n12.3\t{not json")
    assert manifest_history(group) == good
    assert read_group(spark, group, KEYS)["fact"].count() == 3


def test_vacuum_group_history_keep_window(spark, group):
    """vacuum_group protects the pins of the newest history_keep logged
    manifests: inside the window read_group_as_of stays servable, past
    it the governing snapshot is reclaimed and the read fails with the
    retention error — the same contract as read_as_of past keep."""
    import time

    from pgcp_spark.sources.txn import (
        manifest_history,
        read_group_as_of,
        vacuum_group,
    )

    t0 = time.time()
    for i in range(3):
        _txn_cycle(spark, group, i)
        time.sleep(0.02)
    hist = manifest_history(group)
    assert len(hist) == 4  # initial + three transactions
    # protect the newest 3 manifests: the INITIAL manifest's pins age out
    vacuum_group(group, keep=1, history_keep=3)
    with pytest.raises(FileNotFoundError):
        read_group_as_of(spark, group, KEYS, t0)  # governing pin reclaimed
    # inside the window every transaction still serves, pinned
    kept = read_group_as_of(spark, group, KEYS, hist[1][0])
    assert kept["fact"].count() == 4
    assert read_group_as_of(spark, group, KEYS, time.time())["fact"].count() == 6


def test_manifest_history_reconciles_lost_log_tail(spark, group):
    """Round-12 review fix: a crash between the manifest replace and the
    log append loses the newest transaction from the log — the pointer
    stays authoritative, so manifest_history must reconcile the current
    manifest back in (the lake.history() rule) and as-of reads at 'now'
    must serve the CURRENT states, not the previous transaction's."""
    import os
    import time

    from pgcp_spark.sources.txn import (
        MANIFEST_LOG,
        manifest_history,
        read_group_as_of,
    )

    _txn_cycle(spark, group, 0)
    full = manifest_history(group)
    assert len(full) == 2
    # simulate the crash: drop the newest log line (the txn IS committed
    # — the manifest pointer moved — but the history append was lost)
    path = os.path.join(group, MANIFEST_LOG)
    lines = open(path).read().splitlines()
    open(path, "w").write("\n".join(lines[:-1]) + "\n")
    rec = manifest_history(group)
    assert len(rec) == 2  # reconciled back in from the pointer
    assert rec[-1][1] == full[-1][1]
    assert read_group_as_of(spark, group, KEYS, time.time())[
        "fact"
    ].count() == 4  # the current transaction's state, not the initial 3


def test_manifest_log_append_heals_torn_tail(spark, group):
    """Round-13 ADVICE fix: a crash mid-append can leave a torn tail with
    NO trailing newline; the next commit's append must not concatenate
    onto it. The nasty case is a fragment ending in DIGITS — naively
    glued to the next record it still parses as a (ts, json) pair with a
    garbage timestamp and silently corrupts as-of resolution. The healing
    append isolates the fragment on its own (skipped) line."""
    import os

    from pgcp_spark.sources.txn import MANIFEST_LOG, manifest_history

    before = manifest_history(group)
    path = os.path.join(group, MANIFEST_LOG)
    with open(path, "a") as f:
        f.write("169999.1")  # torn fragment, digit tail, no newline
    _txn_cycle(spark, group, 0)
    hist = manifest_history(group)
    assert len(hist) == len(before) + 1  # fragment skipped, new line intact
    assert [t for t, _ in hist] == sorted(t for t, _ in hist)
    # no forged entry: every timestamp is a real commit epoch, none is
    # the glued fragment's 169999.x
    assert all(t > 1e9 for t, _ in hist)


def test_commits_sidecar_append_heals_torn_tail(spark, tmp_path):
    """Same hazard, lake side: the _COMMITS sidecar append heals a torn
    digit-ending tail so read_as_of keeps resolving every commit."""
    from pgcp_spark.sources.lake import (
        _commits_path,
        commit_times,
        write_snapshot,
    )

    tdir = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1,)], ["k"]), tdir, keep=6)
    assert len(commit_times(tdir)) == 1
    with open(_commits_path(tdir), "a") as f:
        f.write("snap-000001\t169999.1")  # torn: parseable-looking, no \n
    write_snapshot(spark.createDataFrame([(2,)], ["k"]), tdir, keep=6)
    times = commit_times(tdir)
    # the torn fragment stays its own line, and because its truncated
    # float parses as an absurdly-early timestamp, commit_times CLAMPS
    # it to its predecessor's (commit order == timestamp order — the
    # Delta monotonicity adjustment): no entry can make read_as_of
    # serve a snapshot for times predating its commit
    assert all(b[1] >= a[1] for a, b in zip(times, times[1:]))
    assert times[-1][1] > 1e9
    assert len([1 for n, t in times if t > 1e9]) == 3  # torn one clamped up


def test_manifest_history_reconcile_timestamp_clamped(spark, group, monkeypatch):
    """Round-13 ADVICE fix: the reconciled current-manifest entry must
    respect the log's time ordering. With the newest log line lost AND
    the manifest mtime lagging the log tail (clock skew / copied files),
    the reconciled timestamp clamps to the tail; and when NO plausible
    timestamp exists (empty log + unreadable mtime) the entry is skipped
    so an as_of BEFORE the first commit raises instead of serving the
    newest state at a forged ts=0.0."""
    import os
    import time

    from pgcp_spark.sources import txn as txn_mod
    from pgcp_spark.sources.txn import (
        MANIFEST_LOG,
        manifest_history,
        read_group_as_of,
    )

    _txn_cycle(spark, group, 0)
    path = os.path.join(group, MANIFEST_LOG)
    lines = open(path).read().splitlines()
    open(path, "w").write("\n".join(lines[:-1]) + "\n")
    # make the manifest mtime PREDATE the log tail
    os.utime(os.path.join(group, "_MANIFEST"), (1.0, 1.0))
    hist = manifest_history(group)
    assert [t for t, _ in hist] == sorted(t for t, _ in hist)
    assert hist[-1][0] >= hist[-2][0]  # clamped to the tail, not 1.0
    # no-plausible-timestamp branch: empty log, unreadable mtime
    open(path, "w").write("")
    monkeypatch.setattr(
        txn_mod.os.path, "getmtime", lambda p: (_ for _ in ()).throw(OSError())
    )
    assert manifest_history(group) == []
    with pytest.raises(FileNotFoundError, match="no group commit"):
        read_group_as_of(spark, group, KEYS, time.time())


def test_asof_history_query_serves_distinct_epoch_states(spark):
    """Round 13: the registered as-of-history join's load-bearing
    contract, pinned locally — the three epochs serve THREE distinct
    dim states (v1 original, v2 = SEG2 on %2, v3 = SEG3 on %3 layered
    over SEG2), i.e. the historical manifests really pin per-commit
    states rather than all resolving to the newest."""
    from pgcp_spark.registry import all_queries

    df = all_queries()["lake_asof_join_manifest_history"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert rows
    by_epoch = {e: {} for e in (1, 2, 3)}
    for r in rows:
        by_epoch[r.epoch][r.o_custkey] = r.seg_asof
    # epoch 1: nothing rewritten — no synthetic segment anywhere
    assert not any(s in ("SEG2", "SEG3") for s in by_epoch[1].values())
    # epoch 2: %2 keys rewritten to SEG2; %3-only keys untouched; SEG3
    # (the NEXT commit) must not leak backwards
    assert any(s == "SEG2" for k, s in by_epoch[2].items() if k % 2 == 0)
    assert not any(s == "SEG3" for s in by_epoch[2].values())
    assert not any(
        s.startswith("SEG") for k, s in by_epoch[2].items()
        if k % 2 != 0
    )
    # epoch 3: %3 keys serve SEG3 (layered over the SEG2 rewrite on %6)
    assert any(s == "SEG3" for k, s in by_epoch[3].items() if k % 3 == 0)
    assert all(
        s == "SEG3" for k, s in by_epoch[3].items() if k % 3 == 0
    )


def test_racing_group_reader_survives_default_keep_commits(spark):
    """Reader safety by the lake's grace, not by a ``keep`` count: a
    ``read_group`` reader collects continuously while 20 transactions
    (fact upsert → view fold → cascade agg fold, a view flatten every
    4th, → one group commit) land with every writer at its default
    ``keep``. Each commit retires snapshots and deltas the previous
    manifest pins; the reader must never lose their files and never see
    a torn trio."""
    import os

    from pgcp_spark.indexes.loop import maybe_flatten
    from pgcp_spark.sources.lake import pending_state
    from pgcp_spark.sources.view_maintenance import (
        build_agg_over,
        fold_agg_join_view,
        stamp_applied_state,
    )

    gdir = tempfile.mkdtemp(prefix="txn_race_group_")
    dirs = {n: os.path.join(gdir, n) for n in ("fact", "dim", "view", "agg")}
    try:
        fact = spark.createDataFrame([(1, 10, 1.0), (2, 20, 2.0)], ["k", "g", "v"])
        dim = spark.createDataFrame([(10, "a"), (20, "b")], ["g", "dname"])
        view = fact.join(dim, on="g").select("k", "g", "v", "dname")
        write_snapshot(fact, dirs["fact"])
        write_snapshot(dim, dirs["dim"])
        write_snapshot(view, dirs["view"])
        write_snapshot(
            build_agg_over(view, "dname", "v"), dirs["agg"],
            meta={"applied_view_state": pending_state(dirs["view"])},
        )
        commit_group(gdir, {n: table_state(gdir, n) for n in dirs})
        dim_rows = _rows(dim)

        stop = threading.Event()
        failures: list[str] = []
        reads = [0]

        def reader():
            keys = {"fact": ["k"], "view": ["k"], "agg": ["dname"]}
            while not stop.is_set() and not failures:
                try:
                    dfs = read_group(spark, gdir, keys)
                    facts = _rows(dfs["fact"])
                    got_view = _rows(dfs["view"].select("k", "g", "v", "dname"))
                    got_agg = _rows(
                        dfs["agg"].filter(F.col("order_cnt") > 0)
                        .select("dname", "order_cnt")
                    )
                except Exception as exc:  # noqa: BLE001 — recorded, fails below
                    failures.append(f"reader died: {exc}")
                    return
                names = dict(dim_rows)
                want_view = sorted(
                    (k, g, v, names[g]) for k, g, v in facts if g in names
                )
                if got_view != want_view:
                    failures.append(f"torn: view {got_view} != fact ⋈ dim")
                    return
                counts: dict[str, int] = {}
                for _, _, _, d in got_view:
                    counts[d] = counts.get(d, 0) + 1
                if got_agg != sorted(counts.items()):
                    failures.append(f"torn: agg {got_agg} != groupBy(view)")
                    return
                reads[0] += 1

        t = threading.Thread(target=reader)
        t.start()
        try:
            for i in range(20):
                # one new key per transaction, so its change feed is one
                # insert (a literal frame: no Python-side scan per use)
                batch = spark.range(1).select(
                    F.lit(100 + i).cast("long").alias("k"),
                    F.lit(10 + 10 * (i % 2)).cast("long").alias("g"),
                    F.lit(float(i)).alias("v"),
                )
                upsert(spark, dirs["fact"], batch, key=["k"])
                fold_join_view(
                    spark, dirs["view"], view_key=["k"],
                    fact_feed=batch.withColumn("_change_type", F.lit("insert")),
                    dim_feed=None, dim_current=read_current(spark, dirs["dim"]),
                    fact_join_col="g", dim_join_col="g",
                )
                fold_agg_join_view(
                    spark, dirs["agg"], dirs["view"], ["k"], "dname", "v"
                )
                # the drivers' flatten cadence: retires view deltas a
                # pinned manifest may still name, and bounds the merge
                if maybe_flatten(spark, dirs["view"], key=["k"], max_deltas=4):
                    stamp_applied_state(spark, dirs["agg"], dirs["view"])
                commit_group(
                    gdir, {n: table_state(gdir, n) for n in ("fact", "view", "agg")}
                )
                if failures:
                    break
        finally:
            stop.set()
            t.join()
        assert not failures, failures[0]
        assert reads[0] > 0
        final = read_group(spark, gdir, {"view": ["k"]})
        assert final["view"].count() == 2 + 20
    finally:
        shutil.rmtree(gdir, ignore_errors=True)
