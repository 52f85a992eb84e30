"""Optimistic-concurrency contracts of the lake layer (round 10):
concurrent delta appends never lose a log entry, a snapshot commit with
a stale parent raises CommitConflict instead of silently dropping the
winner's rows, occ_upsert's retry loop lands BOTH concurrent writers'
batches, and a delta appended while a flatten runs survives the flatten's
log clear (selective retire)."""

from __future__ import annotations

import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from pgcp_spark.sources.lake import (
    CommitConflict,
    append_delta,
    current_snapshot,
    delta_names,
    flatten_deltas,
    occ_upsert,
    read_current,
    read_current_with_deltas,
    write_snapshot,
)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="lake_occ_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, ["k", "v"])


def test_concurrent_delta_appends_lose_nothing(spark, tdir):
    """8 writers × 5 appends race the _DELTAS log; all 40 entries must be
    logged and readable (the read-modify-write race this round's commit
    lock closes — without it, concurrent appends overwrite each other's
    log line)."""
    write_snapshot(_kv(spark, [(0, 0)]), tdir)

    def writer(w):
        for i in range(5):
            append_delta(_kv(spark, [(1000 + w * 10 + i, w)]), tdir)

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(writer, range(8)))
    assert len(delta_names(tdir)) == 40
    got = read_current_with_deltas(spark, tdir, key=["k"]).count()
    assert got == 41  # base row + every appended key


def test_stale_parent_commit_raises_and_preserves_winner(spark, tdir):
    """Writer B computed its merge against parent S0; writer A commits
    first. B's CAS commit must raise CommitConflict and leave A's state
    untouched (the lost-update detection)."""
    s0 = write_snapshot(_kv(spark, [(1, 1)]), tdir, keep=3)
    a_state = _kv(spark, [(1, 1), (2, 2)])
    b_state = _kv(spark, [(1, 1), (3, 3)])
    write_snapshot(a_state, tdir, keep=3, expect_parent=s0)  # A wins
    with pytest.raises(CommitConflict):
        write_snapshot(b_state, tdir, keep=3, expect_parent=s0)  # B must not
    rows = sorted(tuple(r) for r in read_current(spark, tdir).collect())
    assert rows == [(1, 1), (2, 2)]
    # the loser's staged snapshot dir was reclaimed, not leaked
    import os

    staged = [e for e in os.listdir(tdir) if e.startswith("snapshot_")]
    assert len(staged) == 2  # s0 + A's commit (keep=3 retains both)


def test_occ_upsert_concurrent_writers_both_land(spark, tdir):
    """Two writers occ_upsert disjoint key batches at the same time; the
    retry loop means the final table contains BOTH batches regardless of
    who wins the race (with plain upsert one batch could vanish)."""
    write_snapshot(_kv(spark, [(0, 0)]), tdir)

    def writer(w):
        occ_upsert(
            spark, tdir, _kv(spark, [(10 + w, w), (20 + w, w)]), key=["k"]
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(writer, range(2)))
    keys = {r.k for r in read_current(spark, tdir).collect()}
    assert keys == {0, 10, 11, 20, 21}


def test_occ_upsert_retries_past_conflict(spark, tdir, monkeypatch):
    """Deterministic conflict: the first CAS attempt is forced stale (an
    interposed commit lands after occ_upsert reads its parent), the
    retry must recompute against the new current and succeed with BOTH
    writers' rows."""
    import pgcp_spark.sources.lake as lake

    write_snapshot(_kv(spark, [(0, 0)]), tdir, keep=5)
    real = lake.current_snapshot
    fired = {"done": False}

    def racing(table_dir):
        parent = real(table_dir)
        if not fired["done"]:
            fired["done"] = True
            # another writer lands between parent read and CAS commit
            lake.upsert(spark, table_dir, _kv(spark, [(99, 99)]), key=["k"], keep=5)
        return parent

    monkeypatch.setattr(lake, "current_snapshot", racing)
    occ_upsert(spark, tdir, _kv(spark, [(1, 1)]), key=["k"], keep=5)
    monkeypatch.setattr(lake, "current_snapshot", real)
    keys = {r.k for r in read_current(spark, tdir).collect()}
    assert keys == {0, 1, 99}


def test_flatten_retires_only_what_it_folded(spark, tdir, monkeypatch):
    """A delta appended WHILE a flatten runs (after its fold-set capture)
    must stay active: the selective log clear retires only folded names,
    and the straggler still wins over the new base merge-on-read."""
    import pgcp_spark.sources.lake as lake

    write_snapshot(_kv(spark, [(1, 1)]), tdir)
    append_delta(_kv(spark, [(2, 2)]), tdir)
    real_read = lake.read_current_with_deltas
    fired = {"done": False}

    def interposing(spark_, table_dir, key):
        out = real_read(spark_, table_dir, key)
        if not fired["done"]:
            fired["done"] = True
            # a concurrent writer appends between capture and log clear
            append_delta(_kv(spark_, [(3, 3)]), table_dir)
        return out

    monkeypatch.setattr(lake, "read_current_with_deltas", interposing)
    flatten_deltas(spark, tdir, key=["k"])
    monkeypatch.setattr(lake, "read_current_with_deltas", real_read)
    assert len(delta_names(tdir)) == 1  # the straggler survived the clear
    rows = sorted(
        tuple(r) for r in read_current_with_deltas(spark, tdir, key=["k"]).collect()
    )
    assert rows == [(1, 1), (2, 2), (3, 3)]


def test_single_writer_paths_unchanged(spark, tdir):
    """The unconditional paths still work uncontended (no expect_parent →
    no CAS): plain snapshot/upsert sequence, lock acquired and released
    transparently."""
    write_snapshot(_kv(spark, [(1, 1)]), tdir)
    from pgcp_spark.sources.lake import upsert

    upsert(spark, tdir, _kv(spark, [(2, 2)]), key=["k"])
    assert current_snapshot(tdir) is not None
    assert {r.k for r in read_current(spark, tdir).collect()} == {1, 2}


# --- delta-layer schema evolution (late round 10) --------------------------


def test_delta_schema_evolution_by_name(spark, tdir):
    """A delta batch may ADD a column (base rows read NULL) or OMIT a
    non-key one (its rows read NULL); resolution is by name, and flatten
    materializes the evolved schema into the next base."""
    write_snapshot(_kv(spark, [(1, 1), (2, 2)]), tdir)
    widened = spark.createDataFrame([(2, 20, "x"), (3, 30, "y")], ["k", "v", "tag"])
    append_delta(widened, tdir)
    narrow = spark.createDataFrame([(4,)], "k int").withColumn("k", F.col("k").cast("long"))
    append_delta(narrow, tdir)

    view = read_current_with_deltas(spark, tdir, key=["k"])
    assert view.columns == ["k", "v", "tag"]
    rows = {r.k: (r.v, r.tag) for r in view.collect()}
    assert rows == {
        1: (1, None),      # base row, evolved column null-filled
        2: (20, "x"),      # delta wins with the new column
        3: (30, "y"),
        4: (None, None),   # omitting delta null-fills what it lacks
    }
    flatten_deltas(spark, tdir, key=["k"])
    flat = read_current(spark, tdir)
    assert flat.columns == ["k", "v", "tag"]
    assert {r.k: (r.v, r.tag) for r in flat.collect()} == rows


def test_delta_missing_key_column_raises(spark, tdir):
    """Keys cannot evolve: a data delta without the key column must fail
    loudly at read time, not resolve garbage."""
    write_snapshot(_kv(spark, [(1, 1)]), tdir)
    append_delta(spark.createDataFrame([(9,)], "v long"), tdir)
    with pytest.raises(ValueError, match="key column"):
        read_current_with_deltas(spark, tdir, key=["k"]).collect()


def test_evolving_cdc_batch_merge_on_read(spark, tdir):
    """merge_cdc_delta with an evolving batch: upserts carrying a new
    column land as a delta, deletes tombstone, and the merge-on-read view
    shows the evolved schema with base rows null-filled."""
    from pgcp_spark.sources.lake import merge_cdc_delta

    write_snapshot(_kv(spark, [(1, 1), (2, 2), (3, 3)]), tdir)
    batch = spark.createDataFrame(
        [(2, 20, "w", "upsert"), (3, None, None, "delete")],
        ["k", "v", "tag", "_op"],
    )
    merge_cdc_delta(spark, tdir, batch, key=["k"])
    rows = {
        r.k: (r.v, r.tag)
        for r in read_current_with_deltas(spark, tdir, key=["k"]).collect()
    }
    assert rows == {1: (1, None), 2: (20, "w")}


# --- AS-OF-timestamp time travel (late round 10) ---------------------------


def test_read_as_of_timestamp(spark, tdir):
    """Commit three versions with strictly increasing sidecar times; a
    timestamp between commits reads the version current AT that time,
    one before the first commit raises, and a timestamp governing a
    GC'd snapshot raises the retention error."""
    import time as _t

    from pgcp_spark.sources.lake import commit_times, read_as_of, vacuum

    write_snapshot(_kv(spark, [(1, 1)]), tdir, keep=3)
    _t.sleep(0.02)
    write_snapshot(_kv(spark, [(1, 2)]), tdir, keep=3)
    _t.sleep(0.02)
    write_snapshot(_kv(spark, [(1, 3)]), tdir, keep=3)
    times = commit_times(tdir)
    assert len(times) == 3
    assert times[0][1] < times[1][1] < times[2][1]  # lock-serialized order

    mid = (times[0][1] + times[1][1]) / 2
    assert [tuple(r) for r in read_as_of(spark, tdir, mid).collect()] == [(1, 1)]
    assert [tuple(r) for r in read_as_of(spark, tdir, times[1][1]).collect()] == [(1, 2)]
    assert [tuple(r) for r in read_as_of(spark, tdir, _t.time()).collect()] == [(1, 3)]
    with pytest.raises(FileNotFoundError, match="no commit at or before"):
        read_as_of(spark, tdir, times[0][1] - 1.0)

    # reap the history (vacuum keep=1) — the oldest timestamp now
    # answers with the retention error, not silently newer data
    write_snapshot(_kv(spark, [(1, 4)]), tdir, keep=1)
    vacuum(tdir, keep=1)
    with pytest.raises(FileNotFoundError, match="GC'd past the keep window"):
        read_as_of(spark, tdir, mid)


def test_stale_lock_break_protocol(tmp_path):
    """Round-11 break protocol: a stale lock is claimed by rename then
    verified on the claimed inode; a FRESH lock is never broken and is
    restored if a breaker displaced it mid-verify."""
    import os
    import time

    from pgcp_spark.sources.lake import LOCK_STALE_S, _try_break_stale_lock

    lock = str(tmp_path / "_COMMIT_LOCK")
    # fresh lock: untouched, caller keeps waiting
    open(lock, "w").write("tok now")
    assert _try_break_stale_lock(lock) is False
    assert os.path.exists(lock)
    # stale lock: broken, caller retries the acquire
    old = time.time() - LOCK_STALE_S - 5
    os.utime(lock, (old, old))
    assert _try_break_stale_lock(lock) is True
    assert not os.path.exists(lock)
    # vanished lock (holder released between probe and stat): retry
    assert _try_break_stale_lock(lock) is True


def test_commit_gc_runs_outside_lock(spark, tmp_path):
    """The commit's GC decision is taken under the lock and its rmtree
    runs after release: the lock file is gone when write_snapshot
    returns, and the replaced snapshot is still there (its grace)."""
    import os

    from pgcp_spark.sources.lake import (
        COMMIT_LOCK,
        history,
        write_snapshot,
    )

    d = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], ["k"])
    s1 = write_snapshot(df, d, keep=1)
    s2 = write_snapshot(df, d, keep=1)
    assert history(d) == [s1, s2]
    assert os.path.isdir(os.path.join(d, s1))  # retired just now: grace
    assert os.path.isdir(os.path.join(d, s2))
    assert not os.path.exists(os.path.join(d, COMMIT_LOCK))


def test_commit_times_skips_torn_trailing_line(spark, tmp_path):
    """A crash mid-append leaves a torn _COMMITS line; the parser must
    skip it instead of permanently breaking read_as_of."""
    import os

    from pgcp_spark.sources.lake import commit_times, write_snapshot

    d = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1,)], ["k"]), d, keep=2)
    good = commit_times(d)
    assert len(good) == 1
    with open(os.path.join(d, "_COMMITS"), "a") as f:
        f.write("snapshot_torn")          # no tab
    assert commit_times(d) == good
    with open(os.path.join(d, "_COMMITS"), "a") as f:
        f.write("\nsnapshot_torn2\t12.3.4\n")  # unparsable float
    assert commit_times(d) == good


def test_fenced_release_spares_anothers_lock(tmp_path):
    """Round-12 fencing (ADVICE r11): a holder whose lock was displaced
    (the stale-break residual race) must NOT unlink a newer writer's
    lock on release — release verifies the holder token first."""
    import os

    from pgcp_spark.sources.lake import COMMIT_LOCK, _commit_lock

    d = str(tmp_path / "t")
    lock = os.path.join(d, COMMIT_LOCK)
    with _commit_lock(d):
        # simulate the displacement: a breaker removed our lock and a new
        # writer acquired with a different token
        os.unlink(lock)
        open(lock, "w").write("othertoken 123.0")
    # fenced release left the other writer's lock standing
    assert open(lock).read().startswith("othertoken")
    os.unlink(lock)
    # normal path: our own token → released
    with _commit_lock(d):
        assert open(lock).read().split(" ", 1)[0]
    assert not os.path.exists(lock)


def test_pending_state_on_empty_table_raises(tmp_path):
    """ADVICE r11: pending_state on a never-committed table must fail at
    the cause, not mint a 'None|' id a fold could stamp as a watermark."""
    from pgcp_spark.sources.lake import pending_state

    d = str(tmp_path / "empty")
    os.makedirs(d)
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        pending_state(d)
