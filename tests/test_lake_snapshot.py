"""Atomic snapshot tables (pgcp_spark/sources/lake.py): the reference's
staging + hotswap availability pattern (postgres.rb:93-106,
transport.rb:128-143) translated to pointer commits on a parquet lake."""

from __future__ import annotations

import glob
import os
import shutil

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pgcp_spark.sources import lake


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, amount double")


def test_write_and_read_snapshot(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    got = sorted(tuple(r) for r in lake.read_current(spark, table).collect())
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]


def test_upsert_replaces_by_key_and_keeps_rest(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]), table)
    lake.upsert(spark, table, _df(spark, [(2, "b2", 20.0), (4, "d", 4.0)]), key=["id"])
    got = sorted(tuple(r) for r in lake.read_current(spark, table).collect())
    assert got == [(1, "a", 1.0), (2, "b2", 20.0), (3, "c", 3.0), (4, "d", 4.0)]


def test_readers_unaffected_by_uncommitted_snapshot(spark, tmp_path):
    """A snapshot dir without a pointer flip (= crash before commit, or a
    CONCURRENT writer's in-flight stage) is invisible to readers. Since
    the round-10 multi-writer protocol, commit-time GC must NOT reap it —
    only vacuum's age guard may (a young uncommitted dir could be another
    writer's stage; reaping it at commit would corrupt that writer)."""
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table)
    committed = lake.current_snapshot(table)

    orphan = os.path.join(table, f"{lake.SNAPSHOT_PREFIX}deadbeef")
    _df(spark, [(9, "x", 9.0)]).write.parquet(orphan)
    assert lake.current_snapshot(table) == committed
    got = [tuple(r) for r in lake.read_current(spark, table).collect()]
    assert got == [(1, "a", 1.0)]

    lake.write_snapshot(_df(spark, [(2, "b", 2.0)]), table)
    assert os.path.exists(orphan)  # commit defers to vacuum now
    lake.vacuum(table, orphan_min_age_s=0)  # explicit, age-guarded reap
    assert not os.path.exists(orphan)


def test_commit_leaves_exactly_one_snapshot(spark, tmp_path):
    """The replaced snapshot outlives the commit for the reader grace;
    vacuum, the explicit end of grace, leaves exactly the current one."""
    table = str(tmp_path / "t")
    s1 = lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table)
    lake.upsert(spark, table, _df(spark, [(1, "a2", 10.0)]), key=["id"])
    assert os.path.isdir(os.path.join(table, s1))  # in its grace
    assert lake.vacuum(table) == [s1]
    snaps = [e for e in os.listdir(table) if e.startswith(lake.SNAPSHOT_PREFIX)]
    assert len(snaps) == 1
    assert lake.current_snapshot(table) == snaps[0]


def test_read_current_without_commit_raises(spark, tmp_path):
    table = str(tmp_path / "empty")
    os.makedirs(table)
    try:
        lake.read_current(spark, table)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_time_travel_with_keep(spark, tmp_path):
    table = str(tmp_path / "t")
    s1 = lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table, keep=2)
    s2 = lake.upsert(spark, table, _df(spark, [(1, "a2", 2.0)]), key=["id"], keep=2)
    assert lake.history(table) == [s1, s2]
    old = [tuple(r) for r in lake.read_snapshot(spark, table, s1).collect()]
    new = [tuple(r) for r in lake.read_current(spark, table).collect()]
    assert old == [(1, "a", 1.0)]
    assert new == [(1, "a2", 2.0)]
    # a third commit puts s1 beyond keep=2, but it stays in its grace
    # until vacuum ends that
    s3 = lake.upsert(spark, table, _df(spark, [(1, "a3", 3.0)]), key=["id"], keep=2)
    assert lake.history(table) == [s1, s2, s3]
    assert lake.vacuum(table, keep=2) == [s1]
    assert lake.history(table) == [s2, s3]
    try:
        lake.read_snapshot(spark, table, s1)
        raise AssertionError("expected FileNotFoundError for expired snapshot")
    except FileNotFoundError:
        pass


def test_compact_merges_small_files_same_rows(spark, tmp_path):
    from pgcp_spark.sources import lake

    table_dir = str(tmp_path / "events_lake")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    # simulate streaming ingestion debris: 64 tiny files
    lake.write_snapshot(df.repartition(64), table_dir, keep=2)
    snap_before = lake.current_snapshot(table_dir)
    n_before = len(glob.glob(os.path.join(table_dir, snap_before, "*.parquet")))
    assert n_before == 64

    lake.compact(spark, table_dir, target_file_bytes=10**9, keep=2)
    snap_after = lake.current_snapshot(table_dir)
    n_after = len(glob.glob(os.path.join(table_dir, snap_after, "*.parquet")))
    assert n_after == 1  # everything fits one target-size file

    # same rows, and the pre-compaction snapshot is still time-travelable
    after = lake.read_current(spark, table_dir)
    assert after.count() == 10_000
    assert after.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]
    assert lake.read_snapshot(spark, table_dir, snap_before).count() == 10_000


def test_upsert_evolve_schema_adds_column_with_nulls(spark, tmp_path):
    """Additive schema evolution: an update batch with a NEW column upserts;
    carried-over rows read NULL for it. Without evolve_schema the same
    batch must fail fast (no silent widening)."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    updates = spark.createDataFrame(
        [(2, "b2", 20.0, "eu")], "id long, name string, amount double, region string"
    )
    with pytest.raises(AnalysisException):
        lake.upsert(spark, table, updates, key=["id"])
    lake.upsert(spark, table, updates, key=["id"], evolve_schema=True)
    got = sorted(tuple(r) for r in lake.read_current(spark, table).collect())
    assert got == [(1, "a", 1.0, None), (2, "b2", 20.0, "eu")]


def test_upsert_evolve_schema_tolerates_missing_column(spark, tmp_path):
    """An update batch missing an existing column leaves NULL there for the
    updated rows (column-pruned CDC feeds)."""
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    updates = spark.createDataFrame([(2, "b2")], "id long, name string")
    lake.upsert(spark, table, updates, key=["id"], evolve_schema=True)
    got = sorted(tuple(r) for r in lake.read_current(spark, table).collect())
    assert got == [(1, "a", 1.0), (2, "b2", None)]


def test_cluster_by_produces_disjoint_file_ranges(spark, tmp_path):
    """cluster_by range-partitions + sorts on the key, so each parquet
    file's min/max key statistics cover a narrow, non-overlapping range —
    the property min/max pruning needs to skip most of a 100 TB lake on a
    selective key predicate."""
    import glob as _glob

    import pyarrow.parquet as _pq

    table = str(tmp_path / "t")
    df = spark.range(0, 10_000).selectExpr(
        "pmod(id * 2654435761, 10000) as k", "id as payload"
    )
    lake.write_snapshot(df.repartition(8), table)  # unclustered baseline
    unclustered = _ranges(_glob, _pq, table)
    lake.write_snapshot(df.repartition(8), table, cluster_by=["k"])
    clustered = _ranges(_glob, _pq, table)

    def overlaps(ranges):
        n = 0
        for i, (lo, hi) in enumerate(ranges):
            for lo2, hi2 in ranges[i + 1:]:
                if lo <= hi2 and lo2 <= hi:
                    n += 1
        return n

    # every unclustered file spans ~the whole key space; clustered files
    # must be pairwise non-overlapping (sorted range partitioning)
    assert overlaps(unclustered) > 0
    assert overlaps(clustered) == 0
    # and the data survives intact
    got = lake.read_current(spark, table)
    assert got.count() == 10_000


def _ranges(_glob, _pq, table):
    cur = lake.current_snapshot(table)
    out = []
    for f in _glob.glob(os.path.join(table, cur, "*.parquet")):
        md = _pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        if los:
            out.append((min(los), max(his)))
    return out


# ---------------------------------------------------------------------------
# round-9 merge-on-read delta layer
# ---------------------------------------------------------------------------


def test_append_delta_is_readable_and_base_untouched(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    base_snap = lake.current_snapshot(table)
    lake.append_delta(_df(spark, [(2, "b2", 20.0), (3, "c", 3.0)]), table)
    assert lake.current_snapshot(table) == base_snap  # base not rewritten
    assert len(lake.delta_names(table)) == 1
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    assert got == [(1, "a", 1.0), (2, "b2", 20.0), (3, "c", 3.0)]
    # plain read_current still serves the pre-delta base (pointer semantics)
    assert sorted(tuple(r) for r in lake.read_current(spark, table).collect()) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]


def test_newest_delta_wins_and_no_deltas_is_identity(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table)
    # no deltas: the merge-on-read view IS read_current
    assert sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    ) == [(1, "a", 1.0)]
    lake.append_delta(_df(spark, [(1, "v1", 10.0), (2, "x", 2.0)]), table)
    lake.append_delta(_df(spark, [(1, "v2", 100.0)]), table)
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    assert got == [(1, "v2", 100.0), (2, "x", 2.0)]


def test_flatten_deltas_merges_then_retires_with_grace(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    lake.append_delta(_df(spark, [(2, "b2", 20.0)]), table)
    (delta,) = lake.delta_names(table)
    snap = lake.flatten_deltas(spark, table, key=["id"])
    assert snap is not None
    assert lake.delta_names(table) == []
    assert lake.retired_delta_names(table) == [delta]
    assert os.path.isdir(os.path.join(table, delta))  # in its grace
    got = sorted(tuple(r) for r in lake.read_current(spark, table).collect())
    assert got == [(1, "a", 1.0), (2, "b2", 20.0)]
    # idempotent when drained; later commits inside the grace keep it
    assert lake.flatten_deltas(spark, table, key=["id"]) is None
    lake.write_snapshot(lake.read_current(spark, table), table)
    assert os.path.isdir(os.path.join(table, delta))
    assert lake.retired_delta_names(table) == [delta]


def _age(path: str, by: float) -> None:
    """Move every recorded time in a tab-separated sidecar log back by
    ``by`` seconds: the commits and retirements it records happened
    that long ago."""
    lines = []
    for line in open(path).read().splitlines():
        name, ts = line.split("\t")
        lines.append(f"{name}\t{float(ts) - by:.6f}\n")
    open(path, "w").write("".join(lines))


def test_commit_gc_reaps_by_retire_time_not_count(spark, tmp_path):
    """The one GC rule: a commit reaps a snapshot beyond ``keep`` only
    once its successor committed ``GRACE_S`` ago, and a flatten-retired
    delta only ``GRACE_S`` after the flatten. Time passing is the
    recorded commit and retire times moved back."""
    table = str(tmp_path / "t")
    s1 = lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table)
    lake.append_delta(_df(spark, [(1, "b", 2.0)]), table)
    (delta,) = lake.delta_names(table)
    s2 = lake.flatten_deltas(spark, table, key=["id"])
    s3 = lake.write_snapshot(lake.read_current(spark, table), table)
    assert lake.history(table) == [s1, s2, s3]  # all retired < GRACE_S ago
    _age(os.path.join(table, "_COMMITS"), lake.GRACE_S + 1)
    _age(os.path.join(table, lake.DELTA_RETIRED), lake.GRACE_S + 1)
    s4 = lake.write_snapshot(lake.read_current(spark, table), table)
    # s1 and s2 were retired by commits now past the grace; s3 was
    # retired by s4, just now
    assert lake.history(table) == [s3, s4]
    for gone in (s1, s2, delta):
        assert not os.path.isdir(os.path.join(table, gone))
    assert lake.retired_delta_names(table) == []
    # keep still holds history past the grace
    _age(os.path.join(table, "_COMMITS"), lake.GRACE_S + 1)
    s5 = lake.write_snapshot(lake.read_current(spark, table), table, keep=3)
    assert lake.history(table) == [s3, s4, s5]


def test_commit_gc_without_retire_record_reaps_by_count(spark, tmp_path):
    """A table written before retire times were recorded: no ``_COMMITS``
    line for a successor, a ``_DELTAS_RETIRED`` line with no time. Such
    a snapshot or delta counts as retired long ago and is reaped by
    count, as before the grace; the snapshot the new commit replaces
    gets its grace from that commit's own line."""
    table = str(tmp_path / "t")
    s1 = lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table)
    lake.append_delta(_df(spark, [(1, "b", 2.0)]), table)
    (delta,) = lake.delta_names(table)
    s2 = lake.flatten_deltas(spark, table, key=["id"])
    os.remove(os.path.join(table, "_COMMITS"))
    open(os.path.join(table, lake.DELTA_RETIRED), "w").write(delta + "\n")
    s3 = lake.write_snapshot(lake.read_current(spark, table), table)
    assert lake.history(table) == [s2, s3]
    assert not os.path.isdir(os.path.join(table, s1))
    assert not os.path.isdir(os.path.join(table, delta))
    assert os.path.isdir(os.path.join(table, s2))


def test_vacuum_reaps_retired_deltas_spares_active_and_young_orphans(
    spark, tmp_path
):
    import time

    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0)]), table)
    lake.append_delta(_df(spark, [(1, "v1", 10.0)]), table)
    lake.flatten_deltas(spark, table, key=["id"])  # retires the delta
    (retired,) = lake.retired_delta_names(table)
    lake.append_delta(_df(spark, [(1, "v2", 100.0)]), table)  # active
    (active,) = lake.delta_names(table)
    # a young unlogged delta dir = possibly a concurrent append mid-stage
    young = os.path.join(table, lake.DELTA_PREFIX + "inflight")
    os.makedirs(young)
    # an old unlogged one = crash orphan
    old = os.path.join(table, lake.DELTA_PREFIX + "orphan")
    os.makedirs(old)
    past = time.time() - 7200
    os.utime(old, (past, past))

    removed = lake.vacuum(table, keep=1)
    assert retired in removed and lake.DELTA_PREFIX + "orphan" in removed
    assert active not in removed and lake.DELTA_PREFIX + "inflight" not in removed
    assert lake.retired_delta_names(table) == []
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    assert got == [(1, "v2", 100.0)]  # the active delta still serves


# ---------------------------------------------------------------------------
# Tombstone deltas: O(keys) merge-on-read deletes (round 10)
# ---------------------------------------------------------------------------


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_delete_delta_is_o_keys_and_base_untouched(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]), table)
    base_snap = lake.current_snapshot(table)
    lake.delete_delta(_keys(spark, [2]), table, key=["id"])
    assert lake.current_snapshot(table) == base_snap  # no rewrite happened
    assert len(lake.delta_names(table)) == 1
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    assert got == [(1, "a", 1.0), (3, "c", 3.0)]
    # the marker column never reaches readers
    assert lake.read_current_with_deltas(spark, table, ["id"]).columns == [
        "id", "name", "amount",
    ]


def test_tombstone_commit_order_versions_against_upserts(spark, tmp_path):
    """Delete-then-reingest resurrects; ingest-then-delete deletes — the
    ONE-log design's whole point (a post-resolution anti-join could not
    express the resurrect case)."""
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    lake.append_delta(_df(spark, [(3, "c", 3.0)]), table)          # seq 0
    lake.delete_delta(_keys(spark, [1, 3]), table, key=["id"])     # seq 1
    lake.append_delta(_df(spark, [(1, "a2", 10.0)]), table)        # seq 2
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    # 1 resurrected by the later upsert; 3 dead (tombstone newer than its
    # delta write); 2 dead from the base (base always predates tombstones)
    assert got == [(1, "a2", 10.0), (2, "b", 2.0)]


def test_partial_key_tombstone_kills_all_matching_rows(spark, tmp_path):
    """Equality-delete on a key PREFIX: a (shingle, doc_id)-keyed postings
    table deletes whole documents by doc_id alone."""
    table = str(tmp_path / "t")
    post = spark.createDataFrame(
        [("x", 1, 2), ("y", 1, 1), ("x", 2, 5)], "shingle string, doc_id long, n long"
    )
    lake.write_snapshot(post, table)
    lake.append_delta(
        spark.createDataFrame([("z", 1, 7)], "shingle string, doc_id long, n long"),
        table,
    )
    lake.delete_delta(
        spark.createDataFrame([(1,)], "doc_id long"), table, key=["doc_id"]
    )
    got = sorted(
        tuple(r)
        for r in lake.read_current_with_deltas(
            spark, table, ["shingle", "doc_id"]
        ).collect()
    )
    assert got == [("x", 2, 5)]


def test_flatten_applies_tombstones_physically(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    lake.delete_delta(_keys(spark, [1]), table, key=["id"])
    lake.flatten_deltas(spark, table, key=["id"])
    assert lake.delta_names(table) == []
    base = lake.read_current(spark, table)
    assert base.columns == ["id", "name", "amount"]  # marker never lands
    assert [tuple(r) for r in base.collect()] == [(2, "b", 2.0)]
    # flatten + vacuum = the "truly gone" GDPR step: once vacuum ends
    # the grace, no file under the table contains id=1
    lake.vacuum(table, keep=1)
    import glob as _glob

    files = _glob.glob(os.path.join(table, "**", "*.parquet"), recursive=True)
    rows = [tuple(r) for r in spark.read.parquet(*files).collect()]
    assert (1, "a", 1.0) not in rows


def test_tombstone_only_delta_set_and_replay_idempotence(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    lake.delete_delta(_keys(spark, [2]), table, key=["id"])
    lake.delete_delta(_keys(spark, [2, 9]), table, key=["id"])  # replay + absent id
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    assert got == [(1, "a", 1.0)]


def test_merge_cdc_delta_matches_copy_on_write_merge_cdc(spark, tmp_path):
    """The merge-on-read CDC apply must produce the SAME effective state
    as the copy-on-write merge_cdc for the same batch — including the
    unmatched-delete no-op — while landing as two deltas with the base
    snapshot untouched; flatten converges the physical base too."""
    rows = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    batch = spark.createDataFrame(
        [
            (2, "b2", 20.0, "upsert"),   # matched update
            (4, "d", 4.0, "upsert"),     # unmatched insert
            (3, None, None, "delete"),   # matched delete
            (9, None, None, "delete"),   # unmatched delete: no-op
        ],
        "id long, name string, amount double, _op string",
    )
    mor, cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    lake.write_snapshot(_df(spark, rows), mor)
    lake.write_snapshot(_df(spark, rows), cow)
    before = lake.current_snapshot(mor)
    names = lake.merge_cdc_delta(spark, mor, batch, key=["id"])
    assert len(names) == 2 and lake.current_snapshot(mor) == before
    lake.merge_cdc(spark, cow, batch, key=["id"])
    want = sorted(tuple(r) for r in lake.read_current(spark, cow).collect())
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, mor, ["id"]).collect()
    )
    assert got == want == [(1, "a", 1.0), (2, "b2", 20.0), (4, "d", 4.0)]
    # replay converges (at-least-once contract)
    lake.merge_cdc_delta(spark, mor, batch, key=["id"])
    got2 = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, mor, ["id"]).collect()
    )
    assert got2 == want
    # flatten applies the whole batch physically
    lake.flatten_deltas(spark, mor, key=["id"])
    assert sorted(tuple(r) for r in lake.read_current(spark, mor).collect()) == want


def test_merge_cdc_delta_one_sided_batches(spark, tmp_path):
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    only_del = spark.createDataFrame(
        [(1, None, None, "delete")], "id long, name string, amount double, _op string"
    )
    assert len(lake.merge_cdc_delta(spark, table, only_del, key=["id"])) == 1
    only_ups = spark.createDataFrame(
        [(5, "e", 5.0, "upsert")], "id long, name string, amount double, _op string"
    )
    assert len(lake.merge_cdc_delta(spark, table, only_ups, key=["id"])) == 1
    got = sorted(
        tuple(r) for r in lake.read_current_with_deltas(spark, table, ["id"]).collect()
    )
    assert got == [(2, "b", 2.0), (5, "e", 5.0)]


def test_pending_changes_classifies_unflattened_deltas(spark, tmp_path):
    """The pending feed must classify exactly what the merge-on-read
    reader sees beyond the base — including a no-op upsert (identical
    row re-appended: NOT a change) — and drain to empty after flatten."""
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]), table)
    lake.append_delta(
        _df(spark, [(2, "b2", 20.0), (4, "d", 4.0), (1, "a", 1.0)]), table
    )  # update, insert, and a no-op replay of row 1
    lake.delete_delta(_keys(spark, [3]), table, key=["id"])
    got = sorted(
        tuple(r) for r in lake.pending_changes(spark, table, key=["id"]).collect()
    )
    assert got == [
        (2, "b", 2.0, "update_preimage"),
        (2, "b2", 20.0, "update_postimage"),
        (3, "c", 3.0, "delete"),
        (4, "d", 4.0, "insert"),
    ]
    lake.flatten_deltas(spark, table, key=["id"])
    assert lake.pending_changes(spark, table, key=["id"]).count() == 0


def test_pending_changes_mixed_key_shapes_union_not_intersection(spark, tmp_path):
    """A full-key data delta and a PREFIX-key tombstone touch disjoint
    rows: the feed must report both (the touched-key pruning is a union
    across shapes — an intersection would silently drop one side)."""
    table = str(tmp_path / "t")
    post = spark.createDataFrame(
        [("x", 1, 2), ("y", 2, 1)], "shingle string, doc_id long, n long"
    )
    lake.write_snapshot(post, table)
    lake.append_delta(
        spark.createDataFrame([("x", 1, 9)], "shingle string, doc_id long, n long"),
        table,
    )
    lake.delete_delta(
        spark.createDataFrame([(2,)], "doc_id long"), table, key=["doc_id"]
    )
    got = sorted(
        tuple(r)
        for r in lake.pending_changes(
            spark, table, key=["shingle", "doc_id"]
        ).collect()
    )
    assert got == [
        ("x", 1, 2, "update_preimage"),
        ("x", 1, 9, "update_postimage"),
        ("y", 2, 1, "delete"),
    ]


# --- schema sidecar (r13 optimization: reads skip the footer-inference job) ---


def test_schema_sidecar_matches_inference_exactly(spark, tmp_path):
    """The sidecar-provided read schema must be BIT-IDENTICAL to what
    parquet footer inference returns — recursively nullable, no field
    metadata — across the type surface the lake stores (decimals, nested
    struct/array/map, non-nullable write-side columns)."""
    table = str(tmp_path / "t")
    df = spark.range(5).selectExpr(
        "id",  # nullable=false on the write side
        "cast(id as decimal(18,2)) as dec",
        "array(id, id + 1) as arr",
        "named_struct('a', id, 'b', cast(id as string)) as st",
        "map(cast(id as string), id) as mp",
    )
    snap = lake.write_snapshot(df, table)
    path = os.path.join(table, snap)
    assert os.path.exists(os.path.join(path, lake.SCHEMA_SIDECAR))
    via_sidecar = lake.read_parquet_dir(spark, path).schema
    inferred = spark.read.parquet(path).schema
    assert via_sidecar == inferred
    # and the data round-trips identically
    a = sorted(map(tuple, lake.read_parquet_dir(spark, path).collect()))
    b = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert a == b


def test_read_parquet_dir_falls_back_without_sidecar(spark, tmp_path):
    """Pre-sidecar snapshots / foreign writers: a dir with no
    _schema.json reads through plain inference."""
    path = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1.0)]).write.parquet(path)
    got = sorted(tuple(r) for r in lake.read_parquet_dir(spark, path).collect())
    assert got == [(1, "a", 1.0)]


def test_delta_dirs_carry_sidecar_and_mor_read_matches(spark, tmp_path):
    """append_delta/delete_delta stage the sidecar too; the merge-on-read
    resolution over sidecar-backed deltas equals the inference-era
    semantics (newest delta wins, tombstones kill)."""
    table = str(tmp_path / "t")
    lake.write_snapshot(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), table)
    name = lake.append_delta(_df(spark, [(2, "b2", 4.0)]), table)
    assert os.path.exists(os.path.join(table, name, lake.SCHEMA_SIDECAR))
    lake.delete_delta(
        spark.createDataFrame([(1,)], "id long"), table, key=["id"]
    )
    got = sorted(
        tuple(r)
        for r in lake.read_current_with_deltas(spark, table, key=["id"]).collect()
    )
    assert got == [(2, "b2", 4.0)]


# --- merge-on-read resolve semantics, pinned against a plain replay --------
# Key (k1, k2); sub-key tombstones delete on k1 alone. A row's key is "real"
# only when every key column is non-NULL: a NULL never equals anything, so
# a NULL-key data-delta row replaces nothing and is not served, and a
# tombstone kills only rows whose shape columns equal its (non-NULL) values.

_MOR_SCHEMA = "k1 int, k2 int, v string"
_kv = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
_mor_delta = st.one_of(
    st.tuples(
        st.just("data"),
        st.lists(st.tuples(_kv, _kv, st.sampled_from(["x", "y", None])),
                 max_size=5),
    ),
    st.tuples(st.just("full"), st.lists(st.tuples(_kv, _kv), max_size=3)),
    st.tuples(st.just("sub"), st.lists(st.tuples(_kv), max_size=2)),
)


def _real(*vals) -> bool:
    return all(v is not None for v in vals)


def _unique_by_key(rows):
    """One row per real key (the delta-key contract); NULL-key rows all
    stay — they carry no key to be unique on."""
    seen, out = set(), []
    for r in rows:
        if _real(r[0], r[1]):
            if (r[0], r[1]) in seen:
                continue
            seen.add((r[0], r[1]))
        out.append(r)
    return out


def _replay(base, deltas):
    """Sequential plain-Python replay: a data delta replaces every live
    row at its real keys and adds its real-key rows; a tombstone kills
    every live row whose shape columns equal its non-NULL values."""
    state = list(base)
    for kind, rows in deltas:
        if kind == "data":
            keys = {(r[0], r[1]) for r in rows if _real(r[0], r[1])}
            state = [r for r in state if (r[0], r[1]) not in keys]
            state += [r for r in rows if _real(r[0], r[1])]
        else:
            width = 2 if kind == "full" else 1
            dead = {t for t in rows if _real(*t)}
            state = [r for r in state if tuple(r[:width]) not in dead]
    return sorted(state, key=repr)


def _apply_feed(old, feed):
    state = list(old)
    for r in feed:
        row, kind = tuple(r[:3]), r[3]
        if kind in ("delete", "update_preimage"):
            state.remove(row)  # ValueError: the feed removed a row old lacks
        else:
            state.append(row)
    return sorted(state, key=repr)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    base=st.lists(st.tuples(_kv, _kv, st.sampled_from(["a", "b"])), max_size=6),
    deltas=st.lists(_mor_delta, min_size=1, max_size=3),
    split=st.integers(min_value=0, max_value=2),
)
@example(  # a NULL-key data-delta row is dropped, not served
    base=[(1, 1, "a"), (2, 2, "b")],
    deltas=[("data", [(2, 2, "x"), (None, 3, "y")])],
    split=0,
)
@example(  # a re-ingest after a sub-key delete resurrects only that key
    base=[(1, 1, "a"), (1, 2, "b"), (None, 1, "a")],
    deltas=[("sub", [(1,)]), ("data", [(1, 2, "x"), (1, None, "y")]),
            ("full", [(2, 2), (None, 2)]), ("data", [(1, 2, "y")])],
    split=1,
)
def test_mor_resolve_matches_plain_replay(spark, base, deltas, split):
    """``read_current_with_deltas`` (every delta over the base) and
    ``state_changes``' extends path (the fresh deltas resolved over the
    already-resolved prefix state) both agree with a sequential replay,
    over repeated keys across deltas, full-key and sub-key tombstones,
    and NULL key values in the base, the data deltas and the tombstones."""
    import tempfile

    base = _unique_by_key(base)
    deltas = [(k, _unique_by_key(r) if k == "data" else r) for k, r in deltas]
    split = min(split, len(deltas) - 1)
    table = tempfile.mkdtemp(prefix="mor_prop_")
    try:
        snap = lake.write_snapshot(spark.createDataFrame(base, _MOR_SCHEMA), table)
        names = []
        for kind, rows in deltas:
            if kind == "data":
                names.append(lake.append_delta(
                    spark.createDataFrame(rows, _MOR_SCHEMA), table))
            else:
                cols = ["k1", "k2"] if kind == "full" else ["k1"]
                keys = spark.createDataFrame(
                    rows, ", ".join(f"{c} int" for c in cols))
                names.append(lake.delete_delta(keys, table, key=cols))
        key = ["k1", "k2"]
        got = lake.read_current_with_deltas(spark, table, key).collect()
        assert sorted(map(tuple, got), key=repr) == _replay(base, deltas)

        old = _replay(base, deltas[:split])
        feed = lake.state_changes(
            spark, table, f"{snap}|{','.join(names[:split])}",
            lake.pending_state(table), key,
        ).select("k1", "k2", "v", "_change_type").collect()
        assert _apply_feed(old, feed) == _replay(base, deltas)
    finally:
        shutil.rmtree(table, ignore_errors=True)
