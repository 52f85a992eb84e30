"""Atomic snapshot tables on the parquet lake: staging + pointer hotswap.

The reference's availability mechanism is a staging table plus a
transactional DROP+RENAME (hotswap_table, /root/reference/lib/pgcp/
postgres.rb:93-106, staged in transport.rb:128-143): readers see the old or
the new table, never partial data. This module is that exact pattern
translated to a filesystem lake, where there is no transaction — instead:

  1. write the new snapshot under ``<table>/snapshot_<uuid>/`` (invisible to
     readers until committed),
  2. commit by atomically replacing the ``<table>/_CURRENT`` pointer file
     (os.replace — atomic on POSIX and object stores with atomic rename),
  3. readers resolve the pointer, then read only that snapshot directory.

A crash before (2) leaves an orphaned snapshot dir (cleaned opportunistically
on the next commit) and readers keep the old snapshot — the same guarantee
the reference gets from its transaction. This is the same commit protocol
table formats like Iceberg/Delta use (a mutable pointer over immutable data
files), reduced to its minimum.

Time travel and garbage collection: ``_LOG`` records the committed
snapshot names in commit order (advisory — the pointer stays
authoritative). ONE rule reaps them (``_expire``): a committed snapshot
goes only when it is older than the newest ``keep`` AND was retired —
replaced by its successor's commit, whose time ``_COMMITS`` records —
at least ``GRACE_S`` ago. A delta folded by ``flatten_deltas`` is
retired at the flatten's commit and follows the same rule. So ``keep``
is time-travel depth only; a reader is safe because nothing it could
have resolved vanishes within the grace, the lake's stand-in for
PostgreSQL keeping a dropped table alive under its readers
(postgres.rb:93-106). ``vacuum`` is the explicit end of grace.

MERGE-shaped upsert: parquet files are immutable, so ``upsert`` is
copy-on-write — new/updated rows win by key, unmatched current rows carry
over (one left-anti join), and the result commits as a fresh snapshot.
``delete`` (DELETE WHERE / delete-by-keys) and ``merge_cdc`` (MERGE with
WHEN-MATCHED-DELETE) are the same copy-on-write rewrite with rows
REMOVED — the mutation that makes the change feed's ``delete`` rows
reachable from a writer.

Merge-on-read deltas (round 9): for write paths whose batch ≪ table —
the index-maintenance folds — ``append_delta`` / ``read_current_with_
deltas`` / ``flatten_deltas`` provide the LSM alternative: O(batch)
appends served alongside the base, merged into it only on the
compaction cadence (block comment at the delta section below).

Tombstone deltas (round 10): ``delete_delta`` is the DELETE-side twin —
a delete lands as an O(keys) appended delta of key values marked
``_tombstone`` instead of a full copy-on-write rewrite, the same
asymmetry fix round 9 made for upsert-shaped folds (Delta's deletion
vectors / Iceberg's equality deletes, reduced to this layer's
pointer-file minimum). Tombstones share the ONE ``_DELTAS`` log, so
commit order stays the version order: delete-then-reingest resurrects,
ingest-then-delete deletes. ``flatten_deltas`` applies them physically.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgcp_spark.sources.zorder import with_zorder_key

POINTER = "_CURRENT"
LOG = "_LOG"
SNAPSHOT_PREFIX = "snapshot_"
DELTA_PREFIX = "delta_"
DELTA_LOG = "_DELTAS"
DELTA_RETIRED = "_DELTAS_RETIRED"
TOMBSTONE = "_tombstone"

# --- optimistic concurrency (round 10) -------------------------------------
# The layer was single-writer by contract (indexes/loop.py); these
# primitives make MULTI-writer safe instead of silently lossy. Two races
# existed: (a) concurrent ``append_delta`` calls both read-modify-write
# the ``_DELTAS`` log → one append vanishes (lost delta); (b) concurrent
# snapshot commits both re-point — last wins, and a MERGE computed
# against the loser's parent silently drops the loser's rows (lost
# update). The fix is the standard lakehouse commit protocol reduced to
# this layer's filesystem minimum: every METADATA commit (pointer/log
# mutation — never the parquet writes, which stay unlocked and
# uuid-isolated) serializes through an O_EXCL lock file, and a snapshot
# commit may assert its EXPECTED PARENT under that lock — the
# compare-and-swap Delta does with putIfAbsent on the next log entry and
# Iceberg with its metadata-pointer CAS. Losers raise ``CommitConflict``
# (detect, never lose); ``occ_upsert`` is the retry loop that recomputes
# against the new current. Delta appends are commutative, so they only
# serialize — they can never conflict. On an object store, swap
# ``_commit_lock``/O_EXCL for the store's conditional put; the protocol
# seam is identical.
COMMIT_LOCK = "_COMMIT_LOCK"
LOCK_STALE_S = 60.0  # a metadata commit takes milliseconds; a lock this
# old is a crashed writer's — break it (the vacuum age-guard discipline).
# ASSUMPTION: staleness compares a waiter's clock against the holder's
# lock-file mtime, so the protocol needs mtime/clock coherence across
# writers — true on one host and on coherent NFS mounts, NOT guaranteed
# on eventually-consistent or clock-skewed network filesystems. On those
# (and on object stores) replace the whole dance with the store's
# conditional put/delete; the protocol seam is identical.
# Reader grace: a retired snapshot or delta dir survives this long after
# its retirement, whatever ``keep`` says (``_expire``). A reader resolved
# its snapshot before the retirement, so the grace must cover at most the
# reader's own run time. The slowest whole registered query at sf0.1
# (tools/time_registry.py, 4 cores, quiet box) is
# streaming_ingest_dedup_decisions at 10.4 s, an upper bound on any
# single read inside it; this VM's same-query runs swing up to 12x
# (ROADMAP), so 12 x 10.4 s = 125 s, rounded up.
GRACE_S = 150.0
_UNCHECKED = object()  # expect_parent sentinel: None means "expect empty"


class CommitConflict(RuntimeError):
    """The table's current snapshot moved past the writer's parent —
    the transaction must recompute against the new current and retry."""


def _try_break_stale_lock(path: str) -> bool:
    """Break a crashed holder's lock WITHOUT the blind-unlink TOCTOU the
    old break had (a waiter could stat a stale lock, the holder release
    and a NEW writer re-acquire, and the waiter then unlink the LIVE
    lock — two writers in the metadata critical section). Protocol:

      1. stat; not stale → don't touch it;
      2. CLAIM by atomic rename to a uuid break-name — rename moves one
         specific inode, so of N racing breakers exactly one wins and
         nobody can unlink a lock it never claimed;
      3. RE-VERIFY staleness on the claimed inode (rename preserves
         mtime): verified stale → unlink it, broken; turned out FRESH
         (re-acquired between the stat and the rename) → restore it via
         ``os.link`` (which refuses to clobber a newer lock at the
         path) and report not-broken.

    Residual window: the restore can find a newer lock already at the
    path, in which case the displaced fresh holder proceeds lockless —
    that needs the stat→rename gap (microseconds) to straddle the exact
    staleness boundary AND a third writer to acquire inside it; with
    commit-time GC moved OUTSIDE the lock (hold times are pure-metadata
    milliseconds against a 60 s threshold) this is as small as a
    filesystem lock gets. The FENCED release in ``_commit_lock`` contains
    the damage: the displaced holder's release verifies its own token
    against the lock file and refuses to unlink the newer writer's lock,
    so the residual race cannot cascade into a second lock loss. An
    object store's conditional delete replaces this whole dance (module
    comment above).

    Returns True when the caller should immediately retry the acquire
    (lock broken or already gone), False when a live holder stands."""
    try:
        if time.time() - os.path.getmtime(path) <= LOCK_STALE_S:
            return False
    except OSError:
        return True  # holder released between the probe and the stat
    claim = f"{path}.break.{uuid.uuid4().hex}"
    try:
        os.rename(path, claim)
    except OSError:
        return True  # another breaker claimed it, or the holder released
    try:
        if time.time() - os.path.getmtime(claim) > LOCK_STALE_S:
            os.unlink(claim)  # verified stale on the claimed inode
            return True
        try:
            os.link(claim, path)  # fresh: restore; refuses to clobber
        except OSError:
            pass
        os.unlink(claim)
        return False
    except OSError:
        return True


@contextmanager
def _commit_lock(table_dir: str, timeout_s: float = 30.0):
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, COMMIT_LOCK)
    token = uuid.uuid4().hex  # fencing token: release only what we hold
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{token} {time.time():.6f}".encode())
            os.close(fd)
            break
        except FileExistsError:
            if _try_break_stale_lock(path):
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy > {timeout_s}s: {path}")
            time.sleep(0.01)
    try:
        yield
    finally:
        # FENCED release: unlink only if the lock file still carries OUR
        # token. A holder displaced by the stale-break residual race (see
        # _try_break_stale_lock) finds another writer's token here and
        # leaves the lock alone — the race costs one doubled critical
        # section, never a cascading second lock loss. The read→unlink
        # gap is itself a (much smaller) TOCTOU; the object-store
        # conditional delete closes it for real (module comment).
        try:
            with open(path) as f:
                if f.read().split(" ", 1)[0] == token:
                    os.unlink(path)
        except OSError:
            pass


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, POINTER)


def _log_path(table_dir: str) -> str:
    return os.path.join(table_dir, LOG)


def current_snapshot(table_dir: str) -> str | None:
    """Name of the committed snapshot, or None for an empty table dir."""
    try:
        with open(_pointer_path(table_dir)) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def history(table_dir: str) -> list[str]:
    """Committed snapshot names, oldest → newest. The pointer is
    authoritative: a crash between pointer and log update means the log
    may lack the newest entry, so it is reconciled in."""
    try:
        with open(_log_path(table_dir)) as f:
            entries = [line.strip() for line in f if line.strip()]
    except FileNotFoundError:
        entries = []
    cur = current_snapshot(table_dir)
    if cur and cur not in entries:
        entries.append(cur)
    return entries


def read_current(spark: SparkSession, table_dir: str) -> DataFrame:
    snap = current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return read_snapshot(spark, table_dir, snap)


def read_snapshot(spark: SparkSession, table_dir: str, snapshot: str) -> DataFrame:
    """Time travel: read a specific retained snapshot by name."""
    path = os.path.join(table_dir, snapshot)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"snapshot {snapshot!r} not found in {table_dir}")
    return read_parquet_dir(spark, path)


# Schema sidecar (r13 optimization, guide §1.5/§5): every fresh
# ``spark.read.parquet`` runs a 1-task footer-inference job plus its
# driver planning gap (~0.1-1 s cold, ~0.05-0.1 s warm) — and a fold
# cycle performs dozens of lake reads, so inference alone accounted for a
# visible slice of the cycle queries' driver-gap time. The writer already
# KNOWS the schema, so each snapshot/delta dir gets a ``_schema.json``
# staged before its commit (same atomicity: an uncommitted dir is
# invisible, a committed dir always carries its sidecar) and readers pass
# it explicitly — zero inference jobs. The stored schema is normalized to
# EXACTLY what inference would return (recursively nullable, no field
# metadata — Spark forces nullability on parquet file reads), so plans
# and results are bit-identical to the inference path; dirs without a
# sidecar (pre-r13 tables, foreign writers) fall back to inference.

SCHEMA_SIDECAR = "_schema.json"


def _as_read_schema(schema):
    """Normalize a write-time schema to what parquet inference returns:
    recursively nullable, field metadata dropped."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def norm(dt):
        if isinstance(dt, StructType):
            return StructType(
                [StructField(f.name, norm(f.dataType), True) for f in dt.fields]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(norm(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(norm(dt.keyType), norm(dt.valueType), True)
        return dt

    return norm(schema)


def _write_schema_sidecar(dir_path: str, df: DataFrame) -> None:
    _atomic_write(
        os.path.join(dir_path, SCHEMA_SIDECAR),
        json.dumps(_as_read_schema(df.schema).jsonValue()),
    )


def read_parquet_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read a lake-managed parquet dir, via the schema sidecar when the
    commit staged one (skips the footer-inference job) and inference
    otherwise."""
    try:
        with open(os.path.join(path, SCHEMA_SIDECAR)) as f:
            stored = json.load(f)
    except (FileNotFoundError, ValueError):
        return spark.read.parquet(path)
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(stored)).parquet(path)


def snapshot_meta(table_dir: str, snapshot: str | None = None) -> dict:
    """Commit metadata of a snapshot (``write_snapshot(meta=…)``), ``{}``
    when the commit carried none. ``snapshot=None`` reads the current
    pointer's — the downstream-fold replay check."""
    snap = snapshot if snapshot is not None else current_snapshot(table_dir)
    if snap is None:
        return {}
    try:
        with open(os.path.join(table_dir, snap, "_meta.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def pending_state(table_dir: str) -> str:
    """Deterministic id of the table's merge-on-read state: current base
    snapshot + the active delta log, in order. Two reads with equal
    ``pending_state`` see identical data, so a fold that stamps the id it
    consumed (``write_snapshot(meta=…)``) can detect an at-least-once
    replay of the same feed exactly — the cascade IVM's crash-window
    guard (``sources/view_maintenance.py``).

    Raises ``FileNotFoundError`` on an empty / never-committed table:
    stringifying the None snapshot would mint a valid-looking id
    ("None|…") that a fold could stamp as a watermark, and the later
    ``state_changes`` read would fail far away with a misleading
    'snapshot not found' — fail here, at the cause."""
    snap = current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(
            f"{table_dir}: no committed snapshot — pending_state is "
            f"undefined on an empty table (commit a snapshot first)"
        )
    return f"{snap}|{','.join(delta_names(table_dir))}"


def _commits_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_COMMITS")


def commit_times(table_dir: str) -> list[tuple[str, float]]:
    """(snapshot, commit epoch) pairs in commit order — the AS-OF sidecar
    appended by every ``write_snapshot`` under the commit lock (commit
    order == timestamp order by construction). Contains every commit
    ever made; entries whose snapshot was GC'd past ``keep`` are still
    listed (they answer "was there a commit then", just not its data)."""
    path = _commits_path(table_dir)
    if not os.path.exists(path):
        return []
    out = []
    for line in open(path).read().splitlines():
        if not line.strip():
            continue
        # the sidecar is appended with a plain write: a crash mid-append
        # can leave a torn trailing line (no tab / truncated float).
        # Skip it defensively — the commit it described either also lost
        # its pointer swap (never happened) or is reconcilable from _LOG;
        # raising here would permanently brick read_as_of for the table.
        try:
            name, ts = line.rsplit("\t", 1)
            ts = float(ts)
        except ValueError:
            continue
        # a torn line whose FLOAT merely lost trailing digits still
        # parses — as (real snapshot, absurdly small timestamp), which
        # would let read_as_of serve that snapshot for times PREDATING
        # its commit. Commit order == timestamp order by construction,
        # so clamp any backward timestamp to its predecessor's (the
        # same monotonicity adjustment Delta applies to its commit
        # timestamps) — a truncated float can only SHRINK, so clamping
        # up restores a consistent ordering; genuine sub-second clock
        # backsteps get the same harmless treatment.
        if out and ts < out[-1][1]:
            ts = out[-1][1]
        out.append((name, ts))
    return out


def read_as_of(spark: SparkSession, table_dir: str, as_of: float) -> DataFrame:
    """Time travel by TIMESTAMP (the ``VERSION AS OF`` sibling every
    lakehouse exposes): read the newest snapshot committed at or before
    ``as_of`` (unix epoch seconds). Raises if no commit predates
    ``as_of`` (the table didn't exist yet) or if the governing snapshot
    has been GC'd past the ``keep`` window (the retention contract —
    same answer Delta gives when a timestamp predates its retained
    history)."""
    times = commit_times(table_dir)
    eligible = [(n, t) for n, t in times if t <= as_of]
    if not eligible:
        raise FileNotFoundError(
            f"{table_dir}: no commit at or before {as_of} "
            f"(earliest: {times[0][1] if times else 'none'})"
        )
    name = eligible[-1][0]
    if not os.path.isdir(os.path.join(table_dir, name)):
        raise FileNotFoundError(
            f"{table_dir}: snapshot {name!r} governing as_of={as_of} was "
            f"GC'd past the keep window — retained history starts later"
        )
    return read_snapshot(spark, table_dir, name)


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, path)


def _append_log_line(path: str, line: str) -> None:
    """Append one record to a newline-delimited sidecar log, healing a
    torn tail first. A crash mid-append can leave the file ending in a
    partial record with NO trailing newline; a naive ``open(path, 'a')``
    would concatenate the next record onto that fragment — and if the
    fragment happens to end in digits, the merged line can still PARSE
    (e.g. a ``_MANIFEST_LOG`` fragment ending ``169999.1`` glued to the
    next timestamp yields a valid-looking (ts, json) pair with a garbage
    timestamp), silently corrupting as-of resolution instead of being
    skipped as torn. So: stat the last byte under the caller's lock and
    lead with a '\\n' when the file doesn't end in one — the torn
    fragment becomes its OWN (unparseable, skipped) line and the new
    record stays intact. ``line`` must not contain '\\n'."""
    lead = ""
    try:
        with open(path, "rb") as f:
            f.seek(-1, os.SEEK_END)
            if f.read(1) != b"\n":
                lead = "\n"
    except (OSError, ValueError):
        pass  # missing or empty file — nothing torn to heal
    with open(path, "a") as f:
        f.write(f"{lead}{line}\n")


def _retired(table_dir: str) -> list[tuple[str, float]]:
    """(delta, retire epoch) pairs of the deltas flattens folded that
    ``_expire`` has not reaped yet. A line without a time (written before
    retire times were recorded) reads as retired long ago."""
    out = []
    for line in _read_names(_delta_retired_path(table_dir)):
        name, _, ts = line.partition("\t")
        try:
            out.append((name, float(ts)))
        except ValueError:
            out.append((name, 0.0))
    return out


def _write_retired(table_dir: str, retired: list[tuple[str, float]]) -> None:
    _atomic_write(
        _delta_retired_path(table_dir),
        "".join(f"{name}\t{ts:.6f}\n" for name, ts in retired),
    )


def _expire(table_dir: str, keep: int, retire: list[str] = ()) -> list[str]:
    """The lake's one GC rule, run under the caller's commit lock by every
    commit (``write_snapshot``) and every flatten (which first records its
    folded deltas as ``retire``d now). A committed snapshot is reaped
    only when it is older than the newest ``keep`` AND was retired at
    least ``GRACE_S`` ago; it was retired when its successor committed,
    at the successor's ``_COMMITS`` time. A retired delta is reaped
    ``GRACE_S`` after its flatten. A successor with no ``_COMMITS`` line
    (a table written before the sidecar existed, or a torn append)
    counts as committed long ago: that snapshot is reaped by count, as
    before this rule. Unreaped snapshots stay in ``_LOG``, so a later GC
    or ``vacuum`` still sees them as committed, not as orphans.
    Uncommitted dirs are never touched here (a concurrent writer's stage
    is ``vacuum``'s age-guarded job). Returns the dirs to remove once the
    lock is released."""
    now = time.time()
    cutoff = now - GRACE_S
    committed = history(table_dir)
    committed_at = dict(commit_times(table_dir))
    doomed = [
        snap
        for snap, successor in zip(committed[: -max(1, keep)], committed[1:])
        if committed_at.get(successor, 0.0) <= cutoff
    ]
    retired = _retired(table_dir) + [(d, now) for d in retire]
    doomed += [d for d, ts in retired if ts <= cutoff]
    _atomic_write(
        _log_path(table_dir),
        "\n".join(s for s in committed if s not in doomed) + "\n",
    )
    if retired:
        _write_retired(table_dir, [(d, ts) for d, ts in retired if ts > cutoff])
    return doomed


def _remove(table_dir: str, names: list[str]) -> None:
    for name in names:  # two overlapping reapers double-delete harmlessly
        shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)


def write_snapshot(
    df: DataFrame,
    table_dir: str,
    keep: int = 1,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_rank: str = "width",
    expect_parent=_UNCHECKED,
    meta: dict | None = None,
) -> str:
    """Write ``df`` as a new snapshot and atomically commit the pointer.

    Returns the committed snapshot name. The parquet write happens into the
    (reader-invisible) snapshot dir; the only mutation readers can observe
    is the single atomic pointer replace. The commit then runs the lake's
    one GC rule (``_expire``): the newest ``keep`` committed snapshots
    stay for time travel, and an older one goes once it has been retired
    for ``GRACE_S`` — so a reader of the snapshot this commit replaces
    keeps its files for the grace whatever ``keep`` is. Crash-orphaned
    uncommitted dirs are ``vacuum``'s job.

    ``cluster_by``: range-partition + sort the data on these columns before
    writing (the CLUSTER BY / Z-ORDER-lite layout op). Each parquet file
    and row group then covers a narrow, near-disjoint key range, so
    min/max statistics prune most of the lake for selective scans on the
    cluster key — the dominant scan-cost lever at 100 TB. One extra range
    exchange at write time buys it. ``cluster_files`` pins the range
    partition count (otherwise AQE sizes it by bytes, which can collapse
    a small-but-compute-hot table to a handful of files whose scan
    partitions then bound a downstream join's parallelism — see
    ``compact``'s ``min_files`` note).

    ``zorder_by`` (mutually exclusive with ``cluster_by``): MULTI-dimension
    clustering — lay the table out in Morton-key order of these columns
    (``sources/zorder.py``) so min/max skipping prunes selective
    predicates on ANY of them, not just the leading sort key. Costs the
    same single range exchange plus one min/max aggregate on the input.
    ``zorder_rank="quantile"`` swaps the fixed-width bucketing for
    approxQuantile ranks — the value-range-skew recovery
    (``sources/zorder.py`` module docstring, measured in SCALE.md r8).

    ``expect_parent``: optimistic-concurrency CAS (module comment at
    ``COMMIT_LOCK``). Pass the snapshot name this write was computed
    against (``None`` for "expect a fresh table"); if another writer
    committed in between, the staged files are reclaimed and
    ``CommitConflict`` raises instead of silently dropping their rows.
    Omitted → unconditional commit (the single-writer paths).

    ``meta``: small JSON-able dict committed ATOMICALLY with the snapshot
    (written as ``_meta.json`` inside the staged snapshot dir — Spark's
    parquet reader ignores underscore files — so it becomes visible in
    the same pointer swap as the data). This is the Delta-style
    idempotent-writer transaction record (txnAppId/txnVersion): a
    downstream fold stamps the upstream state it consumed, and a replay
    after a crash can ask ``snapshot_meta`` whether this exact feed was
    already applied — the exactly-once watermark the cascade IVM fold
    (``sources/view_maintenance.py``) rides on.
    """
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    # NOTE (r13 optimization round, measured): a range-clustered write
    # does evaluate its input twice (RangePartitioner sampling pass +
    # the exchange), but materializing the input first LOSES at sf0.1
    # (localCheckpoint replans without AQE → 0.76 s → 1.85 s; lazy
    # persist is noise-level 0.64-0.93 s both ways) — the bounded
    # sampling pass is cheaper than a block round-trip here, so the
    # double evaluation deliberately stays.
    if zorder_by:
        df = with_zorder_key(df, zorder_by, rank=zorder_rank)
        cluster_by, drop_key = ["_zkey"], True
    else:
        drop_key = False
    os.makedirs(table_dir, exist_ok=True)
    snap = f"{SNAPSHOT_PREFIX}{uuid.uuid4().hex}"
    if cluster_by:
        if cluster_files is not None:
            df = df.repartitionByRange(cluster_files, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    if drop_key:
        # projection after the sort: intra-partition order survives, the
        # key never reaches the files (readers prune on the NATURAL
        # columns' footer stats, which interleaved locality keeps narrow)
        df = df.drop("_zkey")
    df.write.mode("errorifexists").parquet(os.path.join(table_dir, snap))
    # staged before the pointer swap, atomic with the data (sidecar note
    # at SCHEMA_SIDECAR)
    _write_schema_sidecar(os.path.join(table_dir, snap), df)
    if meta is not None:
        # staged INSIDE the snapshot dir: visible to readers only via the
        # pointer swap below, i.e. atomic with the data it describes
        _atomic_write(
            os.path.join(table_dir, snap, "_meta.json"), json.dumps(meta)
        )

    with _commit_lock(table_dir):
        if expect_parent is not _UNCHECKED and current_snapshot(table_dir) != expect_parent:
            # CAS failure: another writer committed past our parent. The
            # staged files are ours alone — reclaim and surface the
            # conflict (occ_upsert is the retry loop).
            shutil.rmtree(os.path.join(table_dir, snap), ignore_errors=True)
            raise CommitConflict(
                f"{table_dir}: parent moved from {expect_parent!r} to "
                f"{current_snapshot(table_dir)!r}"
            )
        _atomic_write(_pointer_path(table_dir), snap)  # the atomic commit
        # commit-time sidecar for AS-OF-timestamp time travel: appended
        # under the commit lock, so commit order == timestamp order
        # (torn-tail-healing append — _append_log_line docstring)
        _append_log_line(_commits_path(table_dir), f"{snap}\t{time.time():.6f}")

        # the GC DECISION under the lock (it reads the committed log), the
        # rmtree I/O after release: deleting a big snapshot dir can take
        # longer than LOCK_STALE_S
        doomed = _expire(table_dir, keep)
    _remove(table_dir, doomed)
    return snap


# ---------------------------------------------------------------------------
# Append-partitioned deltas: LSM-style merge-on-read over the snapshot base
# ---------------------------------------------------------------------------
#
# A copy-on-write ``upsert`` rewrites the WHOLE table per batch — fold cost
# grows with TABLE size, not batch size, which is the first wall a
# production index-maintenance loop hits (round-8 verdict #3: at sf0.1 the
# BM25 fold cost was already dominated by the rewrite). The delta layer is
# the standard lakehouse answer (Iceberg merge-on-read / Delta deletion-
# vector-era MOR, reduced to this repo's pointer-file minimum):
#
#   write:  ``append_delta`` lands a batch as an immutable ``delta_<uuid>``
#           dir and atomically appends its name to ``_DELTAS`` — an O(batch)
#           append; the snapshot base is NOT touched.
#   delete: ``delete_delta`` lands a KEY LIST as a delta whose rows carry
#           only (sub-)key columns plus ``_tombstone = true`` — an O(keys)
#           append in the SAME log, so commit order versions deletes
#           against upserts. The tombstone key may be a PREFIX/SUBSET of
#           the table's delta key (a postings table keyed
#           (shingle, doc_id) deletes whole documents by doc_id alone —
#           the equality-delete shape).
#   read:   ``read_current_with_deltas`` serves base ∪ deltas with
#           whole-KEY replacement semantics matching ``upsert``: a key
#           present in any delta reads from its NEWEST delta only; base
#           rows for touched keys are anti-joined away. Delta order =
#           ``_DELTAS`` log order (commit order IS the version order).
#           Tombstones then drop every row whose LAST WRITE (base = seq
#           -1, delta winner = its log seq) is OLDER than the newest
#           matching tombstone — so a re-ingest AFTER the delete
#           resurrects the key, and one before it stays dead.
#   merge:  ``flatten_deltas`` folds base ∪ deltas into a fresh snapshot on
#           the maintenance cadence (compaction), then retires the folded
#           delta dirs: their names move to ``_DELTAS_RETIRED`` with the
#           retire time, and the lake's one GC rule (``_expire``) reaps
#           them ``GRACE_S`` later, at a later commit (or ``vacuum`` now).
#
# Crash safety: the parquet write lands before the log append (an unlogged
# delta dir is invisible — a crash orphan reaped by ``vacuum``'s age
# guard); flatten commits the merged base BEFORE clearing the log, and a
# crash in between is benign — readers then see folded rows in base AND
# the same rows winning from the deltas, which the replacement semantics
# collapse to identical effective content.
#
# Scale contract: deltas between compactions are batch-sized, so the
# touched keys and tombstones broadcast; a reader pays one broadcast
# anti-join per touched shape over the base scan it was already doing,
# plus (at two or more data deltas) one delta-sized window for newest-
# wins. Queries keep their pushdown: a filter above
# ``read_current_with_deltas`` pushes through the union into both the base
# and delta parquet scans (the key/version computation deliberately stays
# unfiltered — replacement must see every delta row for a key).


def _delta_log_path(table_dir: str) -> str:
    return os.path.join(table_dir, DELTA_LOG)


def _delta_retired_path(table_dir: str) -> str:
    return os.path.join(table_dir, DELTA_RETIRED)


def _read_names(path: str) -> list[str]:
    try:
        with open(path) as f:
            return [line.strip() for line in f if line.strip()]
    except FileNotFoundError:
        return []


def delta_names(table_dir: str) -> list[str]:
    """Committed (active) delta dir names, oldest → newest."""
    return _read_names(_delta_log_path(table_dir))


def retired_delta_names(table_dir: str) -> list[str]:
    """Deltas folded by a flatten, lingering for reader grace."""
    return [name for name, _ in _retired(table_dir)]


def _wrote_nothing(delta_path: str) -> bool:
    """Emptiness of a just-written delta dir from its parquet FOOTERS —
    driver-side metadata reads, no Spark job. The write already computed
    the rows; the footers are the free byproduct that makes an emptiness
    probe redundant (r13 optimization, guide §1.2). The FIRST non-empty
    footer short-circuits (r14, VERDICT item 8): at 100 TB a delta dir
    can hold thousands of part files, and an unbounded footer walk per
    commit is a driver stall and an object-store round-trip per file —
    the common (non-empty) case now reads ~1 footer."""
    import pyarrow.parquet as pq

    for entry in os.listdir(delta_path):
        if entry.startswith("part-") and entry.endswith(".parquet"):
            if pq.read_metadata(os.path.join(delta_path, entry)).num_rows > 0:
                return False
    return True


def append_delta(
    df: DataFrame,
    table_dir: str,
    cluster_by: list[str] | None = None,
    skip_if_empty: bool = False,
) -> str | None:
    """Land a batch as an immutable delta partition — O(batch) cost, the
    snapshot base untouched. ``cluster_by`` sorts the delta's files on
    the given columns so footer min/max pruning works inside the delta
    exactly as it does in the base. Commit = atomic ``_DELTAS`` log
    replace; an unlogged dir (crash before commit) is invisible to
    readers and reaped by ``vacuum``'s age guard.

    ``skip_if_empty=True`` is the WRITE-THEN-DECIDE shape for callers
    whose batch may legitimately be empty (the fold arms, CDC splits):
    the write is the only evaluation of ``df``, the row count comes from
    the written parquet footers (driver-side, no extra job), and an
    empty result reclaims the dir and commits nothing — returns None.
    This replaces the materialize + isEmpty + write triple (3 Spark
    actions, with isEmpty evaluating the arm's whole join pipeline a
    second time) with ONE action; measured across the r13 cycle queries
    it removes 2 actions per fold arm."""
    os.makedirs(table_dir, exist_ok=True)
    name = f"{DELTA_PREFIX}{uuid.uuid4().hex}"
    if cluster_by:
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    path = os.path.join(table_dir, name)
    df.write.mode("errorifexists").parquet(path)
    if skip_if_empty and _wrote_nothing(path):
        shutil.rmtree(path, ignore_errors=True)
        return None
    # staged before the log append, atomic with the data (sidecar note
    # at SCHEMA_SIDECAR)
    _write_schema_sidecar(path, df)
    # the log append is a read-modify-write: serialized under the commit
    # lock so two concurrent appends can't drop each other's entry (delta
    # appends COMMUTE — they serialize, they never conflict)
    with _commit_lock(table_dir):
        _atomic_write(
            _delta_log_path(table_dir),
            "\n".join(delta_names(table_dir) + [name]) + "\n",
        )
    return name


def delete_delta(
    keys: DataFrame, table_dir: str, key: list[str],
    skip_if_empty: bool = False,
) -> str | None:
    """Land a DELETE as an O(keys) tombstone delta (module comment above)
    — the delete-side twin of ``append_delta``: the table's base and its
    pending data deltas are not read, let alone rewritten. ``keys`` is a
    frame providing the ``key`` columns; ``key`` may be a SUBSET of the
    table's delta key (equality-delete semantics: every row matching the
    sub-key dies). The physical reclaim happens at the next
    ``flatten_deltas`` on the compaction cadence — a GDPR pipeline that
    needs "truly gone NOW" runs flatten + ``vacuum`` explicitly, the
    same two-step contract ``delete``'s docstring states for retained
    snapshots."""
    df = keys.select(*key).distinct().withColumn(TOMBSTONE, F.lit(True))
    return append_delta(df, table_dir, cluster_by=key, skip_if_empty=skip_if_empty)


def merge_cdc_delta(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key: list[str],
    op_col: str = "_op",
    delete_op: str = "delete",
    ops: set[str] | None = None,
) -> list[str]:
    """Apply one CDC batch MERGE-ON-READ (round 10): the non-delete rows
    land as an O(batch) data delta and the delete keys as an O(keys)
    tombstone — the base is never read or rewritten, making this the
    delta-layer twin of ``merge_cdc`` (whose copy-on-write rewrite stays
    the right call when the batch is table-sized or the table is small).
    Readers see the post-CDC state through ``read_current_with_deltas``;
    ``flatten_deltas`` applies it physically on the compaction cadence.

    Same contracts as ``merge_cdc``: the batch is key-unique (a key
    appearing as both update and delete in one batch is a malformed
    feed — which also makes the two deltas' relative order immaterial),
    an unmatched delete is a no-op (a tombstone on an absent key kills
    nothing), and at-least-once replay converges (the re-appended data
    delta shadows its twin; the re-appended tombstone re-kills the same
    keys). ADDITIVE schema evolution is supported since late round 10:
    ``read_current_with_deltas`` resolves columns by name with null fill
    (a batch may add columns or omit non-key ones), and the next flatten
    materializes the evolved schema — the ``merge_cdc(evolve_schema=
    True)`` contract on the merge-on-read path. Returns the committed
    delta names (data first, then tombstone; either may be absent for a
    one-sided batch).

    Each side is evaluated EXACTLY ONCE, by its delta write — the
    emptiness decision reads the written parquet footers
    (``append_delta(skip_if_empty=True)``), so the pre-r13 shape
    (materialize + two isEmpty probes + two writes = 5 actions) is now
    two actions, and the determinism concern that forced the
    materialize (a probe and a write disagreeing on a recomputed
    source) is gone with the probes. The batch IS still evaluated once
    per side; a caller with a non-deterministic source must materialize
    it first (every in-repo caller passes parquet-backed or already-
    checkpointed frames).

    The two sides' writes run CONCURRENTLY (guide §2.6): they are
    independent jobs over the same batch scan, and the key-unique batch
    contract above already makes their relative delta-log order
    immaterial (disjoint key sets through newest-wins resolution — the
    same fact that lets a one-sided batch commit alone). The returned
    list stays data-first regardless of which commit wins the lock.

    ``ops`` (r14): the EXACT set of ``op_col`` values present in the
    batch, when the caller already knows it (the streaming loop reads it
    off the same distinct-collect that orders its sub-batches) — a
    one-sided batch then skips the absent side's write job instead of
    evaluating it to emptiness. None = unknown, both sides
    write-then-decide as before."""
    from pgcp_spark.plans.overlap import overlap

    do_ups = ops is None or bool(ops - {delete_op})
    do_dels = ops is None or delete_op in ops
    thunks = []
    if do_ups:
        ups = batch.filter(~F.col(op_col).eqNullSafe(F.lit(delete_op))).drop(
            op_col
        )
        thunks.append(lambda: append_delta(ups, table_dir, skip_if_empty=True))
    if do_dels:
        dels = batch.filter(F.col(op_col).eqNullSafe(F.lit(delete_op))).select(
            *key
        )
        thunks.append(
            lambda: delete_delta(dels, table_dir, key=key, skip_if_empty=True)
        )
    names = overlap(*thunks)
    return [n for n in names if n is not None]


def read_current_with_deltas(
    spark: SparkSession,
    table_dir: str,
    key: list[str],
    snapshot: str | None = None,
    names: list[str] | None = None,
) -> DataFrame:
    """Merge-on-read view of base ∪ active deltas (module comment above):
    whole-key replacement, newest delta wins, base fills the rest;
    tombstone deltas kill every matching row whose last write predates
    them. With no active deltas this IS ``read_current`` — zero
    overhead; with no TOMBSTONE deltas the plan is exactly the round-9
    data-only shape. Additive schema evolution resolves BY NAME with
    null fill (inline comment below); ``flatten_deltas`` then
    materializes the evolved schema into the next base.

    ``snapshot``/``names`` pin an EXPLICIT merge-on-read state (base
    snapshot + delta list) instead of resolving the live pointer and
    delta log — the cross-table manifest reader (``sources/txn.py``)
    uses this so every table in an atomic group is served from one
    consistent manifest resolution."""
    base = (
        read_current(spark, table_dir)
        if snapshot is None
        else read_snapshot(spark, table_dir, snapshot)
    )
    if names is None:
        names = delta_names(table_dir)
    if not names:
        return base
    raw = [
        (i, read_parquet_dir(spark, os.path.join(table_dir, n)))
        for i, n in enumerate(names)
    ]
    return _merge_deltas(base, raw, key)


def _merge_deltas(
    base: DataFrame, raw: list[tuple[int, DataFrame]], key: list[str]
) -> DataFrame:
    """The merge-on-read resolution core (newest-wins whole-key
    replacement + tombstone application + additive schema evolution),
    factored from ``read_current_with_deltas`` (r14) so ``state_changes``'
    extends path can resolve just the FRESH deltas over the
    already-resolved old state instead of re-resolving the whole delta
    stack a second time. ``raw`` is [(log seq, frame)] in commit order;
    ``base`` rows resolve at seq -1 — older than every delta, which is
    exactly the contract when ``base`` is itself a resolved earlier state
    (every old write predates every fresh delta). Under AQE every
    exchange is its own job, so no step aggregates and joins back: the
    joins below, and one window at two or more data deltas, are all."""
    data = [(i, p) for i, p in raw if TOMBSTONE not in p.columns]
    tombs = [(i, p) for i, p in raw if TOMBSTONE in p.columns]

    # Additive schema evolution, resolved BY NAME (round 10 — closes the
    # positional-alignment limitation merge_cdc_delta used to document):
    # the effective schema is base's columns plus any new delta columns in
    # first-appearance order; every frame null-fills what it lacks, typed
    # from whichever frame carries the column (the ``table_changes``
    # evolve rule). A delta batch may therefore ADD columns (base rows
    # read NULL) or OMIT non-key ones (its rows read NULL) — but never a
    # KEY column, which newest-wins resolution cannot null-fill.
    types: dict[str, str] = dict(base.dtypes)
    cols = list(base.columns)
    for _, p in data:
        missing_keys = [k for k in key if k not in p.columns]
        if missing_keys:
            raise ValueError(
                f"data delta lacks key column(s) {missing_keys}; keys cannot evolve"
            )
        for c, t in p.dtypes:
            if c not in types:
                types[c] = t
                cols.append(c)

    def _aligned(df: DataFrame) -> DataFrame:
        for c in cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        return df.select(*cols)

    base = _aligned(base)
    data = [(i, _aligned(p).withColumn("_delta_seq", F.lit(i))) for i, p in data]

    # The touched keys and tombstones are batch-sized UNDER THE
    # COMPACTION CADENCE, but nothing bounds how many folds a caller
    # defers, so no FORCED broadcast (a driver OOM for the one operator
    # that skips maintenance): AQE broadcasts a side that is actually
    # small and falls back to a shuffle join when it is not. The anti-
    # join ignores duplicate keys, so they are not deduplicated.
    if data:
        dall = reduce(DataFrame.unionByName, [p for _, p in data])
        # newest wins: one delta's rows are all winners; across deltas one
        # window keeps each key's rows at its newest seq. A NULL key is no
        # key: it replaces nothing and is not served. (isNotNull, not
        # dropna, keeps the anti-joins' broadcasts identical, so reused.)
        winners = dall
        for k in key:
            winners = winners.filter(F.col(k).isNotNull())
        if len(data) > 1:
            newest = F.max("_delta_seq").over(Window.partitionBy(*key))
            winners = (
                winners.withColumn("_newest", newest)
                .filter(F.col("_delta_seq") == F.col("_newest"))
                .drop("_newest")
            )
        kept = base.join(dall.select(*key), on=key, how="left_anti")
    else:
        winners, kept = None, base
    if not tombs:
        if winners is None:
            return kept.select(*cols)
        return kept.select(*cols).unionByName(winners.select(*cols))

    # Tombstone application: a row survives iff no tombstone matching its
    # (sub-)key is as new as its last write (base rows wrote at seq -1;
    # delta winners at their log seq). Tombstones are grouped by their
    # key-column set — one conditional anti-join per distinct sub-key
    # shape (in practice one), each tombstone side O(deleted keys).
    resolved = kept.select(*cols, F.lit(-1).alias("_delta_seq"))
    if winners is not None:
        resolved = resolved.unionByName(
            winners.select(*cols, F.col("_delta_seq"))
        )
    for shape, tall in _shapes_of(tombs, key):
        tk = [f"_tk{j}" for j in range(len(shape))]  # no name clashes
        hit = [F.col(c) == F.col(t) for c, t in zip(shape, tk)]
        resolved = resolved.join(
            tall.toDF(*tk, "_t_seq"),
            [*hit, F.col("_t_seq") >= F.col("_delta_seq")],
            "left_anti",
        )
    return resolved.select(*cols)


def flatten_deltas(
    spark: SparkSession,
    table_dir: str,
    key: list[str],
    keep: int = 1,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_rank: str = "width",
) -> str | None:
    """Fold active deltas into a fresh base snapshot (the maintenance-
    cadence merge). Layout kwargs re-establish clustering exactly like
    ``compact``. Returns the new snapshot name, or None if there was
    nothing to fold. The folded delta dirs are retired at this flatten's
    commit: their names move to ``_DELTAS_RETIRED`` and the lake's one GC
    rule (``_expire``) reaps them once they have been retired for
    ``GRACE_S`` (``vacuum`` reaps them at once)."""
    names = delta_names(table_dir)
    if not names:
        return None
    merged = read_current_with_deltas(spark, table_dir, key)
    snap = write_snapshot(
        merged,
        table_dir,
        keep=keep,
        cluster_by=cluster_by,
        cluster_files=cluster_files,
        zorder_by=zorder_by,
        zorder_rank=zorder_rank,
    )
    # Retire ONLY the deltas this flatten folded (captured above), under
    # the commit lock: a delta appended concurrently between the capture
    # and this clear stays ACTIVE — it wasn't merged into the new base,
    # and it still wins over that base through the merge-on-read reader.
    # A blanket clear would silently drop it (lost delta).
    with _commit_lock(table_dir):
        remaining = [n for n in delta_names(table_dir) if n not in set(names)]
        _atomic_write(
            _delta_log_path(table_dir),
            ("\n".join(remaining) + "\n") if remaining else "",
        )
        doomed = _expire(table_dir, keep, retire=names)
    _remove(table_dir, doomed)
    return snap


def upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: list[str],
    keep: int = 1,
    evolve_schema: bool = False,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_rank: str = "width",
    meta: dict | None = None,
) -> str:
    """MERGE-shaped copy-on-write upsert: rows in ``updates`` replace
    current rows with the same key; all other current rows carry over.

    With ``evolve_schema=True`` the update batch may ADD columns (carried
    rows read NULL for them) or OMIT existing ones (update rows get NULL) —
    additive schema evolution, the same contract as a lakehouse MERGE with
    ``mergeSchema``. Without it, a mismatched schema fails fast (the
    default, so a malformed CDC batch cannot silently widen the table).

    ``cluster_by`` re-establishes a clustered layout on the rewrite: a
    MERGE is a full copy-on-write anyway, so re-ranging it is one extra
    exchange, and WITHOUT it a single upsert silently destroys the
    min/max file-skipping layout a CLUSTER BY table was built with —
    every later selective scan quietly degrades to a full read.

    Scale: one left-anti join (current ⟕ updates on key) + a union — the
    join broadcasts when updates are small (the common CDC shape); the
    rewrite cost is the price of immutable files, exactly like any
    copy-on-write lakehouse MERGE without deletion vectors.
    """
    current = read_current(spark, table_dir)
    kept = current.join(updates.select(*key), on=key, how="left_anti")
    merged = kept.unionByName(updates, allowMissingColumns=evolve_schema)
    return write_snapshot(
        merged,
        table_dir,
        keep=keep,
        cluster_by=cluster_by,
        cluster_files=cluster_files,
        zorder_by=zorder_by,
        zorder_rank=zorder_rank,
        meta=meta,
    )


def occ_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: list[str],
    retries: int = 5,
    keep: int = 1,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
) -> str:
    """MERGE under optimistic concurrency: the standard OCC loop over
    ``write_snapshot(expect_parent=…)`` — read the current snapshot name,
    compute the merge against that state, commit with the CAS; on
    ``CommitConflict`` (another writer landed first) recompute against
    the NEW current and retry. Both writers' rows survive, in commit
    order — the lost-update the unconditional ``upsert`` admits under
    concurrency can't happen here. ``updates`` is materialized once: the
    retry loop re-evaluates it per attempt, and a non-deterministic
    source recomputed between attempts would merge different rows than
    it probed (the ``merge_cdc_delta`` discipline).

    A competing writer's in-flight merge plan still SCANS the shared
    parent's files while the winner commits; the lake's reader grace
    (``GRACE_S``, ``_expire``) keeps them, so the loser gets a clean
    ``CommitConflict`` instead of FAILED_READ_FILE inside its stage,
    whatever ``keep`` is. ``keep`` is time-travel depth only.

    Use this (or the commutative ``append_delta``) when a table has
    concurrent writers; the plain ``upsert`` remains the cheaper call on
    single-writer paths like the index loops."""
    from pgcp_spark.plans.materialize import materialize

    updates = materialize(updates)
    last: CommitConflict | None = None
    for _ in range(max(1, retries)):
        parent = current_snapshot(table_dir)
        if parent is None:  # first writer wins the table-creation race
            merged = updates
        else:
            current = read_current(spark, table_dir)
            kept = current.join(updates.select(*key), on=key, how="left_anti")
            merged = kept.unionByName(updates)
        try:
            return write_snapshot(
                merged,
                table_dir,
                keep=keep,
                cluster_by=cluster_by,
                cluster_files=cluster_files,
                expect_parent=parent,
            )
        except CommitConflict as exc:
            last = exc
            continue
    raise CommitConflict(
        f"{table_dir}: gave up after {retries} conflicted attempts"
    ) from last


def delete(
    spark: SparkSession,
    table_dir: str,
    predicate=None,
    keys: DataFrame | None = None,
    key: list[str] | None = None,
    keep: int = 1,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_rank: str = "width",
) -> str:
    """Copy-on-write DELETE: rewrite the current snapshot without the
    matching rows and atomically re-point — the retention/GDPR mutation
    every production lake hits right after MERGE. Two addressing modes,
    mutually exclusive:

      - ``predicate`` (a Column): DELETE WHERE semantics — rows where the
        predicate is TRUE are removed; FALSE **and NULL** are kept, the
        ANSI DELETE rule (a bare ``filter(~p)`` would silently delete
        NULL-predicate rows, which is how a retention job eats rows with
        missing timestamps).
      - ``keys`` (a frame of key values) + ``key``: delete by key list —
        one left-anti join, broadcast when the key list is small (the
        common GDPR-request shape).

    Layout contract is ``upsert``'s: the rewrite is full copy-on-write, so
    passing ``cluster_by``/``zorder_by`` re-establishes a clustered layout
    for one extra exchange, and omitting them on a clustered table quietly
    degrades later selective scans. The pre-delete snapshot stays on disk
    for the reader grace (``GRACE_S``) and as long as ``keep`` retains it
    for time travel, so a GDPR pipeline runs ``vacuum(table_dir,
    keep=1)`` for "truly gone now"; the change feed reports the delete
    either way.

    Scale: predicate deletes are one filtered scan (the predicate also
    pushes into the parquet scan, so untouched files stream through);
    keyed deletes are one anti-join. Nothing collects to the driver.
    """
    if (predicate is None) == (keys is None):
        raise ValueError("exactly one of predicate / keys must be given")
    current = read_current(spark, table_dir)
    if predicate is not None:
        kept_rows = current.where(~F.coalesce(predicate, F.lit(False)))
    else:
        if not key:
            raise ValueError("keyed delete needs key columns")
        # re-select the original column order: the anti-join hoists its
        # key columns first, and a DELETE must never reorder the schema
        kept_rows = current.join(keys.select(*key), on=key, how="left_anti").select(
            *current.columns
        )
    return write_snapshot(
        kept_rows,
        table_dir,
        keep=keep,
        cluster_by=cluster_by,
        cluster_files=cluster_files,
        zorder_by=zorder_by,
        zorder_rank=zorder_rank,
    )


def merge_cdc(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key: list[str],
    op_col: str = "_op",
    delete_op: str = "delete",
    keep: int = 1,
    evolve_schema: bool = False,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_rank: str = "width",
) -> str:
    """MERGE with WHEN-MATCHED-DELETE: apply one CDC batch whose ``op_col``
    marks each row as ``delete_op`` (WHEN MATCHED THEN DELETE) or anything
    else (matched → UPDATE, unmatched → INSERT — ``upsert`` semantics).
    An unmatched delete row is a no-op, the standard MERGE rule, so a
    replayed CDC batch converges (deleting twice deletes once).

    ``batch`` must be key-unique (the same contract ``upsert`` holds) —
    a key appearing as both update and delete in one batch is a malformed
    feed, not a supported ordering. One anti-join removes every TOUCHED
    key from the current snapshot, then the non-delete rows union back:
    exactly ``upsert``'s plan shape plus one cheap batch filter, so cost
    and broadcast behavior are unchanged from the delete-free MERGE.
    """
    current = read_current(spark, table_dir)
    kept_rows = current.join(batch.select(*key), on=key, how="left_anti")
    ups = batch.filter(~F.col(op_col).eqNullSafe(F.lit(delete_op))).drop(op_col)
    merged = kept_rows.unionByName(ups, allowMissingColumns=evolve_schema)
    return write_snapshot(
        merged,
        table_dir,
        keep=keep,
        cluster_by=cluster_by,
        cluster_files=cluster_files,
        zorder_by=zorder_by,
        zorder_rank=zorder_rank,
    )


def vacuum(
    table_dir: str,
    keep: int = 1,
    orphan_min_age_s: float = 3600.0,
    protect: set[str] | None = None,
) -> list[str]:
    """Physically reclaim retained history: drop every committed snapshot
    except the newest ``keep`` (plus AGED crash orphans), trim the log,
    and return the names removed. Pure metadata/filesystem op — no Spark
    job, no data rewrite, and the CURRENT pointer is never touched.

    This is the explicit end of the reader grace and the second half of
    the GDPR contract ``delete`` documents: a deleted row's pre-delete
    snapshot stays on disk for the grace (``GRACE_S``) and for as long
    as ``keep`` retains it, and the commit-time GC (``_expire``) reaps it
    only at a later commit. ``vacuum(table_dir, keep=1)`` makes "truly
    gone" an explicit, immediate step — the same role Delta's VACUUM
    plays after a DELETE: it reaps committed snapshots beyond ``keep``
    at ANY age. Readers mid-flight on a vacuumed snapshot lose their
    files (that is the point); run it after the retention window,
    exactly like any lakehouse VACUUM.

    ``orphan_min_age_s`` guards the one race the single-writer contract
    (indexes/loop.py) doesn't cover: an UNCOMMITTED snapshot dir might be
    a crash orphan — or a concurrent ``write_snapshot`` mid-stage whose
    pointer commit hasn't happened yet. Age disambiguates them exactly
    the way Delta's retention check does: a staging write finishes in
    seconds-to-minutes, so an uncommitted dir younger than the threshold
    is treated as in-flight and skipped; one older is a crash orphan and
    reaped. Committed-but-beyond-``keep`` snapshots are reaped regardless
    of age (their commit proves no writer owns them). Pass 0 to force
    the pre-guard behavior when the caller KNOWS it is the only writer.

    Delta dirs (merge-on-read layer): ACTIVE deltas are live data and
    never touched; RETIRED deltas (folded by a flatten, lingering for
    reader grace) are reaped at any age, as retained snapshots are;
    unlogged delta dirs are crash
    orphans under the same age guard as uncommitted snapshots.

    ``protect``: snapshot/delta names that must SURVIVE regardless of
    ``keep`` — the cross-table manifest's pins (``txn.vacuum_group``
    passes them), since a group reader resolves through the manifest and
    may lag the per-table pointer by design. Protected committed
    snapshots also stay in the log, so a later unprotected vacuum still
    sees them as committed rather than aged orphans."""
    protect = protect or set()
    committed = history(table_dir)
    if not committed:  # empty / never-committed table dir: nothing to do
        return []
    kept = set(committed[-max(1, keep):]) | (protect & set(committed))
    committed_set = set(committed)
    active_deltas = set(delta_names(table_dir))
    retired = _retired(table_dir)
    retired_deltas = {name for name, _ in retired}
    now = time.time()
    removed = []
    for entry in os.listdir(table_dir):
        is_snap = entry.startswith(SNAPSHOT_PREFIX)
        is_delta = entry.startswith(DELTA_PREFIX)
        if not (is_snap or is_delta):
            continue
        if is_snap and entry in kept:
            continue
        if is_delta and (entry in active_deltas or entry in protect):
            continue  # live merge-on-read data / manifest-pinned — keep
        uncommitted = (is_snap and entry not in committed_set) or (
            is_delta and entry not in retired_deltas
        )
        if uncommitted:  # crash orphan or a concurrent writer's in-flight?
            try:
                age = now - os.path.getmtime(os.path.join(table_dir, entry))
            except OSError:  # vanished mid-listing: someone else owns it
                continue
            if age < orphan_min_age_s:
                continue  # young = possibly a concurrent stage — skip
        shutil.rmtree(os.path.join(table_dir, entry), ignore_errors=True)
        removed.append(entry)
    if retired:  # their grace ends with this vacuum
        _write_retired(table_dir, [(d, ts) for d, ts in retired if d in protect])
    _atomic_write(
        _log_path(table_dir),
        "\n".join(s for s in committed if s in kept) + "\n",
    )
    return removed


def compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep: int = 1,
    cluster_by: list[str] | None = None,
    min_files: int = 1,
    zorder_by: list[str] | None = None,
    zorder_rank: str = "width",
) -> str:
    """Small-file compaction (the OPTIMIZE maintenance op): rewrite the
    current snapshot into ⌈size/target⌉ files and atomically re-point.

    Streaming ingestion and per-partition COPY writers leave lakes with
    thousands of small files; at 100 TB scan throughput collapses because
    every file costs a task + footer read + open. Compaction is a pure
    rewrite — same rows, bigger files — committed through the same
    pointer-swap as any write, so readers never see a partial state and
    time travel to the pre-compaction snapshot still works (``keep`` ≥ 2).

    Sizing uses the CURRENT snapshot's on-disk bytes (compressed), so the
    output files land near ``target_file_bytes`` without a second pass.
    """
    snap = current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    snap_dir = os.path.join(table_dir, snap)
    on_disk = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(snap_dir)
        for f in files
        if f.endswith(".parquet")
    )
    # ``min_files`` is the parallelism floor: a table can be smaller than
    # one target file yet feed a COMPUTE-heavy join whose task count is
    # bounded by its scan partitions — measured at the sf1 ANN index,
    # compacting the vectors table to a single file serialized the probe
    # join 23.8 → 87 s. Byte-targeting alone right-sizes scan-bound
    # tables; compute-bound consumers pass their parallelism here.
    n_files = max(min_files, -(-on_disk // max(1, target_file_bytes)))  # ceil
    df = read_parquet_dir(spark, snap_dir)
    if zorder_by:
        # z-ordered table: same rebuild rule as cluster_by below, on the
        # recomputed Morton key (stats over the current snapshot)
        return write_snapshot(
            df, table_dir, keep=keep, zorder_by=zorder_by,
            zorder_rank=zorder_rank, cluster_files=n_files,
        )
    if cluster_by:
        # clustered table: compaction must REBUILD the layout, not just
        # merge files — one range exchange sized to the target file count
        # restores near-disjoint per-file key ranges (min/max skipping)
        df = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
        return write_snapshot(df, table_dir, keep=keep)
    # coalesce, not repartition: merging files needs no shuffle — each
    # output task reads a contiguous group of input files. coalesce can
    # only REDUCE partition count, though, so when the scan yields fewer
    # partitions than the ``min_files`` floor demands (a small snapshot
    # feeding a compute-heavy consumer), pay the one round-robin
    # exchange — the floor is a parallelism guarantee, not a hint.
    if df.rdd.getNumPartitions() < n_files:
        return write_snapshot(df.repartition(n_files), table_dir, keep=keep)
    return write_snapshot(df.coalesce(n_files), table_dir, keep=keep)


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_snapshot: str,
    to_snapshot: str | None = None,
    key: list[str] | None = None,
) -> DataFrame:
    """Change feed between two retained snapshots (Delta CDF / Iceberg
    changelog shape): the table's columns plus ``_change_type`` in
    {insert, delete, update_preimage, update_postimage}.

    The snapshot log already stores everything a change feed needs —
    immutable old and new versions — so CDC is a DIFF, not a capture:
    downstream consumers (incremental aggregates, index maintenance,
    replication) read exactly what changed between commits instead of
    rescanning the table. ``to_snapshot=None`` diffs against the current
    pointer. ``keep`` must retain ``from_snapshot`` (time travel rules).

    With ``key`` (must be unique per snapshot — the same contract
    ``upsert`` maintains): keyed diff via ONE full-outer join on the key,
    each side's non-key columns packed into a struct, classified
    null-side → insert/delete, null-safe struct inequality → one
    preimage + one postimage row. Rows with NULL keys never match (ANSI
    join semantics) and surface as delete+insert, same as any CDC on a
    keyless row. Without ``key``: bag diff (two ``exceptAll``), inserts
    and deletes only — an updated row is a delete+insert pair.

    Additive schema evolution between the snapshots is aligned the same
    way ``upsert(evolve_schema=True)`` created it: columns missing on
    one side read NULL there.

    Scale: the keyed path is one key-partitioned shuffle of both
    snapshots and streams no payload wider than the row itself; nothing
    collects to the driver. The unchanged majority is dropped BEFORE the
    explode, so the output exchange carries only changed rows.
    """
    old = read_snapshot(spark, table_dir, from_snapshot)
    new = (
        read_snapshot(spark, table_dir, to_snapshot)
        if to_snapshot is not None
        else read_current(spark, table_dir)
    )
    cols = list(new.columns) + [c for c in old.columns if c not in new.columns]
    old_t, new_t = dict(old.dtypes), dict(new.dtypes)
    for c in cols:  # align additive evolution: absent column reads NULL
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(new_t[c]))
        if c not in new.columns:
            new = new.withColumn(c, F.lit(None).cast(old_t[c]))
    old, new = old.select(*cols), new.select(*cols)

    if key is None:
        ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)
    return _keyed_diff(old, new, cols, key)


def _keyed_diff(
    old: DataFrame, new: DataFrame, cols: list[str], key: list[str]
) -> DataFrame:
    """The keyed CDC diff core shared by ``table_changes`` (snapshot →
    snapshot) and ``pending_changes`` (base → merge-on-read view): one
    full-outer join on the key, null-side → insert/delete, null-safe
    struct inequality → update pre/postimage pair. Both frames must
    already be aligned to ``cols``."""
    nonkey = [c for c in cols if c not in key]
    o = old.select(*key, F.struct(*nonkey).alias("_old"))
    n = new.select(*key, F.struct(*nonkey).alias("_new"))
    j = o.join(n, on=key, how="full_outer").filter(
        F.col("_old").isNull()
        | F.col("_new").isNull()
        | ~F.col("_old").eqNullSafe(F.col("_new"))
    )
    pre = F.struct(F.lit("update_preimage").alias("t"), F.col("_old").alias("r"))
    post = F.struct(F.lit("update_postimage").alias("t"), F.col("_new").alias("r"))
    changes = (
        F.when(F.col("_old").isNull(), F.array(F.struct(F.lit("insert").alias("t"), F.col("_new").alias("r"))))
        .when(F.col("_new").isNull(), F.array(F.struct(F.lit("delete").alias("t"), F.col("_old").alias("r"))))
        .otherwise(F.array(pre, post))
    )
    return j.select(*key, F.explode(changes).alias("_c")).select(
        *key,
        *[F.col(f"_c.r.{c}").alias(c) for c in nonkey],
        F.col("_c.t").alias("_change_type"),
    )


def pending_changes(
    spark: SparkSession, table_dir: str, key: list[str]
) -> DataFrame:
    """Change feed of the UN-FLATTENED deltas (round 10): everything a
    merge-on-read reader sees that the base snapshot doesn't, classified
    with ``table_changes``' exact vocabulary (insert / delete /
    update_preimage / update_postimage). This is the CDC view a
    downstream consumer (replica, incremental aggregate, index
    maintenance) reads BETWEEN compactions — without it, delta-landed
    mutations (``append_delta`` / ``delete_delta`` / ``merge_cdc_delta``)
    are invisible to the feed until a flatten commits them, which would
    couple CDC latency to the compaction cadence. After a flatten the
    pending feed is empty by construction (the view equals the new base).

    Scale: unlike ``table_changes`` (whose two snapshots can differ
    anywhere, forcing a corpus-vs-corpus keyed diff), here every change
    is BY CONSTRUCTION at a delta-touched key — so both sides are first
    semi-joined to the union of the deltas' key values (batch-sized
    under the compaction cadence → AQE broadcasts it, one pass over the
    base, no corpus shuffle) and the full-outer diff itself runs over
    batch-sized frames. A data delta prunes on the reader ``key`` (it
    replaces whole rows by key); a tombstone prunes on its OWN column
    set (equality-delete semantics: it kills exactly the rows matching
    those columns, whether or not they overlap the reader key — the IVM
    dim arm's attribute-keyed tombstones are the live case). Only a
    tombstone on columns the table doesn't carry forces the unpruned
    full diff (which stays correct — it is what ``table_changes``
    always pays)."""
    cur = current_snapshot(table_dir)
    return state_changes(
        spark, table_dir, f"{cur}|", pending_state(table_dir), key
    )


def _parse_state(state: str) -> tuple[str, list[str]]:
    snap, _, deltas = state.partition("|")
    return snap, [d for d in deltas.split(",") if d]


def state_changes(
    spark: SparkSession,
    table_dir: str,
    from_state: str,
    to_state: str,
    key: list[str],
) -> DataFrame:
    """Change feed between ANY two merge-on-read states of the table
    (``pending_state`` ids: ``"<snapshot>|<delta>,<delta>,…"``), in
    ``table_changes``' vocabulary. This is the primitive the cascade IVM
    fold consumes: a downstream aggregate stamps the state it applied
    and reads exactly the changes since — across multiple folds, without
    coupling to the flatten cadence.

    Scale: when ``to_state`` EXTENDS ``from_state`` (same base snapshot,
    from-deltas a prefix of to-deltas — the single-maintenance-owner
    loop's invariant shape), every change is by construction at a key
    the NEW deltas touched, so both sides prune to batch size exactly
    like ``pending_changes`` (data deltas by reader key, tombstones by
    their own column shape). A non-extending pair (e.g. a flatten
    between the states) falls back to the full keyed diff — correct,
    and it costs what ``table_changes`` always costs; the cascade avoids
    it by re-stamping after each flatten
    (``view_maintenance.stamp_applied_state``). The folds reach it
    through ``unapplied_changes``."""
    f_snap, f_deltas = _parse_state(from_state)
    t_snap, t_deltas = _parse_state(to_state)
    if from_state == to_state:
        base = read_snapshot(spark, table_dir, t_snap) if t_snap else None
        if base is None:
            raise FileNotFoundError(f"no snapshot in state {to_state!r}")
        return _keyed_diff(base.limit(0), base.limit(0), base.columns, key)
    old = read_current_with_deltas(
        spark, table_dir, key, snapshot=f_snap, names=f_deltas
    )
    extends = f_snap == t_snap and t_deltas[: len(f_deltas)] == f_deltas
    if not extends:
        # non-extending pair (e.g. a flatten between the states): the
        # full corpus-vs-corpus keyed diff — what table_changes always
        # costs; the cascade avoids it by re-stamping after flattens
        new = read_current_with_deltas(
            spark, table_dir, key, snapshot=t_snap, names=t_deltas
        )
        cols = list(new.columns) + [c for c in old.columns if c not in new.columns]
        old_t, new_t = dict(old.dtypes), dict(new.dtypes)
        for c in cols:  # additive evolution between the states: NULL fill
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new_t[c]))
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(old_t[c]))
        return _keyed_diff(old.select(*cols), new.select(*cols), cols, key)
    fresh = t_deltas[len(f_deltas):]
    if not fresh:
        return _keyed_diff(old.limit(0), old.limit(0), old.columns, key)
    # Extends path (r14 optimization, guide §2.4: remove a whole pass):
    # the new state IS the old state plus the fresh deltas, so instead of
    # re-resolving the full merge-on-read stack a second time (base scan,
    # per-delta unions, newest-wins aggregate, tombstone joins — all
    # doubled, and under AQE every extra exchange fans one more stage
    # job), resolve the fresh deltas OVER the pruned old state:
    #
    #     new ⋉ touched  ==  resolve(old ⋉ touched, fresh)
    #
    # which holds exactly because every old write predates every fresh
    # delta — the resolved old rows re-enter ``_merge_deltas`` at seq -1,
    # below every fresh data delta and tombstone, preserving newest-wins
    # and kill-if-older semantics bit-for-bit (the _merge_deltas
    # docstring). Fresh data-delta keys are in the touched set by
    # construction (their shape is the reader key), so pruning before the
    # resolve loses nothing.
    raw_fresh = [
        (i, read_parquet_dir(spark, os.path.join(table_dir, n)))
        for i, n in enumerate(fresh)
    ]
    # additive evolution: columns a fresh DATA delta introduces null-fill
    # onto the old side (same rule the full resolution applies)
    types = dict(old.dtypes)
    cols = list(old.columns)
    for _, p in raw_fresh:
        if TOMBSTONE in p.columns:
            continue
        for c, t in p.dtypes:
            if c not in types:
                types[c] = t
                cols.append(c)
    for c in cols:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(types[c]))
    old = old.select(*cols)
    shapes = _shapes_of(raw_fresh, key)
    if any(not s or any(c not in cols for c in s) for s, _ in shapes):
        new = read_current_with_deltas(
            spark, table_dir, key, snapshot=t_snap, names=t_deltas
        )
        for c in cols:
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(types[c]))
        return _keyed_diff(old, new.select(*cols), cols, key)

    # a row is in play if ANY shape's touched set matches it (union,
    # not intersection — a prefix tombstone and a full-key data delta
    # each independently put rows in play); the table is key-unique
    # (the keyed-diff contract), so the cross-shape dedup is exact
    old_p = reduce(
        DataFrame.unionByName,
        [old.join(t, on=s, how="left_semi") for s, t in shapes],
    )
    if len(shapes) > 1:
        old_p = old_p.dropDuplicates(key)
    new_p = _merge_deltas(old_p, raw_fresh, key)
    return _keyed_diff(old_p, new_p, cols, key)


def unapplied_changes(
    spark: SparkSession,
    src_dir: str,
    stamped_dir: str,
    key: list[str],
    meta_key: str,
) -> tuple[str, DataFrame] | None:
    """The exactly-once watermark protocol every downstream fold shares
    (the cascade aggregates over a maintained view, the BM25 index over
    the documents lake): a fold stamps the ``pending_state`` of
    ``src_dir`` it consumed into ``stamped_dir``'s commit meta under
    ``meta_key``. Returns ``(current state, materialized state_changes
    feed since the stamp)`` — the feed may be empty — or None when the
    stamp IS the current state (an at-least-once replay, skipped).

    Refuses (RuntimeError) rather than guess a fold window: on a MISSING
    watermark — meta is per-snapshot and does not carry forward, so any
    metaless commit (a compaction, a manual ``write_snapshot``) clears
    it, and folding the full feed from there would double-count every
    applied change; and on a stamped state a flatten/vacuum GC'd — the
    owner re-anchors right after each flatten of the source, which also
    keeps the next diff on the prefix-pruned path. Recovery from either:
    rebuild from the source with a stamped ``write_snapshot``, or
    re-stamp if the stored state is KNOWN current."""
    from pgcp_spark.plans.materialize import materialize

    state = pending_state(src_dir)
    applied = snapshot_meta(stamped_dir).get(meta_key)
    if applied == state:
        return None
    if applied is None:
        raise RuntimeError(
            f"{stamped_dir}: no {meta_key} watermark (never stamped at "
            "build time, or cleared by a metaless commit) — refusing to "
            "fold the full feed, which would double-count already-applied "
            "changes. Rebuild from the source with a stamped "
            "write_snapshot, or re-stamp if the stored state is KNOWN "
            "current."
        )
    try:
        feed = state_changes(spark, src_dir, applied, state, key=key)
    except FileNotFoundError as exc:
        raise RuntimeError(
            f"{stamped_dir}: the applied state of {src_dir} is no longer "
            "readable (a flatten/vacuum GC'd it). Re-anchor the watermark "
            "after each flatten (stamp_applied_state for a view aggregate), "
            "or rebuild from the source. Refusing to guess — a blind "
            "re-fold double-counts."
        ) from exc
    return state, materialize(feed)


def _shapes_of(raw: list[tuple[int, DataFrame]], key: list[str]):
    """[(column set, touched values + the ``_t_seq`` of their delta)]
    across delta frames, one entry per column set. A data delta touches
    the reader ``key`` (all key columns are guaranteed present — the
    delta-key contract); a tombstone its own column set, which may be a
    key prefix OR disjoint attribute columns (equality deletes).
    ``state_changes`` semi-joins on these to bound the extends-path diff
    at batch size, and ``_merge_deltas`` anti-joins its tombstones on
    them. Both joins ignore duplicates, so the values keep theirs."""
    by_shape: dict[tuple[str, ...], list[DataFrame]] = {}
    for i, p in raw:
        if TOMBSTONE in p.columns:
            shape = tuple(c for c in p.columns if c != TOMBSTONE)
        else:
            shape = tuple(c for c in key if c in p.columns)
        by_shape.setdefault(shape, []).append(
            p.select(*shape, F.lit(i).alias("_t_seq"))
        )
    return [(list(s), reduce(DataFrame.unionByName, fs)) for s, fs in by_shape.items()]
