"""The shared persisted-index loop harness.

Every lake-maintained index family in this repo runs the same life cycle:

    build (once per corpus version) → fold batches in (MERGE) →
    query against the stored tables → compact / re-fit on a cadence

and before round 8 each family — dedup signatures
(``functions/dedup_index.py``), IVF ANN (``functions/ann_index.py``), HLL
sketch partials (``functions/sketches.py``) — plus the two streaming
ingest loops re-implemented the same five pieces of plumbing around that
cycle. This module is that plumbing, extracted once:

  * ``content_version_dir`` — an index directory keyed by the CONTENT
    VERSION of its source table (path + file sizes + mtimes, plus a
    format salt), so a regenerated lake or a changed index format can
    never be served by a stale index — it is simply a different
    directory, and the build runs again.
  * ``ensure_built`` — build iff any subtable has no committed snapshot.
    Single-writer contract per index dir (the lake pointer commit is
    atomic per table, but concurrent builders' GC can reap each other's
    uncommitted snapshot dirs; production serializes maintenance behind
    its scheduler).
  * ``copy_index`` — file-level copy of the committed snapshots into a
    throwaway working dir, so a registered query that FOLDS batches stays
    idempotent across driver re-runs (folding mutates; the shared
    per-corpus index must not see it).
  * ``stage_group_files`` — write a frame as one parquet file per group
    (crawl day / ingest day) with fixed, strictly increasing mtimes:
    the file stream source then delivers whole groups oldest-first, and
    identical staging bytes across runs keep replays bit-identical.
  * ``run_availablenow_stream`` — the foreachBatch driver every loop
    shares: schema'd file reader, optional maxFilesPerTrigger,
    availableNow trigger, checkpoint inside the staging dir (reclaimed
    with it), awaitTermination.
  * ``compact_tables`` — per-subtable OPTIMIZE through the lake's atomic
    pointer swap (a reader that resolved the pre-compaction pointer
    keeps its files for the lake's reader grace), honoring per-table
    layout kwargs (the ANN vectors table re-ranges on its cluster key;
    plain tables just merge files).
  * ``reclaim_by_mode`` — the result-directory rule: eager
    materialization modes (localCheckpoint / checkpoint) detach the
    result frame from its files, so run-scoped dirs are reclaimed
    immediately; lazy modes (persist keeps lineage for fault tolerance,
    none is the identity) still read the files, so reclamation defers to
    interpreter exit.

Behavioral compatibility note: the fingerprint layout, staging epoch,
and file naming are bit-identical to the pre-extraction per-family
copies, so existing persisted indexes and replay-idempotence pins carry
over unchanged.

Crash consistency across multi-table folds (round-10 pin): a family
whose fold touches several subtables commits them one atomic pointer
swap at a time, so a crash mid-sequence leaves a READER-VISIBLE SKEW
(never an error), repaired by the at-least-once replay every loop
already guarantees. The text index is the worked case (three commits;
skew = new postings scored with old stats; pinned in
tests/test_text_index.py with a kill between each seam): replay
converges because each commit is either an appended delta (the re-append
shadows its twin — newest delta wins), an idempotent rewrite (a pure
function of pre-crash state + batch), or a pure function of another
committed table (stats from doclen). The dedup family's three delta
appends and the ANN family's single vectors append satisfy the same
three clauses, so one pinned family carries the argument — what must
NOT appear in a fold is a read-modify-write whose input the fold itself
commits earlier in the sequence (an integer-delta stats fold replayed
after the doclen commit would double-subtract and diverge; that shape
was removed in round 10).
"""

from __future__ import annotations

import atexit
import glob as globmod
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.plans.materialize import current_mode, materialize
from pgcp_spark.sources.lake import (
    compact,
    current_snapshot,
    delta_names,
    flatten_deltas,
)

_STAGE_EPOCH = 1_000_000_000  # fixed: identical staging bytes across runs

# Auto-flatten threshold for the ingest loops (``maybe_flatten``): the
# merge-on-read view unions every active delta, so deferred maintenance
# compounds the read tax (~1.6× per fold delta at the SCALE.md r9
# measurement point; ~1.2× per tombstone, r10). Eight batch-sized deltas
# bounds the union at one compaction's worth of work while keeping the
# flatten rare enough that folds stay O(batch) on average. Loops run at
# this default; tests override per call.
FLATTEN_MAX_DELTAS = 8


def maybe_flatten(
    spark: SparkSession,
    table_dir: str,
    key: list[str],
    max_deltas: int | None = None,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
) -> str | None:
    """The self-healing half of the delta layer's contract (round 10):
    flatten ``table_dir``'s active deltas into the base iff their count
    has reached ``max_deltas`` (default ``FLATTEN_MAX_DELTAS``).

    The AQE-over-forced-hints call on the merge-on-read reader (round 9)
    names the failure mode this closes: an operator that defers
    maintenance accumulates deltas without bound — the reader degrades
    gracefully (shuffle join instead of driver OOM) but the read tax
    compounds. Wiring this check into every ingest loop's fold step
    makes the steady state self-healing: folds stay O(batch), and every
    ``max_deltas``-th batch pays the one deferred merge — the same
    amortization ``maybe_refit_ann_index`` applies to quantizer drift.
    The count is of delta DIRS, and a CDC batch is one dir (its upserts
    and tombstones land together through ``merge_cdc_delta`` or the view
    fold's fact arm), so that cadence is per batch.
    Returns the new snapshot name when a flatten ran, else None."""
    limit = FLATTEN_MAX_DELTAS if max_deltas is None else max_deltas
    if len(delta_names(table_dir)) < limit:
        return None
    return flatten_deltas(
        spark,
        table_dir,
        key=key,
        cluster_by=cluster_by,
        cluster_files=cluster_files,
    )


def content_version_dir(
    root: str, sf_dir: str, data_file: str, salt: str = ""
) -> str:
    """Deterministic index location keyed by the content version of
    ``sf_dir/data_file`` (file names + sizes + mtimes). ``salt`` encodes
    the index FORMAT version — bump it when layout or training geometry
    changes, so an index persisted by older code can never serve a newer
    kernel."""
    data_path = os.path.join(sf_dir, data_file)
    parts = [os.path.abspath(sf_dir)]
    if salt:
        parts.append(salt)
    if os.path.isdir(data_path):
        for name in sorted(os.listdir(data_path)):
            st = os.stat(os.path.join(data_path, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(data_path):
        st = os.stat(data_path)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    digest = hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]
    return os.path.join(root, digest)


def ensure_built(
    index_dir: str, subtables: Iterable[str], build: Callable[[], None]
) -> str:
    """Run ``build()`` iff any subtable lacks a committed snapshot;
    return ``index_dir``. See the module docstring's single-writer
    contract."""
    if any(
        current_snapshot(os.path.join(index_dir, t)) is None for t in subtables
    ):
        build()
    return index_dir


def copy_index(seed_dir: str, subtables: Iterable[str], prefix: str) -> str:
    """File-level copy of the committed index snapshots into a throwaway
    dir, so folding batches in cannot mutate the shared per-corpus
    index."""
    work = tempfile.mkdtemp(prefix=prefix)
    for t in subtables:
        shutil.copytree(os.path.join(seed_dir, t), os.path.join(work, t))
    return work


def stage_group_files(
    df: DataFrame,
    group_col: Column,
    groups: Sequence,
    prefix: str,
    file_stem: str = "batch",
    materialize_input: bool = True,
) -> str:
    """Write ``df`` as one parquet file per value in ``groups`` (rows
    where ``group_col`` equals it), named ``{file_stem}_{k}.parquet``
    with strictly increasing fixed mtimes, so the file stream source
    delivers whole groups oldest-first and a micro-batch is always a
    union of COMPLETE groups (files are the source's atomic unit).
    Rows whose ``group_col`` is NULL (or not in ``groups``) are NOT
    staged — the equality filter never matches NULL. Callers stage on
    key-like columns (crawl day, id buckets) and their index seams
    quarantine NULL keys before this point (see
    ``functions/text_index.py:doc_terms``); a caller grouping on a
    nullable column must bucket NULLs explicitly first.
    Loop results must not DEPEND on delivery order — the loops derive
    position from the data — but deterministic staging keeps runs
    bit-identical in logs and progress too."""
    staging = tempfile.mkdtemp(prefix=prefix)
    if materialize_input:
        df = materialize(df)  # one source scan feeds all the slice writes
    # the per-group slice writes are independent jobs over the
    # materialized input — run them CONCURRENTLY (guide §2.6); the
    # mtime/rename bookkeeping that fixes delivery order stays
    # sequential afterwards, so determinism is unchanged
    from pgcp_spark.plans.overlap import overlap

    def _write_slice(k: int, g) -> str:
        sub = df.filter(group_col == F.lit(g)).coalesce(1)
        tmp = os.path.join(staging, f"_tmp{k}")
        sub.write.mode("overwrite").parquet(tmp)
        return tmp

    tmps = overlap(
        *[lambda k=k, g=g: _write_slice(k, g) for k, g in enumerate(groups)]
    )
    for k, tmp in enumerate(tmps):
        part = sorted(globmod.glob(os.path.join(tmp, "part-*.parquet")))[0]
        dst = os.path.join(staging, f"{file_stem}_{k}.parquet")
        os.rename(part, dst)
        os.utime(dst, (_STAGE_EPOCH + 60 * k, _STAGE_EPOCH + 60 * k))
        shutil.rmtree(tmp)
    return staging


def run_availablenow_stream(
    spark: SparkSession,
    staging: str,
    schema,
    process: Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drain ``staging``'s parquet files through ``process`` as an
    availableNow foreachBatch stream. ``max_files_per_trigger=None``
    lets availableNow swallow everything in one micro-batch (the
    boundary-invariance gate each loop pins); 1 replays the production
    group-at-a-time cadence. The checkpoint lives inside ``staging`` and
    is reclaimed with it; foreachBatch is at-least-once, so ``process``
    must be replay-idempotent (each family pins this)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(staging)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(staging, "_checkpoint"))
        .start()
    )
    q.awaitTermination()


def compact_tables(
    spark: SparkSession,
    index_dir: str,
    subtables: Iterable[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    per_table: dict[str, dict] | None = None,
) -> None:
    """OPTIMIZE each subtable toward ``target_file_bytes`` through the
    lake's atomic pointer swap — same rows, fewer files; queries served
    meanwhile keep their files for the lake's reader grace. ``per_table``
    adds layout kwargs for tables whose clustering must be REBUILT rather
    than file-merged (e.g. the ANN vectors table's ``cluster_by`` +
    ``min_files`` parallelism floor)."""
    per_table = per_table or {}
    for t in subtables:
        compact(
            spark,
            os.path.join(index_dir, t),
            target_file_bytes=target_file_bytes,
            **per_table.get(t, {}),
        )


def reclaim_by_mode(*dirs: str) -> None:
    """Reclaim run-scoped result dirs under the materialization-mode
    rule (module docstring): eager modes own their data — drop now;
    lazy modes still read the files — defer to interpreter exit.

    Known benign noise on the eager path: when AQE short-circuits a
    query to an empty result (empty/degenerate lakes), an already-queued
    broadcast-stage job can outlive the action, read the just-reclaimed
    dir, and log one FAILED_READ_FILE ERROR — the action's result is
    already computed and correct (reproduced identically across rounds;
    the aborted job is orphaned, not load-bearing)."""
    if current_mode() in ("localCheckpoint", "checkpoint"):
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    else:
        for d in dirs:
            atexit.register(shutil.rmtree, d, ignore_errors=True)
