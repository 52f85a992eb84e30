"""Cross-table atomic commit: one manifest, N tables, all-or-nothing.

The lake's OCC layer (``lake.py``) serializes writers PER TABLE, but a
fact+view pair still committed as two independent pointers — a reader
between the two commits saw fact advanced and the view stale. The
reference has the same per-table-snapshot limitation (SURVEY §4.2:
hotswap is per table, ``postgres.rb:93-106`` renames one table per
transaction); this module retires it instead of inheriting it.

Design — the standard multi-table metadata transaction reduced to this
layer's filesystem minimum (Iceberg's catalog-level multi-table commit /
Delta's planned txn log unification have the same shape):

  - a TABLE GROUP is a directory holding member lake tables plus one
    ``_MANIFEST`` file mapping each member to its full merge-on-read
    state: ``{name: {"snapshot": <snap>, "deltas": [<delta>, …]}}``;
  - writers mutate member tables with the ordinary lake writers (their
    per-table commits stay invisible to GROUP readers), then publish ALL
    post states in ONE atomic manifest replace under ONE group lock,
    with a CAS against the manifest state the transaction was computed
    from (``GroupConflict`` on interleave — detect, never lose);
  - readers call ``read_group`` ONCE per transaction: it resolves the
    manifest in a single read and pins every member to that resolution
    (``read_current_with_deltas(snapshot=…, names=…)``), so a mixed
    fact-new/view-old observation is structurally impossible — the
    atomicity point is the one ``os.replace``, exactly like the
    single-table pointer.

Crash anywhere before the manifest replace leaves group readers on the
old consistent state; the half-applied per-table writes are invisible to
them and converge on replay (MOR newest-wins for data/tombstone deltas,
the cascade fold's commit watermark for the aggregate — the repo's
standing at-least-once discipline). Retention: a snapshot or delta the
previous manifest pins is retired by a member's later commit, and the
lake's reader grace (``lake.GRACE_S``) keeps it for a reader holding
that manifest; ``vacuum_group`` ends the grace without reaping a pin.

Single-table readers of a member table see its per-table commits as they
land (fresher than the manifest, possibly mixed across tables) — the
atomic contract holds for manifest-resolved readers, which is what the
serving path uses. This mirrors Iceberg: cross-table consistency lives
at the catalog, per-table readers are per-table consistent.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from pgcp_spark.sources.lake import (
    _append_log_line,
    _atomic_write,
    _commit_lock,
    current_snapshot,
    delta_names,
    read_current_with_deltas,
    read_snapshot,
)

MANIFEST = "_MANIFEST"
MANIFEST_LOG = "_MANIFEST_LOG"  # round 12: every committed manifest,
# appended "<epoch>\t<json>" under the group lock — time travel for
# TRANSACTIONS (read_group_as_of), the group-level twin of _COMMITS.
# Torn-line-safe exactly like commit_times: a crash mid-append leaves an
# unparsable tail the parser skips; the _MANIFEST pointer stays
# authoritative for the CURRENT state.
TXN = "_txn"  # monotonic commit counter inside the manifest: makes every
# group commit observable to the CAS even when the published table states
# are bytewise identical to the previous ones


class GroupConflict(RuntimeError):
    """The group manifest moved past the transaction's expected state —
    recompute against the new manifest and retry (the ``CommitConflict``
    contract, lifted to the group)."""


def _manifest_path(group_dir: str) -> str:
    return os.path.join(group_dir, MANIFEST)


def group_state(group_dir: str) -> dict:
    """The committed manifest: ``{name: {"snapshot": …, "deltas": […]}}``,
    ``{}`` before the first group commit. ONE read — the snapshot of the
    whole group a transaction reads or CASes against."""
    try:
        with open(_manifest_path(group_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def table_state(group_dir: str, name: str) -> dict:
    """A member table's LIVE merge-on-read state (per-table pointer +
    delta log), in manifest form — what ``commit_group`` publishes after
    the transaction's per-table writes have landed."""
    tdir = os.path.join(group_dir, name)
    return {
        "snapshot": current_snapshot(tdir),
        "deltas": delta_names(tdir),
    }


def commit_group(
    group_dir: str,
    tables: dict[str, dict] | None = None,
    expect: dict | None = None,
) -> dict:
    """Atomically publish the post states of the group's member tables.

    ``tables`` maps member name → manifest-form state (default: capture
    every already-listed member's live state plus any new dirs the
    caller names — pass explicitly to control exactly what publishes).
    ``expect`` is the manifest the transaction was computed against
    (``group_state`` at read time); if another group commit landed in
    between, ``GroupConflict`` raises and nothing publishes. ``expect``
    omitted → unconditional (single-writer groups).

    The commit is ONE ``os.replace`` of the manifest under the group's
    commit lock — N tables, one atomicity point. Returns the committed
    manifest.

    The default capture (``tables=None``) reads every member's live state
    INSIDE the group commit lock, so the published states are all taken at
    one serialized point — capturing them outside would let racing
    per-table writers produce a manifest mixing pre- and post-transaction
    states across members. Note the lock serializes the CAPTURE, not the
    per-table writers themselves: a multi-writer group whose transactions
    must publish exactly the states they wrote passes explicit ``tables``
    (+ ``expect``), the shape ``occ_commit_group`` drives."""
    with _commit_lock(group_dir):
        if tables is None:
            tables = {
                name: table_state(group_dir, name)
                for name in group_state(group_dir)
                if not name.startswith("_")
            }
        if expect is not None and group_state(group_dir) != expect:
            raise GroupConflict(
                f"{group_dir}: manifest moved past the transaction's snapshot"
            )
        new = dict(group_state(group_dir))
        new.update(tables)
        new[TXN] = int(new.get(TXN, 0)) + 1
        _atomic_write(_manifest_path(group_dir), json.dumps(new, sort_keys=True))
        # history sidecar: appended under the same lock, so log order ==
        # commit order == timestamp order (the _COMMITS discipline);
        # torn-tail-healing append so a crash mid-append can't glue the
        # next record onto a digit-ending fragment and forge a parseable
        # line with a garbage timestamp (_append_log_line docstring)
        _append_log_line(
            os.path.join(group_dir, MANIFEST_LOG),
            f"{time.time():.6f}\t{json.dumps(new, sort_keys=True)}",
        )
        return new


def manifest_history(group_dir: str) -> list[tuple[float, dict]]:
    """(commit epoch, manifest) pairs in commit order — every group
    commit ever made. Torn trailing lines (crash mid-append) are
    skipped, and the current ``_MANIFEST`` pointer stays AUTHORITATIVE:
    a crash between the manifest replace and the log append (or a torn
    append) would otherwise lose the newest committed transaction from
    history while it is live as the current state — so, exactly like
    ``lake.history()``, the committed manifest is reconciled in (best-
    effort timestamped from the manifest file's mtime) whenever its
    ``_txn`` counter is ahead of the log's newest entry. Groups whose
    log predates the history feature get a one-entry reconciled
    history the same way."""
    path = os.path.join(group_dir, MANIFEST_LOG)
    out = []
    if os.path.exists(path):
        for line in open(path).read().splitlines():
            if not line.strip():
                continue
            try:
                ts, payload = line.split("\t", 1)
                out.append((float(ts), json.loads(payload)))
            except ValueError:
                continue
    current = group_state(group_dir)
    if current:
        last_txn = int(out[-1][1].get(TXN, 0)) if out else 0
        if int(current.get(TXN, 0)) > last_txn:
            try:
                ts = os.path.getmtime(_manifest_path(group_dir))
            except OSError:
                ts = None
            # the reconciled entry is the NEWEST commit, so its timestamp
            # must respect the log's time-ordering invariant that
            # read_group_as_of relies on: clamp to at least the log tail
            # (an mtime can lag the tail when the log append raced the
            # replace), and when NO plausible timestamp exists (empty log
            # + unreadable mtime) skip the entry rather than invent 0.0 —
            # a 0.0 tail would serve the newest state for an as_of BEFORE
            # the group's first commit instead of raising.
            if out:
                ts = max(ts if ts is not None else 0.0, out[-1][0])
            if ts is not None:
                out.append((ts, current))
    return out


def read_group_as_of(
    spark: SparkSession,
    group_dir: str,
    keys: dict[str, list[str]],
    as_of: float,
) -> dict[str, DataFrame]:
    """Time travel for TRANSACTIONS: serve every requested member pinned
    to the newest manifest committed at or before ``as_of`` (unix epoch
    seconds) — the group-level ``read_as_of``. All-or-nothing exactly
    like ``read_group``: one historical manifest resolution, so the
    returned members are mutually consistent AS OF that commit. Raises
    if no group commit predates ``as_of``, or (from the snapshot reads)
    if the governing pins were vacuumed past ``vacuum_group``'s
    ``history_keep`` window — the retention contract."""
    hist = manifest_history(group_dir)
    eligible = [(t, m) for t, m in hist if t <= as_of]
    if not eligible:
        raise FileNotFoundError(
            f"{group_dir}: no group commit at or before {as_of} "
            f"(earliest: {hist[0][0] if hist else 'none'})"
        )
    return read_group(spark, group_dir, keys, state=eligible[-1][1])


def read_group(
    spark: SparkSession,
    group_dir: str,
    keys: dict[str, list[str]],
    state: dict | None = None,
) -> dict[str, DataFrame]:
    """Resolve the manifest ONCE and serve every requested member pinned
    to that resolution — the all-or-nothing read. ``keys`` maps member
    name → its merge-on-read key (the ``read_current_with_deltas``
    contract); a member with no pending deltas in the manifest reads its
    pinned snapshot directly. ``state`` reuses an already-fetched
    ``group_state`` (a transaction that must read AND CAS against the
    same snapshot passes it to both)."""
    st = group_state(group_dir) if state is None else state
    out: dict[str, DataFrame] = {}
    for name, key in keys.items():
        if name not in st:
            raise KeyError(f"{name!r} not in group manifest {group_dir}")
        pin = st[name]
        tdir = os.path.join(group_dir, name)
        if pin["deltas"]:
            out[name] = read_current_with_deltas(
                spark, tdir, key, snapshot=pin["snapshot"], names=pin["deltas"]
            )
        else:
            out[name] = read_snapshot(spark, tdir, pin["snapshot"])
    return out


_GROUP_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2
    FROM orders WHERE o_orderkey % 5 = 0
),
postdim AS (SELECT c_custkey, c_name, c_mktsegment FROM customer)
SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, d.c_name, d.c_mktsegment
FROM postfact f JOIN postdim d ON f.o_custkey = d.c_custkey
ORDER BY f.o_orderkey
"""


_ASOF_HISTORY_ORACLE = """
SELECT
    o.o_orderkey,
    o.o_custkey,
    CAST(o.o_orderkey % 3 + 1 AS INTEGER) AS epoch,
    c.c_name,
    CASE
        WHEN o.o_orderkey % 3 + 1 >= 3 AND c.c_custkey % 3 = 0 THEN 'SEG3'
        WHEN o.o_orderkey % 3 + 1 >= 2 AND c.c_custkey % 2 = 0 THEN 'SEG2'
        ELSE c.c_mktsegment
    END AS seg_asof
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_orderkey
"""


def _register_group_query() -> None:
    """Deferred: registry + the lake writers import at call time to keep
    this module's import graph one-directional."""
    from pgcp_spark.indexes.loop import reclaim_by_mode
    from pgcp_spark.plans.materialize import materialize
    from pgcp_spark.registry import register
    from pgcp_spark.sources import load_table
    from pgcp_spark.sources.lake import merge_cdc_delta, read_current, write_snapshot
    from pgcp_spark.sources.view_maintenance import fold_join_view, standard_cdc_batch

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    @register(
        "lake_atomic_group_commit_orders",
        oracle=_GROUP_VIEW_ORACLE,
        doc=(
            "cross-table atomic commit: a fact CDC batch (merge-on-read) and its "
            "join-view fold publish as ONE manifest replace — the group reader "
            "resolves fact+view from a single manifest read, so the returned view "
            "is the transaction's all-or-nothing state; oracle recomputes the "
            "join from the post fact state"
        ),
    )
    def lake_atomic_group_commit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end group transaction on driver-checkable data: group =
        {fact, dim, view} with fact = orders %3≠0 and view = fact ⋈
        customer; one transaction lands the standard CDC batch on the
        fact as MOR deltas, folds the view from the pending feed, and
        publishes both post states in one ``commit_group`` CAS; the
        result is served through ``read_group`` — the manifest-pinned,
        torn-read-impossible path the race test pins."""
        from pgcp_spark.sources.lake import pending_changes, read_current_with_deltas

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        dim = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
        base_fact = orders.filter(F.col("o_orderkey") % 3 != 0)
        gdir = tempfile.mkdtemp(prefix="pgcp_txn_group_")
        try:
            from pgcp_spark.plans.overlap import overlap

            view0 = base_fact.join(
                dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
            ).select(
                "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"
            )
            overlap(  # three independent member tables (§2.6); the group
                # manifest commit below needs all three states — after join
                lambda: write_snapshot(base_fact, gdir + "/fact"),
                lambda: write_snapshot(dim, gdir + "/dim"),
                lambda: write_snapshot(
                    view0, gdir + "/view", cluster_by=["o_custkey"]
                ),
            )
            snap0 = commit_group(
                gdir, {n: table_state(gdir, n) for n in ("fact", "dim", "view")}
            )

            # --- ONE transaction: fact CDC + view fold, one publish ---
            merge_cdc_delta(
                spark, gdir + "/fact", standard_cdc_batch(orders), key=["o_orderkey"]
            )
            fold_join_view(
                spark,
                gdir + "/view",
                view_key=["o_orderkey"],
                fact_feed=pending_changes(spark, gdir + "/fact", key=["o_orderkey"]),
                dim_feed=None,
                dim_current=read_current(spark, gdir + "/dim"),
                fact_join_col="o_custkey",
                dim_join_col="c_custkey",
            )
            commit_group(
                gdir,
                {n: table_state(gdir, n) for n in ("fact", "view")},
                expect=snap0,
            )
            pinned = read_group(
                spark, gdir, {"view": ["o_orderkey"], "fact": ["o_orderkey"]}
            )
            result = materialize(pinned["view"].orderBy("o_orderkey"))
        except BaseException:
            shutil.rmtree(gdir, ignore_errors=True)
            raise
        reclaim_by_mode(gdir)
        return result

    @register(
        "lake_asof_join_manifest_history",
        oracle=_ASOF_HISTORY_ORACLE,
        doc=(
            "SCD2-style as-of join over the group-manifest history: three dim "
            "versions land as three group commits, each fact row resolves the "
            "dimension AS OF its epoch's commit via manifest_history timestamps "
            "+ read_group_as_of — the lakehouse twin of "
            "scd2_point_in_time_lookup; oracle recomputes the per-epoch dim "
            "state with a CASE ladder"
        ),
    )
    def lake_asof_join_manifest_history(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Time travel for TRANSACTIONS as an operator (round 13): the
        dim lake takes three committed versions (v1 = customer as
        loaded; v2 upserts %2==0 to segment 'SEG2'; v3 upserts %3==0 to
        'SEG3' — MOR deltas, one group commit each, strictly increasing
        log timestamps), and each fact row joins the dim AS OF its
        epoch's commit: epoch i = ``manifest_history``'s i-th entry,
        resolved through ``read_group_as_of`` so the served dim is the
        manifest-pinned historical state, not a reconstruction. The
        union of the three epoch joins is one plan — three broadcast-
        able dim versions against disjoint fact slices — and the driver
        hash proves the historical manifests serve EXACTLY the per-
        commit states the CASE-ladder oracle recomputes."""
        import time

        from pgcp_spark.sources.lake import merge_cdc_delta

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        dim = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment"
        )
        gdir = tempfile.mkdtemp(prefix="pgcp_txn_asof_")
        try:
            write_snapshot(dim, gdir + "/dim")
            snap = commit_group(gdir, {"dim": table_state(gdir, "dim")})
            for mod, seg in ((2, "SEG2"), (3, "SEG3")):
                # the log's time-ordering invariant is float-timestamp
                # granular; a pause keeps the three commits' as-of
                # boundaries unambiguous
                time.sleep(0.02)
                ups = (
                    dim.filter(F.col("c_custkey") % mod == 0)
                    .withColumn("c_mktsegment", F.lit(seg))
                    .withColumn("_op", F.lit("upsert"))
                )
                merge_cdc_delta(spark, gdir + "/dim", ups, key=["c_custkey"])
                snap = commit_group(
                    gdir, {"dim": table_state(gdir, "dim")}, expect=snap
                )
            hist = manifest_history(gdir)
            assert len(hist) == 3, hist
            legs = []
            for epoch, (ts, _manifest) in enumerate(hist, start=1):
                dim_asof = read_group_as_of(
                    spark, gdir, {"dim": ["c_custkey"]}, ts
                )["dim"]
                legs.append(
                    orders.filter(F.col("o_orderkey") % 3 == epoch - 1)
                    .withColumn("epoch", F.lit(epoch).cast("int"))
                    .join(
                        dim_asof.withColumnRenamed("c_custkey", "o_custkey"),
                        on="o_custkey",
                    )
                    .select(
                        "o_orderkey",
                        "o_custkey",
                        "epoch",
                        "c_name",
                        F.col("c_mktsegment").alias("seg_asof"),
                    )
                )
            out = legs[0]
            for leg in legs[1:]:
                out = out.unionByName(leg)
            result = materialize(out.orderBy("o_orderkey"))
        except BaseException:
            shutil.rmtree(gdir, ignore_errors=True)
            raise
        reclaim_by_mode(gdir)
        return result


_register_group_query()


def occ_commit_group(
    group_dir: str,
    compute,
    retries: int = 5,
) -> dict:
    """Group commit under optimistic concurrency — the ``occ_upsert``
    retry loop lifted to the manifest. ``compute(state)`` receives the
    manifest the attempt reads and must perform the transaction's
    per-table writes against that state, returning the ``tables`` dict
    to publish (it re-runs per attempt, so it must be replay-convergent —
    every lake writer used in this repo's transactions is: MOR deltas
    shadow their twins, the cascade fold skips via its watermark).
    Returns the committed manifest; raises ``GroupConflict`` after
    ``retries`` conflicted attempts."""
    last: GroupConflict | None = None
    for _ in range(max(1, retries)):
        state = group_state(group_dir)
        tables = compute(state)
        try:
            return commit_group(group_dir, tables, expect=state)
        except GroupConflict as exc:
            last = exc
            continue
    raise GroupConflict(
        f"{group_dir}: gave up after {retries} conflicted attempts"
    ) from last


def vacuum_group(
    group_dir: str,
    keep: int = 1,
    orphan_min_age_s: float = 3600.0,
    history_keep: int = 1,
) -> dict[str, list[str]]:
    """Vacuum every member table while PROTECTING the states the
    committed manifest pins — the retention companion the group contract
    needs: per-table vacuum/GC knows nothing about the manifest, and a
    group reader may lag the per-table pointer by design, so reclaiming
    history through this entry point (instead of per-table ``vacuum``)
    is what keeps ``read_group`` safe past the keep window.

    ``history_keep`` (round 12) extends the protection to the pins of
    the newest N LOGGED manifests, so ``read_group_as_of`` stays
    servable over the retained transaction window (the current manifest
    is always protected — it is the log's newest entry by construction,
    and is protected directly as well for groups whose log predates the
    history feature). Returns {member: removed names}."""
    from pgcp_spark.sources.lake import vacuum

    protect_by_member: dict[str, set[str]] = {}

    def _pin(manifest: dict) -> None:
        for name, pin in manifest.items():
            if name.startswith("_"):
                continue
            protect_by_member.setdefault(name, set()).update(
                {pin["snapshot"], *pin["deltas"]}
            )

    _pin(group_state(group_dir))
    for _, manifest in manifest_history(group_dir)[-max(1, history_keep):]:
        _pin(manifest)
    out: dict[str, list[str]] = {}
    for name, protect in protect_by_member.items():
        tdir = os.path.join(group_dir, name)
        if not os.path.isdir(tdir):
            continue  # a logical member (tests register bare states)
        out[name] = vacuum(
            tdir,
            keep=keep,
            orphan_min_age_s=orphan_min_age_s,
            protect=protect,
        )
    return out
