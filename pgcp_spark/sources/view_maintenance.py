"""Incremental maintenance of a materialized JOIN view (round 10).

The lakehouse layer already maintains persisted AGGREGATES from a change
feed without rescanning the fact table (``change_feed._run_incremental_agg``
— insert/postimage adds, delete/preimage subtracts). This module completes
the incremental-view-maintenance (IVM) story for the other workhorse view
shape: a materialized equi-JOIN ``V = fact ⋈ dim``, maintained from BOTH
base tables' change feeds with the classic delta-join decomposition

    ΔV  =  Δfact ⋈ dim_post   ∪   (V ⋉ Δdim refreshed)

applied in dim-then-fact order so every fact-touched key is rebuilt
against the POST dim state (a key appearing in both arms resolves to the
fact arm — it commits later and the delta layer's newest-wins rule keeps
exactly that row). Neither arm ever rescans a base table:

  - the FACT arm joins only the feed's batch-sized post rows against the
    current dim (AQE promotes to broadcast for dimension-sized right
    sides); deletes propagate as O(keys) tombstones;
  - the DIM arm finds affected view rows from the VIEW ITSELF — the
    materialized join is the index that answers "which fact rows point at
    this dim key" without touching the fact table. When the dim delta is
    small (the overwhelmingly common shape — probed with a bounded
    ``limit(n).count()``, never a full count), its key list is pushed as
    an IN filter into the view scan, so a view laid out CLUSTER BY the
    dim key reads only affected files (footer min/max skipping — the
    same pushed-IN + layout contract as the BM25 postings reads).

All view mutations land MERGE-ON-READ (``append_delta`` /
``delete_delta`` for the dim arm, one ``merge_cdc_delta`` for the fact
arm): the view's base snapshot is never rewritten by a fold,
making maintenance O(changed rows) end to end; ``flatten_deltas`` applies
them physically on the compaction cadence exactly like the index
families. At 100 TB this is the shape that keeps a denormalized serving
table fresh for the price of the CDC batch, not the join.

Public method anchors: delta-join IVM is textbook (Blakeley et al.
SIGMOD'86 "Efficiently Updating Materialized Views"; DBSP/Materialize are
the modern engines of the same rule). Reference anchor: none — the
reference has no views; this extends its O15 materialize-query seam.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.indexes.loop import reclaim_by_mode
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.plans.overlap import overlap
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table
from pgcp_spark.sources.lake import (
    append_delta,
    current_snapshot,
    delete_delta,
    flatten_deltas,
    merge_cdc,
    merge_cdc_delta,
    pending_changes,
    pending_state,
    read_current,
    read_current_with_deltas,
    snapshot_meta,
    table_changes,
    unapplied_changes,
    upsert,
    write_snapshot,
)

# Above this many distinct dim-delta keys the pushed-IN literal list stops
# paying (giant IN lists bloat codegen and the filter no longer prunes
# meaningfully); the fold then falls back to the plain keyed join and lets
# AQE pick the strategy. Probed with limit(n+1).count() — bounded work on
# an arbitrarily large delta, the ANN_LEG_EXACT_BELOW probe discipline.
VIEW_DIM_PUSHDOWN_MAX = 1024

_POST_TYPES = ("insert", "update_postimage")


def _collected_keys(keys_df: DataFrame) -> list | None:
    """Bounded driver-side key-list probe: ONE ``limit(n+1).collect()``
    job both sizes the list and delivers it (guide §1.2 — this runs
    inside every fold); the ≤1025 collected single-column rows dedup
    driver-side, NULLs dropped (NULL never matches an IN list or a key
    join). Returns the sorted values when they fit the bound, else None —
    the caller then falls back to the distributed join path, so an
    arbitrarily large delta never collects or counts fully."""
    rows = keys_df.limit(VIEW_DIM_PUSHDOWN_MAX + 1).collect()
    if len(rows) > VIEW_DIM_PUSHDOWN_MAX:
        return None
    return sorted({r[0] for r in rows} - {None})


def _pruned_by_keys(df: DataFrame, col: str, keys_df: DataFrame) -> DataFrame:
    """Push ``col IN (keys)`` into ``df``'s scans when the key list is
    small (bounded ``limit(n+1)`` probe — never a full count or shuffle of
    an arbitrarily large delta), else return ``df`` unfiltered and let the
    downstream join handle selection. The pushed IN reaches the parquet
    footers of the base AND any pending delta scans (plan-pinned in
    tests/test_view_maintenance.py), so a table laid out CLUSTER BY
    ``col`` reads only affected files."""
    keys = _collected_keys(keys_df)
    if not keys:  # unbounded (None) or empty — decline the pushdown
        return df
    return df.filter(F.col(col).isin(keys))


def fold_join_view(
    spark: SparkSession,
    view_dir: str,
    view_key: list[str],
    fact_feed: DataFrame | None,
    dim_feed: DataFrame | None,
    dim_current: DataFrame,
    fact_join_col: str,
    dim_join_col: str,
    fact_current: DataFrame | None = None,
) -> None:
    """Fold one maintenance cycle of ``V = fact ⋈_{fact_join_col =
    dim_join_col} dim`` into the view at ``view_dir`` (keyed by
    ``view_key``, the fact's primary key) from the two change feeds.

    ``fact_feed`` / ``dim_feed`` are ``lake.table_changes`` frames (either
    may be None when that side didn't change); ``dim_current`` is the POST
    dim state. Dim arm first, fact arm second — commit order makes the
    fact arm win on keys both arms touch (see module docstring).

    ``fact_current`` is required only when the dim feed carries INSERTS:
    an inserted dim key can give pre-existing fact rows a join partner
    they never had, and those rows are invisible to the view (the inner
    join dropped them) — the one delta-join arm that genuinely needs a
    fact lookup. It stays O(inserted keys) on a fact laid out CLUSTER BY
    the join key: the inserted-key list is pushed as an IN filter into
    the fact scan (same bounded-probe discipline as the dim arm).
    Omitting ``fact_current`` while the feed carries inserts raises —
    silently publishing a stale view is the one failure mode IVM exists
    to prevent.
    """
    view_cols = read_current(spark, view_dir).columns
    if dim_feed is not None:
        dim_feed = materialize(dim_feed)  # consumed by 3 arms' probes + joins
        # ONE change-type presence probe over the checkpointed feed (r14,
        # guide §1.2): replaces the dim_ins.isEmpty() job AND lets arms
        # whose change type is ABSENT from the feed skip their delta-write
        # job entirely (a feed of pure update pairs — the common dim shape
        # — used to pay a tombstone write just to discover it was empty).
        # Exactness: type-absent ⇒ that arm's frame is empty by
        # construction; type-present arms keep write-then-decide, which
        # covers the present-but-empty-after-join case.
        present = {
            r[0] for r in dim_feed.select("_change_type").distinct().collect()
        }
        arm_writes = []
        if "update_postimage" in present:
            dim_post = dim_feed.filter(
                F.col("_change_type") == "update_postimage"
            ).drop("_change_type")
            view = _pruned_by_keys(
                read_current_with_deltas(spark, view_dir, key=view_key),
                fact_join_col,
                dim_post.select(dim_join_col),
            )
            # WRITE-THEN-DECIDE on every arm (r13 optimization, guide
            # §1.2): the delta write is the arm's ONLY evaluation —
            # emptiness comes free from the written parquet footers
            # (append_delta skip_if_empty), replacing the isEmpty probe
            # that re-ran the arm's whole join pipeline before each write
            refreshed = (
                view.drop(*[c for c in dim_post.columns if c != dim_join_col])
                .join(
                    dim_post.withColumnRenamed(dim_join_col, fact_join_col),
                    on=fact_join_col,
                )
                .select(*view_cols)
            )
            arm_writes.append(
                lambda: append_delta(refreshed, view_dir, skip_if_empty=True)
            )
        # inserted dim keys: their matching fact rows are NOT in the view —
        # pruned fact lookup (docstring), pushed-IN when the key list is small
        if "insert" in present:
            if fact_current is None:
                raise ValueError(
                    "dim feed carries inserts: fold_join_view needs fact_current "
                    "to find their (view-invisible) fact matches"
                )
            dim_ins = dim_feed.filter(F.col("_change_type") == "insert").drop(
                "_change_type"
            )
            fact = _pruned_by_keys(
                fact_current, fact_join_col, dim_ins.select(dim_join_col)
            )
            matched = fact.join(
                dim_ins.withColumnRenamed(dim_join_col, fact_join_col),
                on=fact_join_col,
            ).select(*view_cols)
            arm_writes.append(
                lambda: append_delta(matched, view_dir, skip_if_empty=True)
            )
        # dim deletes orphan their fact rows out of an INNER-join view
        if "delete" in present:
            dim_dead = dim_feed.filter(F.col("_change_type") == "delete").select(
                F.col(dim_join_col).alias(fact_join_col)
            )
            arm_writes.append(
                lambda: delete_delta(
                    dim_dead, view_dir, key=[fact_join_col], skip_if_empty=True
                )
            )
        # The three dim-arm writes run CONCURRENTLY (guide §2.6): a change
        # feed carries each dim key exactly once, so the updated/inserted/
        # deleted key sets are disjoint and newest-wins MOR resolution is
        # indifferent to their relative delta-log order; the `view` frame
        # pinned its delta list at construction, so a concurrent sibling
        # commit cannot leak into the refresh read. overlap() joins all
        # three before returning — the fact arm below still commits
        # strictly after the whole dim arm (its rows must win shared keys).
        overlap(*arm_writes)
    if fact_feed is not None:
        fact_feed = materialize(fact_feed)  # consumed by three branches
        dim_renamed = dim_current.withColumnRenamed(dim_join_col, fact_join_col)
        post = fact_feed.filter(F.col("_change_type").isin(*_POST_TYPES)).drop(
            "_change_type"
        )
        rebuilt = post.join(dim_renamed, on=fact_join_col).select(*view_cols)
        # Rows that must LEAVE the view: fact deletes, plus updates/inserts
        # whose post row found no dim partner (an update can re-point at a
        # missing key). Tombstoning every touched key would also kill the
        # rebuilt rows (a tombstone kills every write at its own seq or
        # older) — and the keyed feed carries each key as exactly one of
        # insert / delete / update pre+post, so the dead set is DERIVABLE
        # without reading the rebuilt rows back: delete keys ∪ post keys
        # with NO dim partner (one batch-sized anti-join against the dim).
        # That makes the rebuilt rows and the dead keys key-disjoint, so
        # they land as ONE CDC delta (``merge_cdc_delta``: one write, one
        # log commit). NULL-join-key post rows land in `dead` (NULL
        # matches nothing in the anti-join); NULL view keys yield inert
        # tombstones (NULL matches no row).
        dels = fact_feed.filter(F.col("_change_type") == "delete").select(
            *view_key
        )
        nomatch = post.join(
            dim_renamed.select(fact_join_col), on=fact_join_col, how="left_anti"
        ).select(*view_key)
        batch = rebuilt.withColumn("_op", F.lit("upsert")).unionByName(
            dels.unionByName(nomatch).withColumn("_op", F.lit("delete")),
            allowMissingColumns=True,
        )
        merge_cdc_delta(spark, view_dir, batch, key=view_key)


# --- the fact/dim/view cycle, shared by every lake_*join_view* query -------
# One scenario, one driver: base fact = orders keys with o_orderkey % 3 != 0,
# dim = customer, view = fact ⋈ dim on custkey keyed by o_orderkey and
# written CLUSTER BY o_custkey (the dim-arm pruning layout). An aggregate
# kind maintained OVER the view is a ``ViewSpec`` (one constant per kind,
# each defined next to its fold below); the streaming driver
# (``streaming/ingest_view.py``) drives the same specs per CDC batch.

VIEW_KEY = ["o_orderkey"]
GROUP_COL = "c_mktsegment"  # every kind groups the view by segment


@dataclass(frozen=True)
class ViewSpec:
    """One aggregate kind maintained over the join view, as the drivers
    see it: the downstream ``tables`` it owns (build and commit order),
    their initial build over a view frame, the fold that advances them
    from the view's state-diff feed, and the serving projection over the
    stored ``agg`` table. Every owned table carries the
    ``applied_view_state`` watermark, so every one is re-stamped after a
    view flatten. Every kind groups by ``GROUP_COL``; the aggregated
    column is a field so a caller re-targets a kind with
    ``dataclasses.replace`` (the batch COUNT DISTINCT counts
    o_orderpriority, the streaming one c_name)."""

    tables: tuple[str, ...]
    _build: Callable[["ViewSpec", DataFrame], tuple[DataFrame, ...]]
    _fold: Callable[[SparkSession, "ViewSpec", dict[str, str]], bool]
    _serve: Callable[["ViewSpec", DataFrame], DataFrame]
    clustered: tuple[str, ...] = ()  # tables laid out CLUSTER BY GROUP_COL
    value_col: str = "o_totalprice"

    def build(self, view: DataFrame) -> dict[str, DataFrame]:
        """Each owned table's content over a view-shaped frame — the
        initial build and every test's recompute oracle."""
        return dict(zip(self.tables, self._build(self, view)))

    def fold(self, spark: SparkSession, dirs: dict[str, str]) -> bool:
        """Fold ``dirs["view"]``'s changes since the watermark into the
        owned tables at ``dirs[name]``."""
        return self._fold(spark, self, dirs)

    def serve(self, stored: DataFrame) -> DataFrame:
        """The ordered serving projection over a stored ``agg`` frame."""
        return self._serve(self, stored)


def member_dirs(
    root: str, spec: ViewSpec | None, bases: tuple[str, ...] = ("fact", "view")
) -> dict[str, str]:
    """The run's tables, one lake dir each under ``root``: ``bases`` plus
    the tables ``spec`` owns."""
    names = bases + (spec.tables if spec is not None else ())
    return {n: os.path.join(root, n) for n in names}


def write_spec_tables(
    spec: ViewSpec, view: DataFrame, dirs: dict[str, str]
) -> None:
    """Build ``spec``'s tables over ``view`` (the frame just written to
    ``dirs["view"]``) and write each stamped with the view's committed
    state — the watermark the first fold diffs from. The owned tables are
    independent of each other, so they land overlapped (§2.6)."""
    stamp = {"applied_view_state": pending_state(dirs["view"])}
    overlap(
        *[
            lambda t=t, df=df: write_snapshot(
                df,
                dirs[t],
                cluster_by=[GROUP_COL] if t in spec.clustered else None,
                meta=stamp,
            )
            for t, df in spec.build(view).items()
        ]
    )


def write_view_and_tables(
    view: DataFrame, dirs: dict[str, str], spec: ViewSpec | None
) -> None:
    """The view's base snapshot, then ``spec``'s stamped tables over it —
    chained, because the stamp reads the view's committed state."""
    write_snapshot(view, dirs["view"], cluster_by=["o_custkey"])
    if spec is not None:
        write_spec_tables(spec, view, dirs)


def serve_view_tables(
    spark: SparkSession, dirs: dict[str, str], spec: ViewSpec | None
) -> DataFrame:
    """The served result of a maintained run: the view itself, resolved
    merge-on-read, without a spec; else the spec's projection over its
    stored aggregate — always the FOLD's state, never a recompute."""
    if spec is None:
        return read_current_with_deltas(spark, dirs["view"], key=VIEW_KEY).orderBy(
            *VIEW_KEY
        )
    return spec.serve(read_current(spark, dirs["agg"]))


def standard_cdc_batch(orders: DataFrame, value: str = "o_totalprice") -> DataFrame:
    """The repo's standard CDC batch over ``orders``, with an ``_op``
    column: every 5th key an upsert, and every 7th key that is not a 5th a
    delete. Over the usual ``o_orderkey % 3 != 0`` base, a 5th key outside
    it lands as an insert and a %21 key's delete is an unmatched no-op.
    An upsert doubles ``o_totalprice``, or, when ``value`` is
    ``o_orderpriority``, reclassifies it to 'X-RECLASS'."""
    key = F.col("o_orderkey")
    new_value = (
        F.lit("X-RECLASS") if value == "o_orderpriority" else F.col("o_totalprice") * 2
    )
    ups = orders.filter(key % 5 == 0).withColumn(value, new_value)
    dels = orders.filter((key % 7 == 0) & (key % 5 != 0))
    return ups.withColumn("_op", F.lit("upsert")).unionByName(
        dels.withColumn("_op", F.lit("delete"))
    )


def _join_view_cycle(
    spark: SparkSession,
    sf_dir: str,
    spec: ViewSpec | None = None,
    mor: bool = False,
    flatten: bool = False,
) -> DataFrame:
    """One batch IVM cycle on driver-checkable data (section comment):
    set up fact, dim, view and ``spec``'s stamped tables; mutate both
    bases — the dim appends ``_R`` to every 10th customer's segment, the
    fact applies the repo's standard CDC batch (every 5th key upserted
    with doubled total — an insert where the key is outside the base —
    every 7th non-5th key deleted, the %21 keys proving the unmatched-
    delete no-op); fold the two change feeds into the view, then the
    view's feed into ``spec``'s tables; serve. The view's base snapshot
    must survive the join fold untouched (it lands as deltas only), so
    every result is served across the fold's own deltas. A spec counting
    o_orderpriority gets upserts that set it to 'X-RECLASS' instead of
    doubling o_totalprice (the fact carries the aggregated column).

    - ``mor``: both base mutations land MERGE-ON-READ (``append_delta`` /
      ``merge_cdc_delta``) and the fold consumes ``pending_changes``,
      with ``dim_current`` resolved merge-on-read too; otherwise copy-on-
      write with the snapshot-diff feed (``table_changes``), whose
      by-name read of the pre-mutation snapshots ``keep=2`` retains.
    - ``flatten``: flatten the view's deltas after the folds.

    NULL-custkey facts and childless dim keys drop out of the INNER join
    identically on both engines."""
    value = spec.value_col if spec is not None else "o_totalprice"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", value
    )
    # the join-only view serves c_name; the aggregates never read it
    if spec is None:
        dim_cols = ["c_custkey", "c_name", "c_mktsegment"]
    else:
        dim_cols = ["c_custkey", "c_mktsegment"]
    dim = load_table(spark, sf_dir, "customer").select(*dim_cols)
    base_fact = orders.filter(F.col("o_orderkey") % 3 != 0)
    root = tempfile.mkdtemp(prefix="pgcp_ivm_")
    dirs = member_dirs(root, spec, bases=("fact", "dim", "view"))
    try:
        view0 = base_fact.join(
            dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
        ).select("o_orderkey", "o_custkey", value, *dim_cols[1:])
        # fact, dim and the view chain land three INDEPENDENT table sets
        fact_snap, dim_snap, _ = overlap(
            lambda: write_snapshot(base_fact, dirs["fact"]),
            lambda: write_snapshot(dim, dirs["dim"]),
            lambda: write_view_and_tables(view0, dirs, spec),
        )
        view_base = current_snapshot(dirs["view"])

        # --- mutations on the base tables ---
        dim_updates = dim.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_mktsegment", F.concat(F.col("c_mktsegment"), F.lit("_R"))
        )
        cdc = standard_cdc_batch(orders, value)
        # the dim and fact mutations write disjoint tables — overlapped (§2.6)
        if mor:
            overlap(
                lambda: append_delta(dim_updates, dirs["dim"]),
                lambda: merge_cdc_delta(spark, dirs["fact"], cdc, key=VIEW_KEY),
            )
            fact_feed = pending_changes(spark, dirs["fact"], key=VIEW_KEY)
            dim_feed = pending_changes(spark, dirs["dim"], key=["c_custkey"])
            dim_current = read_current_with_deltas(
                spark, dirs["dim"], key=["c_custkey"]
            )
        else:
            # keep=2: table_changes below reads fact_snap and dim_snap by
            # name after these commits replace them
            overlap(
                lambda: upsert(
                    spark, dirs["dim"], dim_updates, key=["c_custkey"], keep=2
                ),
                lambda: merge_cdc(spark, dirs["fact"], cdc, key=VIEW_KEY, keep=2),
            )
            fact_feed = table_changes(spark, dirs["fact"], fact_snap, key=VIEW_KEY)
            dim_feed = table_changes(spark, dirs["dim"], dim_snap, key=["c_custkey"])
            dim_current = read_current(spark, dirs["dim"])

        # --- the cascade: base feeds → join fold → view feed → spec fold ---
        fold_join_view(
            spark,
            dirs["view"],
            view_key=VIEW_KEY,
            fact_feed=fact_feed,
            dim_feed=dim_feed,
            dim_current=dim_current,
            fact_join_col="o_custkey",
            dim_join_col="c_custkey",
        )
        if current_snapshot(dirs["view"]) != view_base:
            raise RuntimeError("IVM fold must land as deltas, not a view rewrite")
        # an EMPTY lake legitimately yields an empty feed (the fold returns
        # False) — the sf0.01 oracle hash is what proves the fold actually
        # ran and matched on real data, so no non-empty assertion here
        if spec is not None:
            spec.fold(spark, dirs)
        if flatten:
            flatten_deltas(
                spark, dirs["view"], key=VIEW_KEY, cluster_by=["o_custkey"]
            )
        result = materialize(serve_view_tables(spark, dirs, spec))
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    reclaim_by_mode(root)
    return result


_JOIN_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2
    FROM orders WHERE o_orderkey % 5 = 0
),
postdim AS (
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '_R'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
)
SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, d.c_name, d.c_mktsegment
FROM postfact f JOIN postdim d ON f.o_custkey = d.c_custkey
ORDER BY f.o_orderkey
"""


@register(
    "lake_incremental_join_view_orders",
    oracle=_JOIN_VIEW_ORACLE,
    doc=(
        "incremental materialized JOIN-view maintenance: orders ⋈ customer kept "
        "fresh from BOTH tables' change feeds by the delta-join rule (dim arm "
        "refreshes affected view rows found via the view itself + pushed-IN; fact "
        "arm rebuilds feed rows against the post dim), all mutations landing as "
        "merge-on-read deltas with the view's base snapshot untouched — oracle "
        "recomputes the join from the post state, so a hash match proves "
        "fold == recompute"
    ),
)
def lake_incremental_join_view_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_join_view_cycle`` scenario with no aggregate: the fold
    consumes ONLY the two change feeds and the stored view; the view's
    base snapshot is asserted untouched (explicit raise), so the result
    the driver hashes was served merge-on-read across the fold's own
    deltas."""
    return _join_view_cycle(spark, sf_dir)


# --- cascade IVM: aggregate OVER the maintained join view (round 11) -------
# The delta-join rule's second half (same Blakeley SIGMOD'86 lineage the
# module cites): the join fold's MOR deltas on the view ARE a change feed
# for a downstream aggregate — ``lake.pending_changes`` classifies them as
# insert / delete / update pre+post, and the signed fold (+1 post, -1 pre)
# maintains ``A = groupBy(g)(fact ⋈ dim)`` for the price of the feed,
# never rescanning the view. Exactly-once across crashes is
# ``lake.unapplied_changes``: every fold below stamps the view state id it
# consumed (``pending_state``) into its own atomic commit under
# ``applied_view_state``, so an at-least-once replay of the same feed is
# detected and skipped — the Delta txnAppId/txnVersion idiom reduced to
# this layer. Each kind is that call plus a feed-agnostic core
# (``apply_*_feed``), which the direct fact-feed twins in
# ``change_feed.py`` drive too. Protocol: the fold-then-flatten pair is the
# view's single maintenance owner (the index-loop discipline); flatten
# consumes the feed, arming the next fold.


def build_agg_over(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The stored aggregate's schema over any view-shaped frame:
    (group, exact decimal sum, non-NULL value count, row count). Shared
    by the initial build and every test's recompute oracle so the fold
    and the ground truth can't drift. NULL group keys are excluded (the
    ``_run_incremental_agg`` contract: a NULL key can't match itself
    through the keyed upsert's anti-join)."""
    from pgcp_spark.operators._decimal import dec

    zero = F.lit(0).cast("decimal(18,2)")
    return (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.coalesce(F.sum(dec(value_col, "decimal(18,2)")), zero).alias("sum_dec"),
            F.count(value_col).alias("priced_cnt"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


def serve_agg(stored: DataFrame, group_col: str) -> DataFrame:
    """The serving projection over any stored-aggregate frame: groups
    folded down to zero rows drop out; a group whose every value is NULL
    serves a NULL sum (ANSI sum-over-nothing, carried through the fold
    by priced_cnt). Factored from ``read_agg`` so manifest-pinned group
    reads (``txn.read_group``) serve the identical shape."""
    return stored.filter(F.col("order_cnt") > 0).select(
        group_col,
        F.when(F.col("priced_cnt") > 0, F.col("sum_dec").cast("double")).alias(
            f"sum_{group_col.split('_', 1)[-1]}_total"
        ),
        "order_cnt",
    )


def read_agg(spark: SparkSession, agg_dir: str, group_col: str) -> DataFrame:
    """Serve the stored aggregate from its lake table (``serve_agg``)."""
    return serve_agg(read_current(spark, agg_dir), group_col)


def fold_agg_join_view(
    spark: SparkSession,
    agg_dir: str,
    view_dir: str,
    view_key: list[str],
    group_col: str,
    value_col: str,
) -> bool:
    """Fold the view's changes SINCE THE LAST FOLD into the stored
    aggregate at ``agg_dir``: the ``applied_view_state`` watermark
    protocol (``lake.unapplied_changes``) plus the signed core
    ``apply_agg_feed``. The watermark makes the fold compose across many
    view folds WITHOUT requiring a flatten in between; an at-least-once
    replay of the same state is skipped (returns False; True after a fold
    commits), and a missing or GC'd watermark REFUSES — the signed fold
    is not idempotent. (The round-11 "legacy bootstrap" fold-the-full-feed
    path is gone — it was indistinguishable from the silent-corruption
    case.)

    After a FLATTEN of the view, call ``stamp_applied_state`` — the
    flatten preserves data, but the state id changes, and re-stamping
    keeps the next fold on the prefix-pruned (batch-sized) path instead
    of the full-diff fallback.
    """
    got = unapplied_changes(spark, view_dir, agg_dir, view_key, "applied_view_state")
    if got is None or got[1].isEmpty():
        return False
    state, feed = got
    apply_agg_feed(
        spark, agg_dir, feed, group_col, value_col,
        meta={"applied_view_state": state},
    )
    return True


def apply_agg_feed(
    spark: SparkSession,
    agg_dir: str,
    feed: DataFrame,
    group_col: str,
    value_col: str,
    meta: dict | None = None,
) -> None:
    """The signed fold's core, independent of where the change feed came
    from — ``fold_agg_join_view`` drives it from a maintained view's
    state diff, the direct twins (``change_feed._run_incremental_agg``)
    from the fact's snapshot diff. insert/update_postimage add the row,
    delete/update_preimage subtract it (``build_agg_over``'s schema). A
    NULL value adds 0 to ``sum_dec`` but is tracked by ``priced_cnt``, so
    "SUM over only NULLs is NULL" (ANSI) survives the fold — the nulls
    lake caught the version that conflated sum-of-nothing with
    sum-of-zero. ``meta`` lands on the commit.

    Scale: the signed delta aggregate is one feed-sized shuffle on
    ``group_col``; one full-outer join against the stored aggregate
    (group-cardinality-sized) adds the deltas to touched groups and
    carries untouched ones over at +0, and the result is the new
    snapshot — the feed is planned once, not again by an upsert's
    anti-join and union."""
    from pgcp_spark.operators._decimal import dec

    zero = F.lit(0).cast("decimal(18,2)")
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = (
        feed.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.coalesce(
                F.sum(sign * F.coalesce(dec(value_col, "decimal(18,2)"), zero)), zero
            ).alias("d_sum"),
            F.sum(sign * F.col(value_col).isNotNull().cast("int")).alias("d_priced"),
            F.sum(sign).alias("d_cnt"),
        )
    )
    stored = read_current(spark, agg_dir)
    merged = stored.join(deltas, group_col, "full_outer").select(
        group_col,
        (F.coalesce(F.col("sum_dec"), zero) + F.coalesce(F.col("d_sum"), zero))
        .cast("decimal(18,2)")
        .alias("sum_dec"),
        (F.coalesce(F.col("priced_cnt"), F.lit(0))
         + F.coalesce(F.col("d_priced"), F.lit(0))).alias("priced_cnt"),
        (F.coalesce(F.col("order_cnt"), F.lit(0))
         + F.coalesce(F.col("d_cnt"), F.lit(0))).alias("order_cnt"),
    )
    write_snapshot(merged, agg_dir, meta=meta)


def stamp_applied_state(
    spark: SparkSession, agg_dir: str, view_dir: str
) -> None:
    """Re-anchor the aggregate's watermark to the view's CURRENT state id
    without changing a row — called after a view flatten (which preserves
    data but renames the state). One atomic commit of the (small,
    group-cardinality-sized) aggregate table carrying the new meta; the
    next fold then diffs from a state that EXTENDS cheaply instead of
    crossing the flatten into the full-diff fallback."""
    write_snapshot(
        read_current(spark, agg_dir),
        agg_dir,
        meta={"applied_view_state": pending_state(view_dir)},
    )


AGG_SPEC = ViewSpec(
    tables=("agg",),
    _build=lambda s, view: (build_agg_over(view, GROUP_COL, s.value_col),),
    _fold=lambda spark, s, d: fold_agg_join_view(
        spark, d["agg"], d["view"], VIEW_KEY, GROUP_COL, s.value_col
    ),
    _serve=lambda s, stored: serve_agg(stored, GROUP_COL).orderBy(GROUP_COL),
)


# --- MIN/MAX in the cascade fold (round 12) ---------------------------------
# The signed fold above covers the sum/count/avg family; MIN/MAX — the
# other half of every serving dashboard — cannot fold under deletes (a
# retracted group minimum needs evidence the fold doesn't carry). The
# standard split (Palpanas et al. VLDB'02 call these non-distributive
# aggregates "unaffectable" by deletes; self-maintainable views fold only
# inserts): INSERTS fold via least/greatest against the stored value;
# a REMOVAL (delete / update_preimage) forces a rescan ONLY when the
# removed value TIES the stored min or max — any other removed value v
# satisfies min < v < max and cannot move either bound. The rescan reads
# exactly the affected groups from the MAINTAINED VIEW (pushed-IN via the
# same bounded-probe discipline as the dim arm), never the base tables.


def build_minmax_over(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The stored MIN/MAX aggregate's schema over any view-shaped frame:
    (group, exact decimal min, exact decimal max, row count). Shared by
    the initial build, the fold's rescan arm, and every test's recompute
    oracle so they can't drift. NULL group keys are excluded (the keyed-
    upsert contract, as in ``build_agg_over``); NULL values never
    participate in min/max (ANSI)."""
    from pgcp_spark.operators._decimal import dec

    return (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.min(dec(value_col, "decimal(18,2)")).alias("min_dec"),
            F.max(dec(value_col, "decimal(18,2)")).alias("max_dec"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
    )


def serve_minmax(stored: DataFrame, group_col: str) -> DataFrame:
    """The serving projection over any stored MIN/MAX frame: groups
    folded down to zero rows drop out; a group whose every value is NULL
    serves NULL bounds (ANSI min/max-over-nothing, carried naturally —
    both the fold's least/greatest and the rescan's min/max skip NULLs).
    Factored from ``read_minmax_agg`` (round 13) so manifest-pinned group
    reads (``txn.read_group``) serve the identical shape — the
    ``serve_agg`` discipline applied to the MIN/MAX twin."""
    return stored.filter(F.col("order_cnt") > 0).select(
        group_col,
        F.col("min_dec").cast("double").alias("min_total"),
        F.col("max_dec").cast("double").alias("max_total"),
        "order_cnt",
    )


def read_minmax_agg(spark: SparkSession, agg_dir: str, group_col: str) -> DataFrame:
    """Serve the stored MIN/MAX aggregate from its lake table
    (``serve_minmax``)."""
    return serve_minmax(read_current(spark, agg_dir), group_col)


def minmax_rescan_groups(stored: DataFrame, deltas: DataFrame, group_col: str):
    """The rescan decision, factored for the pin in tests: join the
    per-group feed stats onto the stored bounds and return
    ``(touched, rescan_flag_column)`` where the flag is TRUE exactly for
    groups whose removal set could have held the stored min or max:

      - a removed value ≤ stored min (equality in a consistent state —
        nothing below the true min exists to remove; ≤ keeps the check
        safe under duplicates and drift) endangers the min;
      - symmetrically ≥ stored max endangers the max;
      - removals against a group the store has NO row for (min/max NULL
        with a non-NULL removal) rescan defensively — the fold cannot
        prove anything about a group it has no evidence for.

    Groups with only inserts, or whose removals sit strictly inside the
    (min, max) interval, fold without touching the view."""
    touched = stored.join(deltas, group_col, "right_outer")
    min_hit = F.col("rm_min").isNotNull() & (
        F.col("min_dec").isNull() | (F.col("rm_min") <= F.col("min_dec"))
    )
    max_hit = F.col("rm_max").isNotNull() & (
        F.col("max_dec").isNull() | (F.col("rm_max") >= F.col("max_dec"))
    )
    return touched, (min_hit | max_hit)


def fold_minmax_join_view(
    spark: SparkSession,
    agg_dir: str,
    view_dir: str,
    view_key: list[str],
    group_col: str,
    value_col: str,
) -> bool:
    """Fold the view's changes since the last fold into the stored
    per-group MIN/MAX aggregate at ``agg_dir`` — the cascade fold for the
    non-signed half of the dashboard: the ``applied_view_state``
    watermark protocol (``lake.unapplied_changes``, as in
    ``fold_agg_join_view``, so the two folds compose over one maintained
    view) plus the core ``apply_minmax_feed``, whose rescan arm reads the
    maintained view at exactly the watermarked state (the single-
    maintenance-owner invariant). The base tables are never read; the
    rescan is measured against full recompute in ``tools/fold_ab.py
    minmax`` (SCALE.md r12)."""
    got = unapplied_changes(spark, view_dir, agg_dir, view_key, "applied_view_state")
    if got is None or got[1].isEmpty():
        return False
    state, feed = got
    apply_minmax_feed(
        spark, agg_dir, feed, group_col, value_col,
        rescan_source=lambda: read_current_with_deltas(spark, view_dir, key=view_key),
        meta={"applied_view_state": state},
    )
    return True


def apply_minmax_feed(
    spark: SparkSession,
    agg_dir: str,
    feed: DataFrame,
    group_col: str,
    value_col: str,
    rescan_source: Callable[[], DataFrame],
    meta: dict | None = None,
) -> None:
    """The MIN/MAX fold's core, independent of where the change feed came
    from (the ``apply_distinct_feed`` split): ``fold_minmax_join_view``
    rescans from the maintained view, the direct twin
    (``change_feed.lake_incremental_minmax_orders``) from the fact.
    ``rescan_source()`` returns the source's current rows; it is called
    only when some group needs a rescan, so an insert-only fold reads no
    source at all. ``meta`` lands on the commit.

    Scale: one feed-sized shuffle computes per-group insert bounds +
    removal bounds + the signed count; the stored join touches only
    changed groups (right-outer, AQE broadcasts the delta side). The
    rescan arm then reads ONLY min/max-endangered groups — the group list
    is pushed as an IN filter into the source scan when small, so a
    source laid out CLUSTER BY the group column reads only affected
    files."""
    from pgcp_spark.operators._decimal import dec

    post = F.col("_change_type").isin("insert", "update_postimage")
    pre = F.col("_change_type").isin("delete", "update_preimage")
    val = dec(value_col, "decimal(18,2)")
    deltas = (
        feed.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.min(F.when(post, val)).alias("ins_min"),
            F.max(F.when(post, val)).alias("ins_max"),
            F.min(F.when(pre, val)).alias("rm_min"),
            F.max(F.when(pre, val)).alias("rm_max"),
            F.sum(F.when(post, 1).otherwise(-1)).alias("d_cnt"),
        )
    )
    stored = read_current(spark, agg_dir)
    touched, rescan = minmax_rescan_groups(stored, deltas, group_col)
    folded = touched.select(
        group_col,
        rescan.alias("_rescan"),
        # least/greatest skip NULLs: a new group (stored NULL) takes the
        # insert bound; an insert-free fold keeps the stored bound
        F.least(F.col("min_dec"), F.col("ins_min")).alias("min_dec"),
        F.greatest(F.col("max_dec"), F.col("ins_max")).alias("max_dec"),
        (F.coalesce(F.col("order_cnt"), F.lit(0)) + F.col("d_cnt")).alias(
            "order_cnt"
        ),
    )
    folded = materialize(folded)  # consumed by the rescan probe + upsert
    rescan_keys = folded.filter(F.col("_rescan")).select(group_col)
    # ONE bounded probe job decides emptiness AND delivers the pushed-IN
    # list (r13 wave 5, guide §1.2) — replacing the isEmpty job + the
    # separate _pruned_by_keys collect the r12 shape paid
    rescan_vals = _collected_keys(rescan_keys)
    if rescan_vals is not None and not rescan_vals:
        out = folded.drop("_rescan")
    else:
        # pruned to the endangered groups: pushed-IN reaches the parquet
        # footers when the list is small; beyond the bound (rescan_vals
        # None) the semi-join keeps correctness
        source = rescan_source()
        if rescan_vals is not None:
            source = source.filter(F.col(group_col).isin(rescan_vals))
        else:
            source = source.join(rescan_keys, on=group_col, how="left_semi")
        rescanned = build_minmax_over(source, group_col, value_col).select(
            group_col,
            F.col("min_dec").alias("r_min"),
            F.col("max_dec").alias("r_max"),
        )
        out = (
            folded.join(rescanned, on=group_col, how="left")
            .select(
                group_col,
                F.when(F.col("_rescan"), F.col("r_min"))
                .otherwise(F.col("min_dec"))
                .alias("min_dec"),
                F.when(F.col("_rescan"), F.col("r_max"))
                .otherwise(F.col("max_dec"))
                .alias("max_dec"),
                "order_cnt",
            )
        )
    upsert(
        spark,
        agg_dir,
        out,
        key=[group_col],
        meta=meta,
    )


MINMAX_SPEC = ViewSpec(
    tables=("agg",),
    _build=lambda s, view: (build_minmax_over(view, GROUP_COL, s.value_col),),
    _fold=lambda spark, s, d: fold_minmax_join_view(
        spark, d["agg"], d["view"], VIEW_KEY, GROUP_COL, s.value_col
    ),
    _serve=lambda s, stored: serve_minmax(stored, GROUP_COL).orderBy(GROUP_COL),
)


_MINMAX_JOIN_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) * 2
    FROM orders WHERE o_orderkey % 5 = 0
),
postdim AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '_R'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
)
SELECT d.c_mktsegment,
       CAST(MIN(f.p) AS DOUBLE) AS min_total,
       CAST(MAX(f.p) AS DOUBLE) AS max_total,
       COUNT(*) AS order_cnt
FROM postfact f JOIN postdim d ON f.o_custkey = d.c_custkey
WHERE d.c_mktsegment IS NOT NULL
GROUP BY d.c_mktsegment
ORDER BY d.c_mktsegment
"""


@register(
    "lake_incremental_minmax_join_view_orders",
    oracle=_MINMAX_JOIN_VIEW_ORACLE,
    doc=(
        "cascade IVM for MIN/MAX — the non-signed dashboard half: a per-segment "
        "min/max/count maintained OVER the maintained orders ⋈ customer view; "
        "inserts fold via least/greatest, and a removal rescans ONLY the groups "
        "where it tied the stored bound — through the maintained view with "
        "pushed-IN pruning, never the base tables; exactly-once via the same "
        "stamped view-state watermark as the signed fold; oracle recomputes "
        "min/max from both post states, so a hash match proves fold+selective-"
        "rescan == recompute"
    ),
)
def lake_incremental_minmax_join_view_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end MIN/MAX cascade cycle on driver-checkable data: the
    standard fact/dim/view scenario (base fact = orders %3≠0; dim segment
    renamed for every 10th customer; fact CDC doubling every 5th key and
    deleting every non-5th 7th), with a per-``c_mktsegment`` MIN/MAX
    aggregate maintained purely from the cascade. The CDC exercises both
    fold arms: the doubling's postimages RAISE maxima through the
    least/greatest fold, while its preimages and the deletes remove
    values that tie segment minima/maxima — those groups (and only
    those) rescan through the view."""
    return _join_view_cycle(spark, sf_dir, MINMAX_SPEC, flatten=True)


_AGG_JOIN_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) * 2
    FROM orders WHERE o_orderkey % 5 = 0
),
postdim AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '_R'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
)
SELECT d.c_mktsegment,
       CAST(SUM(f.p) AS DOUBLE) AS sum_mktsegment_total,
       COUNT(*) AS order_cnt
FROM postfact f JOIN postdim d ON f.o_custkey = d.c_custkey
WHERE d.c_mktsegment IS NOT NULL
GROUP BY d.c_mktsegment
ORDER BY d.c_mktsegment
"""
# the NOT NULL mirrors build_agg_over's contract: a NULL group key can
# never match itself through the keyed upsert's anti-join (ANSI), so the
# maintained aggregate keys on real dimension values only (the
# _run_incremental_agg rule; caught by the nulls edge lake)



@register(
    "lake_incremental_agg_join_view_orders",
    oracle=_AGG_JOIN_VIEW_ORACLE,
    doc=(
        "cascade IVM: a per-segment aggregate maintained OVER the maintained "
        "orders ⋈ customer view — the join fold's merge-on-read deltas, read "
        "back as the view's pending change feed, drive the signed aggregate "
        "fold (post adds, pre subtracts), so a dim update MOVES its orders "
        "between segment groups without rescanning fact, dim, or view; the "
        "fold stamps the consumed view state into its own atomic commit "
        "(exactly-once across replays); oracle recomputes the aggregated join "
        "from both post states, so a hash match proves cascade == recompute"
    ),
)
def lake_incremental_agg_join_view_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end cascade cycle on driver-checkable data: the same
    fact/dim/view scenario as ``lake_incremental_join_view_orders``
    (base fact = orders %3≠0; dim segment renamed for every 10th
    customer; fact CDC doubling every 5th key and deleting every
    non-5th 7th), PLUS a per-``c_mktsegment`` aggregate built over the
    initial view and maintained purely from the cascade: base feeds →
    join fold (MOR deltas on the view) → ``pending_changes`` feed →
    signed aggregate fold → flatten. The dim's segment rename is the
    shape a fact-feed-only consumer cannot see — the moved orders'
    totals must LEAVE the old segment group and ENTER the '_R' one, and
    only the view feed's pre/post pairs carry that."""
    return _join_view_cycle(spark, sf_dir, AGG_SPEC, flatten=True)


@register(
    "lake_join_view_from_pending_feeds",
    oracle=_JOIN_VIEW_ORACLE,
    doc=(
        "the join-view IVM fold driven by MERGE-ON-READ base feeds: both base "
        "tables mutate as un-flattened deltas (merge_cdc_delta / append_delta) "
        "and the fold consumes pending_changes instead of the snapshot diff — "
        "same oracle as lake_incremental_join_view_orders, proving the MOR CDC "
        "feed plugs into the same fold unchanged"
    ),
)
def lake_join_view_from_pending_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``lake_incremental_join_view_orders`` scenario with every base
    mutation landing MERGE-ON-READ: the dim's segment rename is an
    ``append_delta`` (newest-wins), the fact CDC batch a
    ``merge_cdc_delta`` (one delta of data rows and tombstones) — neither
    base snapshot is rewritten — and the fold's feeds come from
    ``pending_changes``, the CDC view between compactions. SCALE.md r10 claimed the MOR feed
    "plugs into the same fold unchanged"; this is that claim as a driver
    row. ``dim_current`` resolves merge-on-read too, so the fact arm
    rebuilds against the post dim state the deltas imply."""
    return _join_view_cycle(spark, sf_dir, mor=True)


# --- exact COUNT DISTINCT in the cascade fold (round 13) --------------------
# The third classic aggregate shape. The signed fold covers sum/count/avg
# (distributive); MIN/MAX folds inserts and selectively rescans deletes;
# COUNT(DISTINCT v) is different again — neither an insert NOR a delete
# can fold against the count alone (did the inserted value already exist?
# did the delete remove the LAST holder?). The standard IVM treatment
# (Gupta & Mumick's summary-delta method; Palpanas et al. VLDB'02 keep
# exactly this auxiliary for duplicate-sensitive aggregates) maintains a
# SUPPORT table of per-(group, value) multiplicities: the support folds
# with the plain signed rule (distributive again — the non-distributive
# aggregate is a distributive one over richer state), and the distinct
# count changes ONLY on multiplicity transitions 0→present (+1) and
# present→0 (−1), which the fold observes for free in the old-vs-new
# support join. No rescan arm at all — deletes are exact from evidence
# the support already carries, unlike MIN/MAX. Cost: support storage is
# O(distinct (group, value) pairs) — cheap for dashboard-shaped values
# (statuses, priorities, user ids per day), and stated honestly: for a
# near-unique value column the support approaches the view size and a
# sketch (the HLL rollup in functions/sketches.py) is the right tool.
#
# Crash protocol (two stored tables, two commits per fold): the SUPPORT
# is authoritative — the agg is a pure function of it. A crash between
# the two commits leaves their watermarks different (agg behind, or
# ahead since the commits overlap — see ``apply_distinct_feed``); the next
# fold detects that and REBUILDS the agg from the support at the
# support's watermark (O(support), convergent: the support alone is
# complete evidence), then folds whatever view diff remains — the same
# "converge, don't refuse" shape as the CDC-BM25 fold's crash window. The
# support's watermark is the fold's (``lake.unapplied_changes``): a replay
# skips, and a missing or GC'd one REFUSES exactly like the signed fold
# (the support fold is signed too, and double-counting multiplicities
# corrupts transitions silently). An agg whose watermark a metaless commit
# cleared differs from the support's, so it is rebuilt the same way.


def build_distinct_support(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The support table's schema over any view-shaped frame: per-(group,
    value) multiplicity, NULL groups and NULL values excluded (COUNT
    DISTINCT ignores NULL values; NULL keys can't ride the keyed upsert).
    Shared by the initial build, the crash-repair rebuild, and the tests'
    recompute oracle."""
    return (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def build_distinct_over(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The stored aggregate's schema over any view-shaped frame:
    (group, exact distinct count of non-NULL values). Groups whose every
    value is NULL have no support rows and no aggregate row — the serving
    contract drops them (see ``serve_distinct``)."""
    return (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count_distinct(F.col(value_col)).alias("distinct_cnt"))
    )


def distinct_agg_from_support(support: DataFrame, group_col: str) -> DataFrame:
    """The aggregate as a pure function of the support — the rebuild path
    (crash repair) and the tests' support-vs-agg consistency pin. A
    support row with cnt ≤ 0 is retained evidence of a vanished pair and
    counts nothing."""
    return (
        support.filter(F.col("cnt") > 0)
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("distinct_cnt"))
    )


def serve_distinct(stored: DataFrame, group_col: str) -> DataFrame:
    """The serving projection over any stored distinct-count frame:
    groups folded down to zero distinct values drop out (their row is
    retained evidence, like the signed fold's order_cnt=0 groups).
    Factored for manifest-pinned group reads (the ``serve_agg``
    discipline)."""
    return stored.filter(F.col("distinct_cnt") > 0).select(
        group_col, "distinct_cnt"
    )


def read_distinct_agg(
    spark: SparkSession, agg_dir: str, group_col: str
) -> DataFrame:
    """Serve the stored distinct-count aggregate from its lake table."""
    return serve_distinct(read_current(spark, agg_dir), group_col)


def fold_distinct_join_view(
    spark: SparkSession,
    support_dir: str,
    agg_dir: str,
    view_dir: str,
    view_key: list[str],
    group_col: str,
    value_col: str,
) -> bool:
    """Fold the view's changes since the last fold into the stored
    support table and distinct-count aggregate: the ``applied_view_state``
    watermark protocol (``lake.unapplied_changes``) held on the support,
    the two-table crash repair (section comment), and the core
    ``apply_distinct_feed``. The view and base tables are NEVER read —
    deletes are exact from the support's own evidence (no rescan arm,
    unlike MIN/MAX)."""
    got = unapplied_changes(
        spark, view_dir, support_dir, view_key, "applied_view_state"
    )
    # crash repair: the agg's stamp differs from the support's → rebuild
    # the agg from the support AT the support's stamp. When that stamp is
    # the current state (``got`` None) the repair is the whole fold; else
    # fall through and fold the remaining view diff normally.
    stamp = snapshot_meta(support_dir)
    if snapshot_meta(agg_dir) != stamp:
        write_snapshot(
            distinct_agg_from_support(
                read_current_with_deltas(
                    spark, support_dir, key=[group_col, value_col]
                ),
                group_col,
            ),
            agg_dir,
            meta=stamp,
        )
        if got is None:
            return True
    if got is None or got[1].isEmpty():
        return False
    state, feed = got
    apply_distinct_feed(
        spark, support_dir, agg_dir, feed, group_col, value_col,
        meta={"applied_view_state": state},
    )
    return True


def apply_distinct_feed(
    spark: SparkSession,
    support_dir: str,
    agg_dir: str,
    feed: DataFrame,
    group_col: str,
    value_col: str,
    meta: dict | None = None,
) -> None:
    """The COUNT DISTINCT fold's core, independent of where the change
    feed came from — the cascade fold above drives it from a maintained
    view's ``state_changes``; the direct twin
    (``lake_incremental_distinct_orders``) from the fact's snapshot
    diff; a streaming loop from its per-batch CDC apply. ``meta`` lands
    on BOTH commits (see the crash protocol in the section comment).

    Scale: one feed-sized shuffle computes the per-(group, value) signed
    multiplicity deltas; the support join touches only changed pairs
    (right-outer, AQE broadcasts the delta side) with the batch's groups
    pushed IN to the support scan (CLUSTER BY ``group_col`` lays support
    out for it); the transition sum is one delta-sized shuffle; the agg
    upsert carries untouched groups over."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = (
        feed.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(group_col, value_col)
        .agg(F.sum(sign).alias("d_cnt"))
        .filter(F.col("d_cnt") != 0)
    )
    deltas = materialize(deltas)
    if deltas.isEmpty():
        # the batch touched only NULLs or netted to zero per pair —
        # nothing can transition; advance both watermarks with a
        # no-row-change commit each (cheap: both tables are small).
        # Independent tables — overlapped (§2.6; crash-order argument at
        # the data commits below applies a fortiori to no-op commits)
        overlap(
            lambda: upsert(
                spark, support_dir,
                read_current_with_deltas(
                    spark, support_dir, key=[group_col, value_col]
                ).limit(0),
                key=[group_col, value_col],
                meta=meta,
            ),
            lambda: upsert(
                spark, agg_dir,
                read_current(spark, agg_dir).limit(0),
                key=[group_col],
                meta=meta,
            ),
        )
        return
    support = _pruned_by_keys(
        read_current_with_deltas(spark, support_dir, key=[group_col, value_col]),
        group_col,
        deltas.select(group_col).distinct(),
    )
    touched = support.join(deltas, [group_col, value_col], "right_outer").select(
        group_col,
        value_col,
        F.coalesce(F.col("cnt"), F.lit(0)).alias("old_cnt"),
        (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("d_cnt")).alias("cnt"),
    )
    touched = materialize(touched)  # old-vs-new read once, consumed twice
    appeared = (F.col("old_cnt") <= 0) & (F.col("cnt") > 0)
    vanished = (F.col("old_cnt") > 0) & (F.col("cnt") <= 0)
    d_distinct = (
        touched.groupBy(group_col)
        .agg(
            F.sum(
                F.when(appeared, 1).when(vanished, -1).otherwise(0)
            ).alias("d_distinct")
        )
        .filter(F.col("d_distinct") != 0)
    )
    # d_distinct has exactly ONE consumer (the agg rollup's commit below)
    # and derives from the checkpointed `touched`, so it needs no
    # materialize of its own (r13 wave 5 — the checkpoint was a pure
    # extra job)
    # The two commits run CONCURRENTLY (r14, guide §2.6): both derive
    # from the checkpointed `touched` plus their OWN stored table —
    # neither reads the other's — so they are data-independent and only
    # their crash order mattered. The r13 shape serialized support-first
    # so a crash left agg-behind (repairable by rebuilding the agg from
    # the support); overlapped, a crash can also leave agg-AHEAD, and
    # the fold's crash repair covers it: whenever the two stamps differ
    # the support stays authoritative — the agg is rebuilt from it at the
    # support's watermark and the residual diff re-folds, which converges
    # whether the agg was behind or ahead (the rebuild overwrites
    # either). The agg rollup derives from the PRE-upsert support: under
    # a non-checkpointing materialization mode (plans.materialize.
    # plan_only — the width audit; mode 'none') or a task retry spanning
    # this commit, its lineage re-reads the old snapshot, which the
    # lake's reader grace keeps
    stored_agg = read_current(spark, agg_dir)
    folded = stored_agg.join(d_distinct, group_col, "right_outer").select(
        group_col,
        (F.coalesce(F.col("distinct_cnt"), F.lit(0)) + F.col("d_distinct")).alias(
            "distinct_cnt"
        ),
    )
    overlap(
        lambda: upsert(
            spark,
            support_dir,
            touched.drop("old_cnt"),
            key=[group_col, value_col],
            cluster_by=[group_col],
            meta=meta,
        ),
        lambda: upsert(
            spark,
            agg_dir,
            folded,
            key=[group_col],
            meta=meta,
        ),
    )


DISTINCT_SPEC = ViewSpec(
    tables=("support", "agg"),  # support commits first (crash protocol)
    _build=lambda s, view: (
        build_distinct_support(view, GROUP_COL, s.value_col),
        build_distinct_over(view, GROUP_COL, s.value_col),
    ),
    _fold=lambda spark, s, d: fold_distinct_join_view(
        spark, d["support"], d["agg"], d["view"], VIEW_KEY,
        GROUP_COL, s.value_col,
    ),
    _serve=lambda s, stored: serve_distinct(stored, GROUP_COL).orderBy(GROUP_COL),
    clustered=("support",),
    value_col="c_name",
)


_DISTINCT_JOIN_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, 'X-RECLASS' FROM orders WHERE o_orderkey % 5 = 0
),
postdim AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '_R'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
)
SELECT d.c_mktsegment, COUNT(DISTINCT f.o_orderpriority) AS distinct_cnt
FROM postfact f JOIN postdim d ON f.o_custkey = d.c_custkey
WHERE d.c_mktsegment IS NOT NULL AND f.o_orderpriority IS NOT NULL
GROUP BY d.c_mktsegment
ORDER BY d.c_mktsegment
"""


@register(
    "lake_incremental_distinct_join_view_orders",
    oracle=_DISTINCT_JOIN_VIEW_ORACLE,
    doc=(
        "cascade IVM for exact COUNT DISTINCT — the third classic aggregate "
        "shape: per-segment distinct order priorities maintained OVER the "
        "maintained orders JOIN customer view via a per-(group, value) "
        "multiplicity SUPPORT table; the support folds with the signed rule "
        "and the count changes only on 0-to-present / present-to-0 "
        "transitions — deletes are exact from the support's own evidence, no "
        "rescan arm, view and bases never read; exactly-once via the same "
        "stamped view-state watermark on both stored tables; oracle "
        "recomputes the distinct counts from both post states"
    ),
)
def lake_incremental_distinct_join_view_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end COUNT DISTINCT cascade cycle on driver-checkable data:
    the standard fact/dim/view scenario with the CDC reclassifying every
    5th order's priority to 'X-RECLASS' (a NEW distinct value appears in
    every touched segment, and the preimage priorities lose multiplicity
    — some pairs transition to zero), deleting every non-5th 7th, and
    renaming every 10th customer's segment (whole groups appear and lose
    members). The aggregate is maintained purely from the cascade; the
    driver hash proves fold == recompute."""
    return _join_view_cycle(
        spark, sf_dir, replace(DISTINCT_SPEC, value_col="o_orderpriority")
    )


# --- per-group TOP-K in the cascade fold (round 13) -------------------------
# MIN/MAX generalized: k best rows per group (the serving-layer
# "top sellers per segment" shape; min/max is k=1 over one column). The
# same insert/delete split applies, with one structural improvement the
# richer stored state buys: membership is decided BY KEY, so the delete
# rule is EXACT, not conservative — the stored set is the k best rows,
# and removing a row that is NOT one of them can never change which k
# are best; only a removal whose (group, key) IS a stored member (or
# one against a group the store has no evidence for — drift) forces a
# rescan, because the successor row is exactly what the store does not
# carry. Inserts fold by merge-and-rerank: stored ∪ batch-post rows →
# rank → keep k, a feed+k-sized window over touched groups only.
# Storage is k rows per group; the keyed upsert on [group] replaces a
# touched group's whole set in one commit (kept = anti-join on group).


def build_topk_over(
    df: DataFrame, group_col: str, key_col: str, value_col: str, k: int
) -> DataFrame:
    """The stored top-k set over any view-shaped frame: the ``k``
    highest-``value_col`` rows per group, ties broken by ``key_col``
    ascending (deterministic, and the same ORDER BY the oracle uses).
    NULL groups/keys are excluded (keyed-upsert contract); NULL values
    sort last and only appear when a group has fewer than k non-NULL
    rows. Shared by the initial build, the rescan arm, and the tests'
    recompute oracle. Stored WITHOUT ranks — a rank is derivable and
    storing it would force rewrites on every membership change."""
    from pyspark.sql import Window

    from pgcp_spark.operators._decimal import dec

    w = Window.partitionBy(group_col).orderBy(
        F.col("_v").desc_nulls_last(), F.col(key_col)
    )
    return (
        df.filter(F.col(group_col).isNotNull() & F.col(key_col).isNotNull())
        .select(group_col, key_col, dec(value_col, "decimal(18,2)").alias("_v"))
        .withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .select(group_col, key_col, F.col("_v").alias("topv"))
    )


def serve_topk(stored: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """The serving projection: ranks recomputed over the stored k-row
    sets (a window over ≤k-row partitions — no wide or single-partition
    exchange), values cast to double for the driver hash."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col("topv").desc_nulls_last(), F.col(key_col)
    )
    return stored.select(
        group_col,
        key_col,
        F.col("topv").cast("double").alias("total"),
        F.row_number().over(w).alias("rnk"),
    )


def topk_rescan_groups(stored: DataFrame, pre_rows: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """The rescan decision, factored for the pin in tests: the groups
    needing a rescan are EXACTLY those with a removal hitting a stored
    member (left-semi on (group, key)) plus — defensively — removals
    against groups the store carries no rows for (the fold cannot prove
    anything about a group it has no evidence for)."""
    hits = pre_rows.join(
        stored.select(group_col, key_col), [group_col, key_col], "left_semi"
    ).select(group_col)
    orphans = pre_rows.select(group_col).join(
        stored.select(group_col).distinct(), [group_col], "left_anti"
    )
    return hits.unionByName(orphans).distinct()


def fold_topk_join_view(
    spark: SparkSession,
    agg_dir: str,
    view_dir: str,
    view_key: list[str],
    group_col: str,
    key_col: str,
    value_col: str,
    k: int,
) -> bool:
    """Fold the view's changes since the last fold into the stored
    per-group top-k sets. Watermark discipline is the family's
    (``lake.unapplied_changes`` on ``applied_view_state``: replay skip /
    missing-watermark refuse / GC'd-state refuse — the merge-and-rerank
    fold is not idempotent).

    Scale: the feed is batch-sized on the prefix path; the rescan
    decision is two feed-sized semi/anti joins against the (k x groups)-
    sized store; non-rescan groups re-rank (stored ∪ batch-post) — a
    window over (k + batch)-sized partitions of touched groups only; the
    rescan arm reads ONLY member-hit groups from the maintained view
    (pushed-IN + CLUSTER BY), never the bases. The delete rule is EXACT
    (see the section comment) — no conservative-under-duplicates term,
    unlike MIN/MAX."""
    from pyspark.sql import Window

    from pgcp_spark.operators._decimal import dec

    got = unapplied_changes(spark, view_dir, agg_dir, view_key, "applied_view_state")
    if got is None or got[1].isEmpty():
        return False
    state, feed = got
    post_rows = (
        feed.filter(
            F.col("_change_type").isin("insert", "update_postimage")
            & F.col(group_col).isNotNull()
            & F.col(key_col).isNotNull()
        )
        .select(group_col, key_col, dec(value_col, "decimal(18,2)").alias("topv"))
    )
    pre_rows = (
        feed.filter(
            F.col("_change_type").isin("delete", "update_preimage")
            & F.col(group_col).isNotNull()
            & F.col(key_col).isNotNull()
        )
        .select(group_col, key_col)
    )
    stored = read_current(spark, agg_dir)
    # TWO bounded probe jobs (r13 wave 5, guide §1.2) replace the r12
    # shape's two materialize checkpoints + isEmpty + pushed-IN collect:
    # the rescan / post group lists are group-cardinality-sized in any
    # dashboard-shaped fold, so they ride the _collected_keys bound and
    # every downstream selection becomes a literal IN (which also pushes
    # into the view/store parquet scans); lists beyond the bound fall
    # back to the distributed join path unchanged.
    rescan_frame = topk_rescan_groups(stored, pre_rows, group_col, key_col)
    rescan_vals = _collected_keys(rescan_frame)
    post_groups = post_rows.select(group_col).distinct()
    post_vals = _collected_keys(post_groups) if rescan_vals is not None else None
    if rescan_vals is None or post_vals is None:
        rescan_keys = materialize(rescan_frame)
        touched_groups = materialize(
            post_groups.unionByName(rescan_keys).distinct()
        )
        # non-rescan touched groups: merge-and-rerank, newest-wins on key
        merge_groups = touched_groups.join(rescan_keys, [group_col], "left_anti")
        stored_m = stored.join(merge_groups, [group_col], "left_semi")
        post_m = post_rows.join(merge_groups, [group_col], "left_semi")
        view_now = (
            read_current_with_deltas(spark, view_dir, key=view_key).join(
                rescan_keys, on=group_col, how="left_semi"
            )
            if not rescan_keys.isEmpty()
            else None
        )
        kept = stored.join(touched_groups, [group_col], "left_anti")
    else:
        rescan_set = set(rescan_vals)
        touched_vals = sorted(rescan_set | set(post_vals))
        merge_vals = [g for g in touched_vals if g not in rescan_set]
        stored_m = (
            stored.filter(F.col(group_col).isin(merge_vals))
            if merge_vals
            else stored.limit(0)
        )
        post_m = (
            post_rows.filter(F.col(group_col).isin(merge_vals))
            if merge_vals
            else post_rows.limit(0)
        )
        view_now = (
            read_current_with_deltas(spark, view_dir, key=view_key).filter(
                F.col(group_col).isin(rescan_vals)
            )
            if rescan_vals
            else None
        )
        # stored group keys are non-NULL by construction (build_topk_over
        # filters them), but keep NULL rows defensively — the anti-join
        # this replaces never dropped them
        kept = (
            stored.filter(
                F.col(group_col).isNull()
                | ~F.col(group_col).isin(touched_vals)
            )
            if touched_vals
            else stored
        )
    base_m = stored_m.join(
        post_m.select(group_col, key_col), [group_col, key_col], "left_anti"
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("topv").desc_nulls_last(), F.col(key_col)
    )
    merged = (
        base_m.unionByName(post_m)
        .withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= k)
        .drop("_rnk")
    )
    out = merged
    if view_now is not None:
        rescanned = build_topk_over(view_now, group_col, key_col, value_col, k)
        out = merged.unionByName(rescanned)
    # per-group SET replacement as ONE explicit copy-on-write commit:
    # drop every touched group's old rows, land its new <=k rows (a
    # group whose replacement set is EMPTY — all members deleted,
    # nothing re-inserted — simply contributes no rows), carry every
    # untouched group over. The agg table is (k x groups)-sized, so the
    # rewrite is the same cost class as the keyed upsert (itself a full
    # COW merge) while expressing row REMOVAL, which a keyed upsert
    # cannot. The replacement derives from the pre-commit store, which
    # the lake's reader grace keeps for a re-reading lineage (the
    # plan-only/task-retry case of the distinct fold's support commit).
    write_snapshot(
        kept.unionByName(out),
        agg_dir,
        cluster_by=[group_col],
        meta={"applied_view_state": state},
    )
    return True


TOPK_K = 3  # the served top-k depth (the oracle's rnk <= 3)

TOPK_SPEC = ViewSpec(
    tables=("agg",),
    _build=lambda s, view: (
        build_topk_over(view, GROUP_COL, VIEW_KEY[0], s.value_col, TOPK_K),
    ),
    _fold=lambda spark, s, d: fold_topk_join_view(
        spark, d["agg"], d["view"], VIEW_KEY,
        GROUP_COL, VIEW_KEY[0], s.value_col, TOPK_K,
    ),
    _serve=lambda s, stored: serve_topk(stored, GROUP_COL, VIEW_KEY[0]).orderBy(
        GROUP_COL, "rnk"
    ),
    clustered=("agg",),
)


_TOPK_JOIN_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) * 2
    FROM orders WHERE o_orderkey % 5 = 0
),
postdim AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment || '_R'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
),
joined AS (
    SELECT d.c_mktsegment, f.o_orderkey, f.p
    FROM postfact f JOIN postdim d ON f.o_custkey = d.c_custkey
    WHERE d.c_mktsegment IS NOT NULL AND f.o_orderkey IS NOT NULL
)
SELECT c_mktsegment, o_orderkey, CAST(p AS DOUBLE) AS total,
       CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT c_mktsegment, o_orderkey, p,
           ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment ORDER BY p DESC, o_orderkey
           ) AS rnk
    FROM joined
)
WHERE rnk <= 3
ORDER BY c_mktsegment, rnk
"""


@register(
    "lake_incremental_topk_join_view_orders",
    oracle=_TOPK_JOIN_VIEW_ORACLE,
    doc=(
        "cascade IVM for per-group TOP-K — MIN/MAX generalized: the 3 "
        "highest-value orders per segment maintained OVER the maintained "
        "orders JOIN customer view; inserts fold by merge-and-rerank over "
        "(stored set ∪ batch rows), and the delete rule is EXACT — only a "
        "removal whose key IS a stored member rescans, and only its group, "
        "through the view with pushed-IN pruning; exactly-once via the same "
        "stamped view-state watermark; oracle recomputes the ranked top-3 "
        "from both post states"
    ),
)
def lake_incremental_topk_join_view_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end TOP-K cascade cycle on driver-checkable data: the
    standard fact/dim/view scenario (doubling every 5th key promotes
    rows INTO segment top-3s through the merge-and-rerank fold; deleting
    every non-5th 7th evicts stored members — exactly those groups
    rescan; renaming every 10th customer's segment moves rows between
    groups, driving both arms at once). The served ranking is the
    FOLD's, never a recompute; the driver hash proves fold == recompute."""
    return _join_view_cycle(spark, sf_dir, TOPK_SPEC)
